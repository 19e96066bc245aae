"""Bucket-partitioned CDC state with manifest-tracked versions: the
100 TB path for continuous upsert.

``upsert.apply_changes_batch`` rewrites the whole state every batch —
correct, but O(state) writes. Here state is hash-bucketed by key
(``pmod(xxhash64(keys), n_buckets)``) and each micro-batch rewrites ONLY
the buckets its keys touch: O(touched buckets), not O(state). A JSON
manifest maps bucket -> the epoch that last rewrote it, and each epoch
commits by the protocol stated in ``commit.py``. This is the minimal
table-format idea (Iceberg/Delta manifests) expressed with plain
parquet + JSON, since this environment has no table-format jars.

Layout:
    state_dir/
      v{epoch}/__bucket={b}/*.parquet -- touched buckets of that epoch
      stats_v{epoch}.json             -- row counts of those buckets
      manifest_v{epoch}.json          -- {"bucket": epoch_that_wrote_it}
      _LATEST                         -- name of the committed manifest

Scale notes: n_buckets is the rewrite granularity knob — size buckets
so one bucket's rows fit an executor's memory (e.g. 100 TB / 4 GB ≈ 25k
buckets). Bucket routing reuses the same hash for every batch, so a
merge is per-bucket local: the current state is read only for touched
buckets (parquet dirs are bucket-aligned), and the batch plus those
buckets go through ONE shuffle on the bucket id, which serves both the
fold's window and the one-file-per-bucket write.

Per-call cost is a fixed number of Spark jobs, whatever the batch size:
the touched-bucket collect (skipped when the caller passes ``touched``)
and the write. The input batch is evaluated once (a lineage cut feeds
both), bucket row counts come from the footers of the files just written,
and reads take the schema from parquet footers instead of an inference
job (``_read_buckets``).
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from ..lineage import cut
from .commit import atomic_write, commit_pointer, read_pointer
from .upsert import _visible

BUCKET_COL = "__bucket"

#: footer key under which Spark's parquet writer stores the row schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _bucket(keys: list[str], n_buckets: int):
    return F.pmod(F.xxhash64(*keys), F.lit(n_buckets)).cast("int")


def _parquet_files(bucket_dir: str) -> list[str]:
    """Data files of one bucket dir, skipping the hidden and ``_``-prefixed
    entries Spark's reader skips too."""
    return sorted(
        os.path.join(bucket_dir, f) for f in os.listdir(bucket_dir)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def _nullable(schema_json):
    """A schema's JSON form with every nullability flag set: file reads
    make every column nullable anyway, so epochs that differ only there
    (a first write from a non-null source) read the same."""
    if isinstance(schema_json, dict):
        return {
            k: True if k in ("nullable", "containsNull", "valueContainsNull")
            else _nullable(v)
            for k, v in schema_json.items()
        }
    if isinstance(schema_json, list):
        return [_nullable(v) for v in schema_json]
    return schema_json


def _read_buckets(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Read bucket dirs (``state_dir/v{e}/__bucket={b}``) as one frame.

    Buckets live in DIFFERENT epochs, which can differ in schema after a
    mid-stream DDL widening; a plain read would pick one file's schema and
    silently drop the rest. Every epoch is one write with one schema, so
    one footer per distinct epoch tells: when all of them carry the same
    Spark row schema, it is passed to the reader and no inference job runs
    (a ``mergeSchema`` read starts a footer-reading job on every call).
    When they differ, or a footer lacks Spark's schema, the read falls
    back to ``mergeSchema``."""
    per_epoch: dict[str, str] = {}
    for p in paths:
        per_epoch.setdefault(os.path.dirname(os.path.normpath(p)), p)
    try:
        schemas = set()
        for p in per_epoch.values():
            raw = (pq.read_metadata(_parquet_files(p)[0]).metadata
                   or {}).get(_SPARK_SCHEMA_KEY)
            schemas.add(raw and json.dumps(_nullable(json.loads(raw)),
                                           sort_keys=True))
        if len(schemas) == 1 and None not in schemas:
            schema = T.StructType.fromJson(json.loads(schemas.pop()))
            return spark.read.schema(schema).parquet(*paths)
    except (OSError, IndexError, ValueError):
        pass  # unreadable or missing footer: let the inferring read decide
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def _bucket_paths(state_dir: str, manifest: dict[int, int]) -> list[str]:
    """The bucket dirs a bucket -> epoch mapping references."""
    return [
        os.path.join(state_dir, f"v{e}", f"{BUCKET_COL}={b}")
        for b, e in manifest.items()
    ]


def _written_parts(vdir: str, col: str = BUCKET_COL) -> set[int]:
    """The partition values a write under ``vdir`` produced: the ground
    truth for what an epoch may commit (the dynamic-partition write
    creates no dir for an empty partition)."""
    if not os.path.isdir(vdir):
        return set()
    return {
        int(d.split("=", 1)[1])
        for d in os.listdir(vdir) if d.startswith(f"{col}=")
    }


class ConcurrentCommitError(RuntimeError):
    """Two writers produced DIFFERENT manifests for the same epoch —
    split-brain (e.g. two drivers resumed from the same checkpoint).
    A crash-replay of the SAME batch is fine (same mapping, idempotent);
    a different bucket→epoch mapping under one epoch id means the
    histories diverged and continuing would silently lose one of them."""


def _manifest_dumps(manifest: dict) -> str:
    """Canonical manifest serialization: sorted keys, so the bytes are
    a pure function of the mapping — never of dict insertion order or
    ``os.listdir`` order (a crash-replayed compaction rebuilds the same
    mapping from directory listings whose order the filesystem does not
    guarantee)."""
    return json.dumps(
        {str(k): int(v) for k, v in manifest.items()}, sort_keys=True
    )


def _same_manifest(a: str, b: str) -> bool:
    """Split-brain equality on the PARSED mapping, not raw bytes: a
    legitimate replay must pass even against a manifest serialized by
    an older writer with a different key order."""
    try:
        return json.loads(a) == json.loads(b)
    except ValueError:
        return a == b


def _manifest_name(epoch: int) -> str:
    return f"manifest_v{epoch}.json"


def _check_manifest(state_dir: str, epoch: int, content: str) -> None:
    """Split-brain guard: if this epoch's manifest already exists with a
    DIFFERENT mapping, refuse loudly (Delta/Iceberg solve the same race
    with conditional commits; on a plain filesystem, mapping equality of
    the deterministic manifest is the equivalent check — replays rebuild
    the same mapping by construction, divergent writers do not)."""
    try:
        with open(os.path.join(state_dir, _manifest_name(epoch))) as f:
            existing = f.read()
    except FileNotFoundError:
        return
    if not _same_manifest(existing, content):
        raise ConcurrentCommitError(
            f"epoch {epoch} already has a committed manifest with "
            f"different content in {state_dir} — concurrent writer "
            "detected; refusing to overwrite a diverged history"
        )


def _commit_manifest(state_dir: str, epoch: int, content: str) -> None:
    """The commit tail after data and stats: the epoch's manifest (guarded
    by ``_check_manifest``), then the pointer."""
    _check_manifest(state_dir, epoch, content)
    atomic_write(os.path.join(state_dir, _manifest_name(epoch)), content)
    commit_pointer(state_dir, _manifest_name(epoch))


def _load_manifest(state_dir: str, name: str) -> dict[int, int]:
    with open(os.path.join(state_dir, name)) as f:
        return {int(k): int(v) for k, v in json.load(f).items()}


def _read_manifest(state_dir: str) -> dict[int, int] | None:
    name = read_pointer(state_dir)
    return None if name is None else _load_manifest(state_dir, name)


def _committed_manifests(state_dir: str) -> list[int]:
    """Epochs of the committed manifests, ascending: those at or before
    the one the pointer names. A newer manifest is in flight (a writer
    between its manifest and pointer writes, or one that crashed there)
    and is neither read nor reclaimed."""
    name = read_pointer(state_dir)
    if name is None:
        return []
    prefix, suffix = "manifest_v", ".json"
    committed = int(name[len(prefix):-len(suffix)])
    return sorted(
        e for e in (
            int(n[len(prefix):-len(suffix)]) for n in os.listdir(state_dir)
            if n.startswith(prefix) and n.endswith(suffix)
        ) if e <= committed
    )


def _write_stats(state_dir: str, epoch: int, vdir: str) -> dict[int, int]:
    """Per-bucket PHYSICAL row counts (tombstones included) of the
    buckets written under ``epoch`` → ``stats_v{epoch}.json``, committed
    BEFORE the manifest (step 2 of the protocol in ``commit.py``).
    This is the table-format statistics idea (Iceberg/Delta manifests
    carry row counts): planning questions — total state size, bucket
    skew, when to grow ``n_buckets`` via ``compact_state`` — are
    answered from KB-scale JSON, never a state scan. The counts are the
    ``num_rows`` footer fields of the files this epoch just wrote: no
    Spark job, and no data page is read."""
    counts = {
        b: sum(
            pq.read_metadata(f).num_rows
            for f in _parquet_files(os.path.join(vdir, f"{BUCKET_COL}={b}"))
        )
        for b in _written_parts(vdir)
    }
    atomic_write(
        os.path.join(state_dir, f"stats_v{epoch}.json"),
        json.dumps({str(k): v for k, v in counts.items()}, sort_keys=True),
    )
    return counts


def pinned_bucket_count(
    meta_path: str,
    requested: int | None,
    n_keys,
    target: int = 1000,
    floor: int = 8,
) -> int:
    """Resolve a tier's bucket count against its persisted sidecar
    (round 13, r12 verdict #4 + ADVICE): the FIRST resolution derives
    ``max(floor, ceil(n_keys() / target))`` (``n_keys`` is a lazy
    callable — the bulk load sizes the tier; fixed bucket counts
    measured the lookup fold O(state) in the round-12 ANN probe) or
    takes an explicit ``requested``, and persists it at ``meta_path``;
    every later resolution returns the persisted value and RAISES on a
    disagreeing explicit ``requested`` — re-bucketing an existing tier
    is only legal through ``compact_state``'s guarded path (a silently
    different bucketing computes wrong bucket ids for targeted reads
    and corrupts state with no error)."""
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            persisted = int(json.load(fh)["n_buckets"])
        if requested is not None and requested != persisted:
            raise ValueError(
                f"n_buckets={requested} disagrees with the tier's "
                f"persisted bucketing {persisted} in {meta_path} — "
                "re-bucketing an existing tier is only legal via "
                "compact_state"
            )
        return persisted
    nb = requested if requested is not None else max(
        floor, -(-int(n_keys()) // target)
    )
    atomic_write(meta_path, json.dumps({"n_buckets": nb}))
    return nb


def bucket_row_counts(spark: SparkSession, state_dir: str) -> dict[int, int]:
    """Current per-bucket physical row counts, resolved manifest-style:
    bucket b's count comes from the stats file of the epoch that last
    wrote b. Falls back to counting a bucket's parquet directly when its
    epoch predates the stats feature (legacy states stay readable)."""
    manifest = _read_manifest(state_dir) or {}
    by_epoch: dict[int, list[int]] = {}
    for b, e in manifest.items():
        by_epoch.setdefault(e, []).append(b)
    out: dict[int, int] = {}
    for e, buckets in by_epoch.items():
        sp = os.path.join(state_dir, f"stats_v{e}.json")
        if os.path.exists(sp):
            with open(sp) as f:
                stats = {int(k): int(v) for k, v in json.load(f).items()}
        else:
            stats = {}
        for b in buckets:
            if b in stats:
                out[b] = stats[b]
            else:  # legacy epoch without stats: count that bucket once
                out[b] = spark.read.parquet(
                    *_bucket_paths(state_dir, {b: e})
                ).count()
    return out


def state_row_count(spark: SparkSession, state_dir: str) -> int:
    """Total physical rows in current state from manifest stats — the
    O(KB) answer to "how big is my state" that at 100 TB replaces a
    full scan."""
    return sum(bucket_row_counts(spark, state_dir).values())


def bucket_skew(spark: SparkSession, state_dir: str) -> dict:
    """Planning signal from stats alone: ``max/mean`` bucket-size ratio
    plus the extremes. A ratio far above ~2 says the bucketing is too
    coarse (or keys are skewed) — the operational trigger for
    ``compact_state`` with a larger ``n_buckets``."""
    counts = bucket_row_counts(spark, state_dir)
    if not counts:
        return {"buckets": 0, "rows": 0, "max": 0, "mean": 0.0, "ratio": 0.0}
    vals = list(counts.values())
    mean = sum(vals) / len(vals)
    return {
        "buckets": len(vals),
        "rows": sum(vals),
        "max": max(vals),
        "mean": mean,
        "ratio": (max(vals) / mean) if mean else 0.0,
    }


def apply_changes_partitioned(
    spark: SparkSession,
    batch: DataFrame,
    epoch: int,
    state_dir: str,
    keys: list[str],
    position: list[str],
    n_buckets: int = 16,
    touched: list[int] | None = None,
) -> None:
    """Merge one micro-batch, rewriting only touched buckets. Replaying
    a committed epoch is idempotent: the rewrite is deterministic and
    the manifest commit happens last.

    ``touched`` (optional): the batch's bucket ids, precomputed by a
    caller that already collected the batch's key set (the incremental
    ANN handler does, for its lookup-tier read) — skips the
    distinct-collect driver job. Contract: it must be EXACTLY the ids
    ``_bucket(keys, n_buckets)`` assigns to the batch; verified against
    the written partition directories after the write (a wrong list
    would otherwise commit manifest rows pointing at directories that
    were never written — silent data loss on the next read)."""
    manifest = _read_manifest(state_dir) or {}
    batch = batch.withColumn(BUCKET_COL, _bucket(keys, n_buckets))
    caller_touched = touched is not None
    if touched is None:
        # the collect and the write both need the batch: cut it (DISK_ONLY,
        # the wire-sized posture) so its upstream parse runs once, not twice
        batch = cut(batch, "local_disk")
        touched = sorted(
            r[BUCKET_COL]
            for r in batch.select(BUCKET_COL).distinct().collect()
        )
    else:
        touched = sorted(touched)
    # Split-brain check BEFORE any data write: the manifest this apply
    # WILL commit is already determined by (current manifest, touched,
    # epoch). If this epoch's manifest exists with different content, a
    # divergent writer got here first — refusing NOW protects its
    # committed bucket dirs from our overwrite; refusing only at commit
    # time would be too late. A replay of the same batch rebuilds the
    # same mapping and passes (idempotency preserved; comparison is on
    # the parsed mapping, serialization is canonical sort_keys). The
    # commit re-checks, in case a racer lands between here and there.
    new_manifest = _manifest_dumps({**manifest, **{b: epoch for b in touched}})
    _check_manifest(state_dir, epoch, new_manifest)
    current_paths = _bucket_paths(
        state_dir, {b: manifest[b] for b in touched if b in manifest}
    )
    merged = batch
    if current_paths:
        # allowMissingColumns: schema-widened batches (mid-stream DDL
        # ADD COLUMN) merge cleanly; old bucket rows surface NULL
        merged = _read_buckets(spark, current_paths).withColumn(
            BUCKET_COL, _bucket(keys, n_buckets)
        ).unionByName(batch, allowMissingColumns=True)
    # ONE shuffle, on the bucket id, serves both the fold and the write;
    # untouched buckets are never read or written. A key's bucket is a
    # function of the key, so a window over (bucket, keys) sees the same
    # groups as one over keys, and hash partitioning on the bucket already
    # satisfies its clustering: Catalyst plans no second exchange. Each
    # bucket lands wholly in one task and the window's sort keeps it
    # contiguous there, so the dynamic-partition write emits exactly one
    # file per touched bucket (clustered by key instead, every task would
    # hold rows of many buckets and write up to tasks x buckets files).
    # Tasks are capped at the default parallelism: a task per bucket
    # beyond the cores only adds scheduling.
    n_parts = max(1, min(len(touched),
                         spark.sparkContext.defaultParallelism))
    w = W.partitionBy(BUCKET_COL, *keys).orderBy(
        *[F.desc(p) for p in position]
    )
    folded = (
        merged.repartition(n_parts, F.col(BUCKET_COL))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    vdir = os.path.join(state_dir, f"v{epoch}")
    (
        folded.write.mode("overwrite")
        .partitionBy(BUCKET_COL)
        .parquet(vdir)
    )
    if caller_touched:
        # the precomputed list is only trusted after verification: every
        # touched bucket must have been physically written (the fold
        # keeps ≥1 row per key — tombstones are retained rows — so an
        # exact list always matches) and nothing outside it may exist
        written = _written_parts(vdir)
        if written != set(touched):
            raise ValueError(
                f"caller-provided touched buckets {sorted(touched)} do "
                f"not match written partition dirs {sorted(written)} in "
                f"{vdir} — refusing to commit a lying manifest"
            )
    # stats, manifest, pointer: the commit order of ``commit.py``
    _write_stats(state_dir, epoch, vdir)
    _commit_manifest(state_dir, epoch, new_manifest)


def read_state_partitioned(
    spark: SparkSession, state_dir: str,
    include_tombstones: bool = False, op_col: str = "__op",
) -> DataFrame | None:
    """Assemble current state from each bucket's latest version."""
    manifest = _read_manifest(state_dir)
    if not manifest:
        return None
    df = _read_buckets(spark, _bucket_paths(state_dir, manifest))
    return _visible(df, include_tombstones, op_col)


def read_state_partitioned_at(
    spark: SparkSession, state_dir: str, epoch: int,
    include_tombstones: bool = False, op_col: str = "__op",
) -> DataFrame | None:
    """Point-in-time read of the bucket-partitioned state: resolve the
    largest COMMITTED manifest <= ``epoch`` (a manifest counts only if
    it is, or precedes, the one the pointer names — a crash between
    manifest write and pointer update must stay invisible, mirroring
    upsert.list_versions) and assemble state from its bucket → epoch
    references. This is the manifest-pick analog of upsert's full-copy
    ``read_state_at``: at 100 TB the historical state is reachable
    through KB-scale manifests, never a second copy of the data.

    Raises ValueError when ``epoch`` predates the vacuum horizon —
    either every retained manifest is newer, or the resolved manifest
    references bucket dirs that vacuum already reclaimed ("that history
    was GC'd" must be loud, not an empty result). Returns None only
    when no manifest was ever committed."""
    manifests = _committed_manifests(state_dir)
    if not manifests:
        pointer = read_pointer(state_dir)
        if pointer is None:
            return None
        # the pointer exists but its manifest is gone: corrupted/hand-
        # pruned state — loud, never a silent empty read
        raise ValueError(
            f"{state_dir} has a commit pointer but no committed "
            f"manifest files (pointer: {pointer})"
        )
    eligible = [m for m in manifests if m <= epoch]
    if not eligible:
        raise ValueError(
            f"epoch {epoch} predates the vacuum horizon of {state_dir}; "
            f"oldest retained manifest is v{manifests[0]}"
        )
    paths = _bucket_paths(
        state_dir, _load_manifest(state_dir, _manifest_name(eligible[-1]))
    )
    missing = [p for p in paths if not os.path.isdir(p)]
    if missing:
        raise ValueError(
            f"state at epoch {epoch} is past the vacuum horizon: manifest "
            f"v{eligible[-1]} references reclaimed buckets "
            f"(e.g. {missing[0]})"
        )
    return _visible(_read_buckets(spark, paths), include_tombstones, op_col)


def start_partitioned_upsert_stream(
    changes: DataFrame,
    state_dir: str,
    keys: list[str],
    position: list[str],
    n_buckets: int = 16,
    checkpoint: str | None = None,
):
    """foreachBatch driver for the partitioned apply (I6 at scale)."""
    os.makedirs(state_dir, exist_ok=True)
    spark = changes.sparkSession

    def handle(batch: DataFrame, epoch: int) -> None:
        apply_changes_partitioned(
            spark, batch, epoch, state_dir, keys, position, n_buckets
        )

    writer = changes.writeStream.foreachBatch(handle).trigger(availableNow=True)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def vacuum_partitioned(state_dir: str, keep_last: int = 1) -> list[str]:
    """GC: drop epoch data not reachable from the last `keep_last`
    committed manifests. A bucket untouched for many epochs still points
    at an OLD epoch dir, so reachability is the union of bucket->epoch
    references in the kept manifests — never just "delete old v dirs"
    (that would tear live state). Time-travel reads older than the kept
    horizon stop working, by design. Nothing newer than the committed
    manifest is touched: that epoch is in flight. Returns removed
    paths."""
    import shutil

    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    manifests = _committed_manifests(state_dir)
    if not manifests:
        return []
    newest = manifests[-1]
    live: set[tuple[int, int]] = set()
    for e in manifests[-keep_last:]:
        live.update(_load_manifest(state_dir, _manifest_name(e)).items())
    removed = []
    for e in manifests[:-keep_last]:
        os.remove(os.path.join(state_dir, _manifest_name(e)))
        removed.append(_manifest_name(e))
    # stats files share v-dir liveness: keep stats_v{e} while any kept
    # manifest still references epoch e, reclaim otherwise
    live_epochs = {v for (_, v) in live}
    for entry in os.listdir(state_dir):
        if entry.startswith("stats_v") and entry.endswith(".json"):
            e = int(entry[len("stats_v"):-len(".json")])
            if e <= newest and e not in live_epochs:
                os.remove(os.path.join(state_dir, entry))
                removed.append(entry)
    for entry in os.listdir(state_dir):
        if not (entry.startswith("v") and entry[1:].isdigit()):
            continue
        epoch = int(entry[1:])
        if epoch > newest:
            continue
        vdir = os.path.join(state_dir, entry)
        for b in sorted(_written_parts(vdir)):
            if (b, epoch) not in live:
                bdir = f"{BUCKET_COL}={b}"
                shutil.rmtree(os.path.join(vdir, bdir))
                removed.append(os.path.join(entry, bdir))
        if not _written_parts(vdir):
            shutil.rmtree(vdir)
    return removed


def compact_state(
    spark: SparkSession,
    state_dir: str,
    epoch: int,
    keys: list[str],
    n_buckets: int,
    drop_tombstones: bool = False,
    op_col: str = "__op",
) -> dict | None:
    """Maintenance compaction: rewrite EVERY live bucket under one new
    epoch and commit, collapsing version sprawl (a long-running upsert
    stream leaves each bucket's file in whichever epoch last touched
    it, so reads fan out across many v-dirs and vacuum can reclaim
    nothing older than the most-scattered reference). After compaction
    the manifest points every bucket at ``epoch`` and
    ``vacuum_partitioned`` reclaims all prior epochs. O(state) by
    design — maintenance cadence, not per-batch; same atomic
    rename-commit as the apply path, so a crash mid-compaction leaves
    the old state fully live.

    ``drop_tombstones=True`` additionally drops delete markers. Only
    safe when upstream delivery is position-monotonic: a tombstone
    guards against an idempotent REPLAY of an older position
    resurrecting the key (the fold would pick the stale row if the
    newer delete is gone). Default keeps them.

    Returns {"buckets", "rows", "dropped_tombstones"} or None if no
    committed state exists."""
    manifest = _read_manifest(state_dir)
    if not manifest:
        return None
    # compaction must target a NEW epoch: writing into an epoch the
    # manifest still references would overwrite live bucket dirs WHILE
    # reading them. (A crashed compaction replays fine — its epoch was
    # never committed, so it's still > the committed epoch.)
    committed = max(manifest.values())
    if epoch <= committed:
        raise ValueError(
            f"compaction epoch {epoch} must exceed the newest committed "
            f"epoch {committed} (writing into a live epoch would "
            "overwrite bucket dirs the compaction is reading)"
        )
    df = _read_buckets(spark, _bucket_paths(state_dir, manifest)).withColumn(
        BUCKET_COL, _bucket(keys, n_buckets)
    )
    dropped = 0
    if drop_tombstones:
        dropped = df.filter(F.col(op_col) == "d").count()
        df = df.filter(F.col(op_col) != "d")
    # one file per bucket, full-width write parallelism
    vdir = os.path.join(state_dir, f"v{epoch}")
    (
        df.repartition(n_buckets, F.col(BUCKET_COL))
        .write.mode("overwrite")
        .partitionBy(BUCKET_COL)
        .parquet(vdir)
    )
    # The manifest MUST reflect the buckets ACTUALLY written, not the old
    # manifest's ids: (1) drop_tombstones can empty a bucket entirely —
    # no dir is written for it, and a stale manifest entry would make
    # every subsequent read raise path-not-found; (2) compacting with a
    # different n_buckets re-buckets rows into NEW ids — keeping the old
    # ids both points reads at missing dirs and silently orphans the
    # newly written buckets (data loss). The partition dirs of the epoch
    # just written (the buckets its stats count) are the ground truth.
    counts = _write_stats(state_dir, epoch, vdir)
    # canonical serialization (sort_keys): the buckets come from
    # os.listdir order here, so a crash-replay of this compaction must
    # not trip the split-brain guard on a mere key-order difference
    _commit_manifest(
        state_dir, epoch, _manifest_dumps({b: epoch for b in counts})
    )
    return {
        "buckets": len(counts),
        "rows": sum(counts.values()),
        "dropped_tombstones": dropped,
    }
