"""foreachBatch CDC apply: incremental MERGE-style upsert into a parquet
state table (SURVEY.md §2 I6 production path; the pyspark_guide "CDC /
SCD2 → emulate with anti-join + union" pattern — no Delta/Iceberg jars
in this environment).

Versioned-directory protocol: each micro-batch writes a full new state
version ``state_dir/v{epoch}`` (read-modify-write of parquet in place is
unsafe — Spark reads lazily), then commits it by the protocol in
``commit.py``. At 100 TB you would partition state by key range and
rewrite only partitions touched by the batch (or use a table format with
row-level MERGE); the operator shape — dedupe batch, anti-join current
state, union, write — is identical.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .commit import commit_pointer, read_pointer


def _latest_path(state_dir: str) -> str | None:
    v = read_pointer(state_dir)
    if v is None:
        return None
    p = os.path.join(state_dir, v)
    return p if os.path.exists(p) else None


def _visible(
    df: DataFrame, include_tombstones: bool, op_col: str
) -> DataFrame:
    """Tombstones (op 'd') stay in storage; readers drop them, and the op
    column with them, unless asked to keep them."""
    if include_tombstones:
        return df
    return df.filter(F.col(op_col) != "d").drop(op_col)


def read_state(
    spark: SparkSession, state_dir: str, include_tombstones: bool = False,
    op_col: str = "__op",
) -> DataFrame | None:
    """Current materialized state. Tombstones (op='d') are retained in
    storage so out-of-order batches cannot resurrect deleted keys with
    stale updates; consumers filter them out (default)."""
    p = _latest_path(state_dir)
    if not p:
        return None
    return _visible(spark.read.parquet(p), include_tombstones, op_col)


def list_versions(state_dir: str) -> list[int]:
    """Committed state epochs, ascending. A ``v{n}`` directory counts
    only if n <= the committed pointer — a crash between the version
    write and the pointer update leaves an orphan directory that must not
    be served (the protocol's commit point IS the pointer)."""
    name = read_pointer(state_dir)
    if name is None:
        return []
    committed = int(name.lstrip("v"))
    return sorted(
        int(n[1:]) for n in os.listdir(state_dir)
        if n.startswith("v") and n[1:].isdigit() and int(n[1:]) <= committed
    )


def read_state_at(
    spark: SparkSession, state_dir: str, epoch: int,
    include_tombstones: bool = False, op_col: str = "__op",
) -> DataFrame | None:
    """Point-in-time (time-travel) read: the materialized state as of
    micro-batch `epoch` — the largest committed version <= epoch. This is
    the CDC-consumer analog of a database point-in-time query: because
    every micro-batch commits an immutable version, any historical state
    remains queryable until versions are GC'd. At 100 TB, versions are
    per-partition manifests rather than full copies, but the read
    contract (resolve version <= t, scan it) is identical.

    Raises ValueError if `epoch` predates the vacuum horizon (committed
    versions exist but all are newer): "that history was GC'd" must be
    loud, not an empty result a consumer could mistake for "no state
    existed then". Returns None only when NO version is committed."""
    committed = list_versions(state_dir)
    versions = [v for v in committed if v <= epoch]
    if not versions:
        if committed:
            raise ValueError(
                f"epoch {epoch} predates the vacuum horizon of {state_dir}; "
                f"oldest retained version is v{committed[0]}"
            )
        return None
    df = spark.read.parquet(os.path.join(state_dir, f"v{versions[-1]}"))
    return _visible(df, include_tombstones, op_col)


def apply_changes_batch(
    spark: SparkSession,
    batch: DataFrame,
    epoch: int,
    state_dir: str,
    keys: list[str],
    position: list[str],
    op_col: str = "__op",
) -> None:
    """One micro-batch of the CDC apply: merge the batch into state by
    POSITION comparison — for each key, the row with the greatest
    position wins, whether it came from state or this batch. This makes
    the apply correct under out-of-order batch arrival (a batch carrying
    an older change never overwrites newer state), which a naive
    "batch replaces state" anti-join would get wrong. Tombstones stay in
    state (see read_state); GC them past a retention horizon at scale."""
    current = read_state(spark, state_dir, include_tombstones=True)
    # allowMissingColumns: a schema-WIDENED batch (mid-stream ALTER
    # TABLE ADD COLUMN replayed by the DDL history) merges cleanly —
    # pre-widening state rows surface NULL for the new column; a
    # narrower batch (producer behind the registry) gets NULL too.
    # Renames/drops are the schema registry's job upstream.
    merged = batch if current is None else current.unionByName(
        batch, allowMissingColumns=True
    )
    w = W.partitionBy(*keys).orderBy(*[F.desc(p) for p in position])
    new_state = (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    out = os.path.join(state_dir, f"v{epoch}")
    new_state.write.mode("overwrite").parquet(out)
    commit_pointer(state_dir, f"v{epoch}")


def start_upsert_stream(
    changes: DataFrame,
    state_dir: str,
    keys: list[str],
    position: list[str],
    op_col: str = "__op",
    checkpoint: str | None = None,
):
    """Continuous CDC apply via foreachBatch (exactly-once per epoch via
    the versioned write + checkpointed offsets)."""
    os.makedirs(state_dir, exist_ok=True)
    spark = changes.sparkSession

    def handle(batch: DataFrame, epoch: int) -> None:
        apply_changes_batch(
            spark, batch, epoch, state_dir, keys, position, op_col
        )

    writer = changes.writeStream.foreachBatch(handle).trigger(availableNow=True)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


# --- Streaming SCD2: incremental history maintenance ---------------------

def apply_scd2_batch(
    spark: SparkSession,
    batch: DataFrame,
    epoch: int,
    state_dir: str,
    keys: list[str],
    position: list[str],
    op_col: str = "__op",
) -> None:
    """One micro-batch of SCD2 history maintenance: rebuild validity
    intervals ONLY for keys touched by this batch — untouched keys'
    history rows pass through unchanged. Rebuilding from the stored
    change rows (the history row minus its interval columns IS the
    original change) makes the fold idempotent and correct under
    out-of-order batches: a late change re-opens its key's history and
    re-derives every interval. Per-batch cost ∝ touched keys' history,
    not table size."""
    from ..cdc.scd2 import scd2_history

    interval_cols = ["valid_from", "valid_to", "is_current"]
    current = read_state(spark, state_dir, include_tombstones=True)
    touched = batch.select(*keys).distinct()
    if current is None:
        new_hist = scd2_history(batch, keys, position, op_col)
    else:
        untouched = current.join(touched, keys, "left_anti")
        prior_changes = current.drop(*interval_cols).join(
            touched, keys, "left_semi"
        )
        rebuilt = scd2_history(
            prior_changes.unionByName(batch, allowMissingColumns=True),
            keys, position, op_col,
        )
        new_hist = untouched.unionByName(rebuilt, allowMissingColumns=True)
    out = os.path.join(state_dir, f"v{epoch}")
    new_hist.write.mode("overwrite").parquet(out)
    commit_pointer(state_dir, f"v{epoch}")


def start_scd2_stream(
    changes: DataFrame,
    state_dir: str,
    keys: list[str],
    position: list[str],
    op_col: str = "__op",
    checkpoint: str | None = None,
):
    """Continuous SCD2 maintenance via foreachBatch (same versioned-
    parquet state protocol as start_upsert_stream). Read the history
    with ``read_state(..., include_tombstones=True)`` — delete events
    are real versions (they close intervals), not storage artifacts."""
    os.makedirs(state_dir, exist_ok=True)
    spark = changes.sparkSession

    def handle(batch: DataFrame, epoch: int) -> None:
        apply_scd2_batch(spark, batch, epoch, state_dir, keys, position, op_col)

    writer = changes.writeStream.foreachBatch(handle).trigger(availableNow=True)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def vacuum_versions(state_dir: str, keep_last: int = 2) -> list[str]:
    """GC old committed state versions (each is a FULL copy here, unlike
    the partitioned layout's per-bucket refs — age-based retention is
    safe). Keeps the newest `keep_last` committed versions; time-travel
    (read_state_at) reaches only what's kept. Never touches versions
    newer than the committed pointer (in-flight writes). Returns removed
    dirs."""
    import shutil

    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    removed = []
    for v in list_versions(state_dir)[:-keep_last]:
        shutil.rmtree(os.path.join(state_dir, f"v{v}"))
        removed.append(f"v{v}")
    return removed
