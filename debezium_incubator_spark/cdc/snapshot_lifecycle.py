"""Signal-driven lifecycle control for the chunked incremental snapshot
(public Debezium: ``pause-snapshot`` / ``resume-snapshot`` /
``stop-snapshot`` signals act on an in-flight incremental snapshot;
the notification channel reports PAUSED / RESUMED / ABORTED alongside
the per-chunk progress events. Reconstructed per SURVEY.md §0 — the
archived checkout at /root/reference contains no source; semantics from
the public Debezium signaling + notification documentation).

``incremental_snapshot`` (incremental_snapshot.py) assembles the whole
snapshot as ONE lazy plan — right for the differential oracle, but its
notifications fire at plan-construction time and a lazy plan cannot be
paused: nothing has run yet. This module is the EXECUTION-time twin:

- each chunk is materialized to ``work_dir/chunk_{i}`` (parquet write =
  a real Spark action), so TABLE_SCAN_COMPLETED marks actual scan
  progress, matching Debezium's semantics;
- a ``_BOOKMARK`` file (atomic rename commit, same protocol as the
  partitioned-state manifests) records the next chunk after every
  completed one — pause/crash/stop all resume from it;
- the chunk loop polls a control callback BETWEEN chunks (Debezium
  reads the signal table between chunk queries in exactly this way),
  so pause/stop take effect at the next chunk boundary — a chunk is
  the atomic unit of work.

Scale: per-chunk materialization is what makes a 100 TB snapshot
operable — bounded work between commit points, resumable after any
fault, and the chunk parquet doubles as the snapshot's output staging
(readers union the chunk dirs; no re-scan on resume).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming.commit import atomic_write
from .incremental_snapshot import snapshot_chunk
from .notifications import AGGREGATE_INCREMENTAL

RUNNING = "running"
PAUSED = "paused"
ABORTED = "aborted"
COMPLETED = "completed"


class ChunkedSnapshotRunner:
    """Drives a chunked incremental snapshot with pause/resume/stop.

    Parameters mirror ``incremental_snapshot``; ``condition`` is the
    signal's ``additional-conditions`` predicate for this collection.
    ``run()`` executes chunks from the current bookmark until done,
    paused, or stopped, and returns the terminal status.
    """

    def __init__(
        self,
        spark: SparkSession,
        snapshot_at,
        changes: DataFrame,
        key: str,
        pos_col: str,
        bounds: list[tuple],
        watermarks: list[tuple] | None,
        work_dir: str,
        channel=None,
        condition: str | None = None,
        collection: str | None = None,
        dedup_key: str | None = None,
    ) -> None:
        self.spark = spark
        self.snapshot_at = snapshot_at
        self.changes = changes
        self.key = key
        self.dedup_key = dedup_key
        self.pos_col = pos_col
        self.bounds = bounds
        if watermarks is None:
            # read.only=true: no signal-table writes — derive the (L,H]
            # brackets by observing the log's positions instead
            from .incremental_snapshot import readonly_watermarks

            watermarks = readonly_watermarks(changes, pos_col, len(bounds))
        self.watermarks = watermarks
        self.work_dir = work_dir
        self.channel = channel
        self.condition = condition
        self.collection = collection
        if not bounds or len(bounds) != len(watermarks):
            raise ValueError(
                f"bounds ({len(bounds)}) and watermarks "
                f"({len(watermarks)}) must be non-empty and equal-length "
                "(a silent zip-truncation here would drop chunks)"
            )
        self._pause_requested = False
        self._resume_requested = False
        self._stop_requested = False
        os.makedirs(work_dir, exist_ok=True)

    # -- control plane (signal handlers flip flags; the chunk loop acts
    #    on them at the next chunk boundary) ---------------------------

    def request_pause(self) -> None:
        self._pause_requested = True

    def request_resume(self) -> None:
        self._pause_requested = False
        self._resume_requested = True

    def request_stop(self) -> None:
        self._stop_requested = True

    def signal_handlers(self) -> dict:
        """Handlers for ``dispatch_signals``: the three lifecycle signal
        types act on THIS runner."""
        return {
            "pause-snapshot": lambda sig: self.request_pause(),
            "resume-snapshot": lambda sig: self.request_resume(),
            "stop-snapshot": lambda sig: self.request_stop(),
        }

    # -- bookmark (atomic-rename committed, like every other pointer
    #    file in this engine) ------------------------------------------

    def _bookmark_path(self) -> str:
        return os.path.join(self.work_dir, "_BOOKMARK")

    def _read_bookmark(self) -> dict:
        p = self._bookmark_path()
        if not os.path.exists(p):
            return {"next_chunk": 0, "status": RUNNING}
        with open(p) as f:
            return json.load(f)

    def _write_bookmark(self, next_chunk: int, status: str) -> None:
        atomic_write(
            self._bookmark_path(),
            json.dumps({"next_chunk": next_chunk, "status": status}),
        )

    @property
    def status(self) -> str:
        return self._read_bookmark()["status"]

    def _notify(self, type_: str, position: int, **extra) -> None:
        if self.channel is not None:
            if self.collection is not None:
                extra["data_collection"] = self.collection
            self.channel.notify(
                AGGREGATE_INCREMENTAL, type_, position=position, **extra
            )

    # -- execution ------------------------------------------------------

    def run(self, poll=None) -> str:
        """Execute chunks from the bookmark. ``poll`` (optional
        zero-arg callable) is invoked BETWEEN chunks — wire it to drain
        a signal source through ``dispatch_signals(...,
        handlers=self.signal_handlers())`` so lifecycle signals take
        effect mid-snapshot, exactly Debezium's between-chunk signal
        read. Returns the status after this call: completed / paused /
        aborted."""
        bm = self._read_bookmark()
        if bm["status"] == ABORTED:
            return ABORTED
        if bm["status"] == COMPLETED:
            return COMPLETED
        start = bm["next_chunk"]
        if bm["status"] == PAUSED:
            # paused is durable: a restarted process (fresh runner, all
            # in-memory flags lost) must NOT silently resume — only an
            # explicit resume-snapshot signal does
            if not self._resume_requested:
                return PAUSED
            self._resume_requested = False
            self._write_bookmark(start, RUNNING)
            self._notify(
                "RESUMED", self.watermarks[start][0], next_chunk=start
            )
        elif start == 0:
            self._notify(
                "STARTED", self.watermarks[0][0],
                total_chunks=len(self.bounds),
            )
        for i in range(start, len(self.bounds)):
            if poll is not None:
                poll()
            if self._stop_requested:
                self._write_bookmark(i, ABORTED)
                self._notify("ABORTED", self.watermarks[i][0], next_chunk=i)
                return ABORTED
            if self._pause_requested:
                self._write_bookmark(i, PAUSED)
                self._notify("PAUSED", self.watermarks[i][0], next_chunk=i)
                return PAUSED
            b, (lw, hw) = self.bounds[i], self.watermarks[i]
            chunk = (
                snapshot_chunk(
                    self.snapshot_at(hw), self.key, b, self.changes,
                    self.pos_col, lw, hw, condition=self.condition,
                    dedup_key=self.dedup_key,
                )
                .withColumn("__op", F.lit("r"))
                .withColumn(self.pos_col, F.lit(lw).cast("long"))
            )
            # the parquet write IS the action: the notification below
            # reports a scan that actually ran (ADVICE r5: the lazy
            # path's plan-time notifications diverge from Debezium)
            chunk.write.mode("overwrite").parquet(
                os.path.join(self.work_dir, f"chunk_{i}")
            )
            self._write_bookmark(i + 1, RUNNING)
            self._notify(
                "TABLE_SCAN_COMPLETED", hw, chunk=i,
                chunk_from=b[0], chunk_to=b[1],
                low_watermark=lw, high_watermark=hw,
            )
        self._write_bookmark(len(self.bounds), COMPLETED)
        self._notify(
            "COMPLETED", self.watermarks[-1][1],
            total_chunks=len(self.bounds),
        )
        return COMPLETED

    def result(self) -> DataFrame:
        """The reconciled snapshot: union of all persisted chunks.
        Raises unless the snapshot completed."""
        st = self.status
        if st != COMPLETED:
            raise RuntimeError(
                f"snapshot is '{st}'; result() requires '{COMPLETED}'"
            )
        paths = [
            os.path.join(self.work_dir, f"chunk_{i}")
            for i in range(len(self.bounds))
        ]
        # mergeSchema: a mid-snapshot DDL widening (ALTER TABLE ADD
        # COLUMN between chunk reads — routine during an hours-long
        # 100 TB snapshot) leaves earlier chunks narrower; without it
        # the read adopts one chunk's schema and silently DROPS the new
        # column (same failure the partitioned-state tier fixed in r5)
        return self.spark.read.option("mergeSchema", "true").parquet(*paths)


def execute_snapshot(
    spark: SparkSession,
    sig: dict,
    sources: dict[str, dict],
    work_root: str,
    channel=None,
    poll=None,
) -> dict[str, ChunkedSnapshotRunner]:
    """Orchestrate one ``execute-snapshot`` signal end to end: one
    runner per requested data-collection, processed SEQUENTIALLY in
    signal order (Debezium runs a single incremental snapshot at a
    time; a collection's chunks complete before the next collection
    starts), each with the signal's ``additional-conditions`` filter
    for that collection and per-collection notifications
    (``data_collection`` in additional_data).

    ``sig`` is the dict ``dispatch_signals`` hands to handlers;
    ``sources[name]`` supplies the per-collection plumbing:
    ``{snapshot_at, changes, key, pos_col, bounds, watermarks}``.
    Unknown collections raise — a signal naming an uncaptured table is
    a caller error, not something to skip silently. Returns the runner
    per collection (callers read ``.result()`` / ``.status``); a
    pause/stop arriving through ``poll`` leaves later collections
    un-started, exactly like Debezium's single-queue processing.

    Thin wrapper over :class:`SnapshotCoordinator` — one code path owns
    the sequencing/stop-scoping semantics; use the coordinator directly
    when lifecycle signals should target it (scoped stops, cross-
    collection pause/resume)."""
    coord = SnapshotCoordinator(spark, sources, work_root, channel=channel)
    coord.run(sig, poll=poll)
    return coord.runners


class SnapshotCoordinator:
    """Collection-scoped lifecycle for a multi-collection incremental
    snapshot (public Debezium stop-snapshot semantics: a stop signal
    CARRYING data-collections removes just those collections from the
    in-flight snapshot; a stop without collections aborts the whole
    snapshot; pause/resume always act on the whole snapshot).

    ``run(sig)`` processes the signal's collections sequentially —
    re-invoking it after a pause resumes from wherever work stopped
    (completed collections' runners return instantly from their
    bookmarks; nothing is re-scanned)."""

    def __init__(self, spark, sources: dict[str, dict], work_root: str,
                 channel=None) -> None:
        self.spark = spark
        self.sources = sources
        self.work_root = work_root
        self.channel = channel
        self.runners: dict[str, ChunkedSnapshotRunner] = {}
        # (condition, surrogate_key) the cached runner was built with —
        # a later execute-snapshot with DIFFERENT options must not
        # silently reuse the old runner's key/bounds/condition
        self._runner_opts: dict[str, tuple] = {}
        # per-collection rebuild generation: a rebuilt runner gets a
        # fresh work dir so the retired runner's bookmark can't bleed in
        self._gen: dict[str, int] = {}
        self._removed: set[str] = set()
        self._stop_all = False
        self._current: ChunkedSnapshotRunner | None = None

    def signal_handlers(self) -> dict:
        def stop(sig: dict) -> None:
            colls = sig.get("data_collections") or []
            if not colls:
                self._stop_all = True
                if self._current is not None:
                    self._current.request_stop()
            else:
                self._removed.update(colls)
                if (
                    self._current is not None
                    and self._current.collection in colls
                ):
                    self._current.request_stop()

        def pause(sig: dict) -> None:
            if self._current is not None:
                self._current.request_pause()

        def resume(sig: dict) -> None:
            if self._current is not None:
                self._current.request_resume()

        return {
            "pause-snapshot": pause,
            "resume-snapshot": resume,
            "stop-snapshot": stop,
        }

    def _runner_for(self, coll: str, condition: str | None,
                    surrogate_key: str | None = None):
        opts = (condition, surrogate_key)
        cached = self.runners.get(coll)
        if cached is not None and self._runner_opts[coll] != opts:
            st = cached.status
            if st not in (COMPLETED, ABORTED):
                raise ValueError(
                    f"execute-snapshot for '{coll}' with different "
                    f"options (condition/surrogate-key) while a "
                    f"snapshot is '{st}' — stop-snapshot or resume it "
                    f"first; refusing to silently reuse the old "
                    f"runner's key, bounds, and condition"
                )
            # finished under the OLD options: retire it and rebuild
            # under the new ones in a fresh work dir
            del self.runners[coll]
            self._gen[coll] = self._gen.get(coll, 0) + 1
        if coll not in self.runners:
            if coll not in self.sources:
                raise ValueError(
                    f"execute-snapshot names uncaptured collection '{coll}'"
                )
            src = self.sources[coll]
            key, bounds, watermarks, dedup = (
                src["key"], src["bounds"], src["watermarks"], None
            )
            if surrogate_key and surrogate_key != key:
                # signal `surrogate-key`: chunk RANGES on the named
                # column, reconciliation still on the real event key.
                # Bounds are re-derived on the surrogate over the table
                # at the log head; watermark brackets are re-derived
                # from the log (readonly-style) since the configured
                # ones were sized for the default bounds.
                from .incremental_snapshot import chunk_bounds

                head = src["changes"].agg(
                    F.max(src["pos_col"])
                ).collect()[0][0]
                snap = src["snapshot_at"](head)
                if surrogate_key not in snap.columns:
                    raise ValueError(
                        f"surrogate-key '{surrogate_key}' is not a "
                        f"column of '{coll}' (have {snap.columns})"
                    )
                dedup = key
                key = surrogate_key
                bounds = chunk_bounds(snap, surrogate_key,
                                      len(src["bounds"]))
                watermarks = None
            gen = self._gen.get(coll, 0)
            dirname = coll.replace(".", "__") + (
                f"__g{gen}" if gen else ""
            )
            self.runners[coll] = ChunkedSnapshotRunner(
                self.spark, src["snapshot_at"], src["changes"], key,
                src["pos_col"], bounds, watermarks,
                os.path.join(self.work_root, dirname),
                channel=self.channel,
                condition=condition,
                collection=coll,
                dedup_key=dedup,
            )
            self._runner_opts[coll] = opts
        return self.runners[coll]

    def run(self, sig: dict, poll=None) -> dict[str, str]:
        """Process the signal's collections in order; returns the final
        status per collection ('removed' for collections a scoped stop
        took out before/while they ran)."""
        conditions = sig.get("additional_conditions", {})
        status: dict[str, str] = {}
        for coll in sig["data_collections"]:
            if poll is not None:
                poll()
            if self._stop_all or coll in self._removed:
                status[coll] = "removed"
                if self.channel is not None:
                    self.channel.notify(
                        AGGREGATE_INCREMENTAL, "ABORTED",
                        data_collection=coll, reason="stop-snapshot",
                    )
                continue
            runner = self._runner_for(
                coll, conditions.get(coll), sig.get("surrogate_key")
            )
            self._current = runner
            st = runner.run(poll=poll)
            if st != PAUSED:
                # keep _current on a PAUSED runner: a resume-snapshot
                # arriving BETWEEN coordinator.run() invocations must
                # still find its target
                self._current = None
            # a scoped stop that landed while this collection ran shows
            # up as its runner aborting — report it as removed
            status[coll] = (
                "removed"
                if st == ABORTED and (coll in self._removed or self._stop_all)
                else st
            )
            if st == PAUSED:
                break  # whole-snapshot pause: later collections queued
        return status


def make_execute_snapshot_handler(
    spark: SparkSession,
    sources: dict[str, dict],
    work_root: str,
    channel=None,
    results: dict | None = None,
):
    """One handler for the ``execute-snapshot`` signal type that routes
    on the signal's ``data.type`` (``snapshot_kind``), the way the
    public connector does:

    - ``incremental`` (default): chunked DBLog snapshot via
      :class:`SnapshotCoordinator` — pausable/stoppable, per-collection
      conditions, persisted chunks.
    - ``blocking``: consistent image per collection via
      ``blocking_snapshot_delivery`` over the collection's
      ``blocking_window`` (the (resume_position, image_position) pair
      the source tracks); the returned delivery carries the duplicated
      overlap the consumer fold dedupes.

    ``results`` (optional dict) collects per-signal outcomes keyed by
    signal id: ``{"kind", "status"|"deliveries"}``. Wire into
    ``dispatch_signals(handlers={"execute-snapshot": handler})`` or the
    streaming channel."""
    from .incremental_snapshot import blocking_snapshot_delivery

    def handler(sig: dict) -> None:
        out: dict = {"kind": sig["snapshot_kind"]}
        if sig["snapshot_kind"] == "blocking":
            deliveries = {}
            for coll in sig["data_collections"]:
                if coll not in sources:
                    raise ValueError(
                        f"execute-snapshot names uncaptured collection "
                        f"'{coll}'"
                    )
                src = sources[coll]
                low, high = src["blocking_window"]
                deliveries[coll] = blocking_snapshot_delivery(
                    src["changes"], src["key"], src["pos_col"], low, high,
                    channel=channel,
                )
            out["deliveries"] = deliveries
        else:
            coord = SnapshotCoordinator(
                spark, sources, work_root, channel=channel
            )
            out["status"] = coord.run(sig)
            out["runners"] = coord.runners
        if results is not None:
            results[sig["id"]] = out

    return handler


# --- Oracle-checked differential for the EXECUTION path -------------------
#
# The lazy `incremental_snapshot` plan has its own oracle
# (cdc_adhoc_snapshot_filtered). This query puts the RUNNER — persisted
# chunks, bookmark commits, an actual mid-run pause + resume — under the
# same differential gate: an interrupted-and-resumed chunked snapshot,
# folded with the live stream, must hash-equal plain latest-state from
# the log. Each invocation stages its chunks in a fresh
# ``lineage.scratch_dir``.

from ..registry import register  # noqa: E402


@register(
    "cdc_lifecycle_snapshot",
    oracle="""
WITH mapped AS (
  SELECT user_id, event_id AS pos, value,
         CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd'
              WHEN 'view' THEN 'r' ELSE 'u' END AS op
  FROM events
)
SELECT user_id, value FROM (
  SELECT user_id, value, op,
         row_number() OVER (PARTITION BY user_id ORDER BY pos DESC) AS rn
  FROM mapped
) WHERE rn = 1 AND op <> 'd'
ORDER BY user_id
""",
)
def cdc_lifecycle_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execution-path differential for the lifecycle runner: a 4-chunk
    snapshot is PAUSED after chunk 2 (real pause-snapshot semantics —
    bookmark committed, run() returns), then resumed by a second run()
    from the persisted bookmark; the chunk parquet staging + the live
    stream fold to latest state. Hash equality against the plain
    latest-state oracle proves the interrupted execution path — chunk
    materialization, bookmark resume, op='r' stamping at each chunk's
    low watermark — changes delivery, never answers. Deterministic:
    fixed chunk count, narrow (H-5, H] brackets, pause point by chunk
    index."""
    from ..catalog import table
    from ..lineage import scratch_dir
    from .envelope import OP_CASE
    from .incremental_snapshot import chunk_bounds
    from .materialize import materialize_latest

    ch = table(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_id").alias("pos"),
        "value",
        F.expr(OP_CASE).alias("__op"),
    )
    max_pos = ch.agg(F.max("pos")).first()[0]  # control-plane scalar
    hs = [int(max_pos * f) for f in (0.25, 0.5, 0.75, 1.0)]
    watermarks = [(max(h - 5, 0), h) for h in hs]
    bounds = chunk_bounds(ch, "user_id", 4)
    while len(bounds) < len(watermarks):  # quantile-cut dedup at tiny SF
        watermarks.pop()

    def snapshot_at(pos):
        return materialize_latest(
            ch.filter(F.col("pos") <= pos), ["user_id"], ["pos"]
        ).select("user_id", "value")

    runner = ChunkedSnapshotRunner(
        spark, snapshot_at, ch, "user_id", "pos", bounds, watermarks,
        scratch_dir("dis_snapshot_lifecycle_"),
    )
    # a real mid-run interruption: pause lands before chunk 2
    polls = {"n": 0}

    def poll():
        polls["n"] += 1
        if polls["n"] == 3:  # before chunk index 2
            runner.request_pause()

    if runner.run(poll=poll) == PAUSED:  # 1-2 chunk fixtures may finish
        runner.request_resume()
        st = runner.run()
        assert st == COMPLETED, st
    combined = runner.result().select(
        "user_id", "pos", "value", "__op"
    ).unionByName(ch.select("user_id", "pos", "value", "__op"))
    return (
        materialize_latest(combined, ["user_id"], ["pos"])
        .select("user_id", "value")
        .orderBy("user_id")
    )
