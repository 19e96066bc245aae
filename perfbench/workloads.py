"""The CDC workloads: a Structured Streaming file source of Debezium
JSON-envelope files, applied with ``foreachBatch`` into the
bucket-partitioned state, one file per micro-batch. Closed loop, one
client: the next batch is published only after a reader has seen the
previous batch's last position.

``run_cdc`` returns ``(metrics, layers, errors, trace_extra)``;
``layers(events)`` turns the parsed event log of a traced run into the
per-layer metrics once the session has stopped (the log is complete
only then), and is ``None`` in an untraced run.
"""

from __future__ import annotations

import os
import queue
import statistics
import time

import checks
import gen
from spans import by_op

N_KEYS = 10_000   # snapshot size of the captured table
N_BUCKETS = 40    # state buckets, 250 snapshot keys each
# A run repeats rounds of ``round_batches`` micro-batches until it has
# measured --seconds of busy time. One round covers the 8 s run length
# on a 4-core box, so every run measures the same batches: runs that
# sometimes did one batch more read a median 15% lower.
CDC = {
    # uniform keys, big batches: every bucket is rewritten each batch
    "cdc_bulk": {"skew": None, "batch_events": 5_000, "round_batches": 3},
    # Zipf keys, tens of events: few buckets, per-batch fixed cost
    "cdc_trickle": {"skew": 1.5, "batch_events": 50, "round_batches": 4},
}
SNAPSHOT_OP = "00000"


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _du_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _written(vdir: str) -> tuple[int, int]:
    """(bucket directories, parquet files) one apply wrote."""
    parts = [d for d in os.listdir(vdir) if d.startswith("__bucket=")]
    files = sum(1 for d in parts for f in os.listdir(os.path.join(vdir, d))
                if f.endswith(".parquet"))
    return len(parts), files


class _Stream:
    """One file-source stream applying every micro-batch to the state,
    and the reader that follows each commit."""

    def __init__(self, ctx):
        from pyspark.sql import types as T

        from debezium_incubator_spark.cdc.envelope import (
            parse_envelope_dlq, unwrap)
        from debezium_incubator_spark.streaming.partitioned_state import (
            apply_changes_partitioned)

        self.ctx = ctx
        d = ctx.workdir
        self.src, self.stage = f"{d}/src", f"{d}/stage"
        self.state, self.dlq = f"{d}/state", f"{d}/dlq"
        for p in (self.src, self.stage, self.state):
            os.makedirs(p)
        self.committed: queue.Queue = queue.Queue()
        # filled by traced runs only
        self.n_good: dict[int, int] = {}
        self.n_dlq: dict[int, int] = {}
        self.written: dict[int, tuple[int, int]] = {}
        self.first_read: dict = {}
        row_schema = T.StructType.fromDDL(gen.ROW_DDL)
        spark, tr = ctx.spark, ctx.tracer

        def handle(batch, batch_id: int) -> None:
            op = f"{batch_id:05d}"
            with tr.span("stream.foreach_batch", op):
                # the batch feeds three actions (DLQ write and the
                # apply's two jobs); persisting it is Spark's documented
                # foreachBatch practice, and keeps numInputRows exact
                batch = batch.persist()
                with tr.span("parse.build", op):
                    good, dlq = parse_envelope_dlq(batch, row_schema)
                if tr.enabled:
                    # materialize the lazy parse here, so its cost shows
                    # in this span instead of inside the apply's jobs
                    with tr.span("parse.run", op):
                        good = good.persist()
                        self.n_good[batch_id] = good.count()
                        self.n_dlq[batch_id] = dlq.count()
                changes = unwrap(good)
                with tr.span("dlq.write", op):
                    dlq.write.mode("append").parquet(self.dlq)
                with tr.span("apply", op):
                    apply_changes_partitioned(
                        spark, changes, batch_id, self.state, ["id"],
                        ["__pos"], N_BUCKETS)
                if tr.enabled:
                    good.unpersist()
                    self.written[batch_id] = _written(
                        os.path.join(self.state, f"v{batch_id}"))
                batch.unpersist()
            self.committed.put(batch_id)

        self.query = (
            spark.readStream.schema(gen.WIRE_DDL)
            .option("maxFilesPerTrigger", 1)
            .json(self.src)
            .writeStream.foreachBatch(handle)
            .option("checkpointLocation", f"{d}/checkpoint")
            .start()
        )

    def _read(self, op: str) -> tuple[int, int]:
        """The reader: live-key count and highest position of the
        current state (tombstones carry positions too)."""
        from pyspark.sql import functions as F

        from debezium_incubator_spark.streaming.partitioned_state import (
            read_state_partitioned)

        spark, tr = self.ctx.spark, self.ctx.tracer
        # the traced run records the first (cold) read's Catalyst and
        # codegen figures
        first = tr.enabled and op == SNAPSHOT_OP
        if first:
            jvm = spark._jvm
            codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
            compiler = (jvm.org.apache.spark.sql.catalyst.expressions
                        .codegen.CodeGenerator)
            c0 = codegen.METRIC_COMPILATION_TIME().getCount()
            ct0 = compiler.compileTime()
        with tr.span("read", op):
            with tr.span("query.build", op):
                df = read_state_partitioned(
                    spark, self.state, include_tombstones=True,
                ).agg(F.count_if(F.col("__op") != "d").alias("live"),
                      F.max("__pos").alias("pos"))
            with tr.span("query.action", op):
                r = df.collect()[0]
        if first:
            ph = df._jdf.queryExecution().tracker().phases()
            rec = {k: ph.get(k).get().durationMs() if ph.get(k).isDefined()
                   else 0 for k in ("analysis", "optimization", "planning")}
            rec["compiles"] = codegen.METRIC_COMPILATION_TIME().getCount() - c0
            rec["compile_ms"] = (compiler.compileTime() - ct0) / 1e6
            self.first_read = rec
        return int(r["live"]), int(r["pos"])

    def publish_and_read(self, batch_id: int, lines: list[str]):
        """Publish one envelope file, wait for its commit, then read.
        Returns the operation's seconds (publish -> the reader has its
        answer) and the reader's live-key count and highest position."""
        name = f"part-{batch_id:05d}.json"
        staged = os.path.join(self.stage, name)
        gen.write_lines(staged, lines)
        t0 = time.perf_counter()
        os.rename(staged, os.path.join(self.src, name))
        while True:
            try:
                done = self.committed.get(timeout=1.0)
            except queue.Empty:
                if not self.query.isActive:
                    raise RuntimeError(
                        f"stream stopped: {self.query.exception()}")
                continue
            if done != batch_id:
                raise RuntimeError(
                    f"committed batch {done}, expected {batch_id}")
            break
        live, pos = self._read(f"{batch_id:05d}")
        return time.perf_counter() - t0, live, pos


def run_cdc(ctx, skew, batch_events: int, round_batches: int):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from debezium_incubator_spark.cdc.envelope import parse_envelope_dlq
    from debezium_incubator_spark.streaming.partitioned_state import (
        read_state_partitioned, vacuum_partitioned)

    spark, tr = ctx.spark, ctx.tracer
    errors: list[str] = []
    log = gen.ChangeLog(ctx.seed, N_KEYS, skew=skew)
    snapshot = log.snapshot()
    stream = _Stream(ctx)
    # set-up ends once the snapshot (Debezium's initial op=r read) is
    # committed through the same stream the changes use
    first_s, live, pos = stream.publish_and_read(0, snapshot)
    errors += checks.check_reader(0, live, pos, len(log.state), log.pos)
    ctx.setup_done()

    op_s, records = [], 0
    while sum(op_s) < ctx.seconds:
        for _ in range(round_batches):
            lines = log.batch(batch_events)
            s, live, pos = stream.publish_and_read(len(op_s) + 1, lines)
            op_s.append(s)
            records += len(lines)
            errors += checks.check_reader(len(op_s), live, pos,
                                          len(log.state), log.pos)
    busy = sum(op_s)
    progress = [dict(p) for p in stream.query.recentProgress]
    stream.query.stop()

    # --- checks, outside the timed region ---
    errors += checks.check_input_rows(
        sum(int(p["numInputRows"]) for p in progress), log.records)
    vacuum_partitioned(stream.state, keep_last=1)
    state_bytes = _du_bytes(stream.state)
    final = (read_state_partitioned(spark, stream.state)
             .select(*gen.ROW_FIELDS, "__pos").collect())
    errors += checks.check_state(log.state, final)
    raw = spark.read.schema(gen.WIRE_DDL).json(stream.src)
    good, dlq = parse_envelope_dlq(raw, T.StructType.fromDDL(gen.ROW_DDL))
    split = dict(good.select(F.lit("good").alias("side"))
                 .unionByName(dlq.select(F.lit("dlq").alias("side")))
                 .groupBy("side").count().collect())
    n_sink = (spark.read.parquet(stream.dlq).count()
              if os.path.isdir(stream.dlq) else 0)
    errors += checks.check_dlq(log.records, split.get("good", 0),
                               split.get("dlq", 0), n_sink, log.malformed)

    metrics = {
        "op_p50_ms": _median(op_s) * 1e3,
        "ops_per_s": len(op_s) / busy,
        "events_per_s": records / busy,
        "state_disk_mb": state_bytes / 1e6,
        "first_pass_s": first_s,
        "attempted": len(op_s) + 1,
    }
    if not tr.enabled:
        return metrics, None, errors, {}
    # two independent totals of the same work: Spark's addBatch and the
    # benchmark's own span around each foreachBatch call
    extra = {
        "add_batch_total_ms": float(sum(p["durationMs"].get("addBatch", 0)
                                        for p in progress)),
        "foreach_batch_span_total_ms": sum(
            tr.durations_ms("stream.foreach_batch")),
    }
    return metrics, (lambda ev: _layers(tr, stream, progress, ev)), \
        errors, extra


def _layers(tr, stream: _Stream, progress: list[dict], ev: dict) -> dict:
    """Per-layer numbers of a traced run. Medians per micro-batch over the
    measured batches, except the reader query's build, Catalyst and
    codegen figures, which are those of the first pass (the snapshot's
    read, cold), and the parse row counts, which are totals."""
    window = [p for p in progress if p["batchId"] > 0]
    ids = [p["batchId"] for p in window]
    ops = [f"{b:05d}" for b in ids]

    def dur(key: str) -> float:
        return _median([p["durationMs"].get(key, 0) for p in window])

    def span_ms(name: str) -> dict[str, float]:
        return {s["op"]: (s["end"] - s["start"]) * 1e3 for s in tr.spans
                if s["name"] == name}

    def span_med(name: str) -> float:
        d = span_ms(name)
        return _median([d[o] for o in ops if o in d])

    apply = by_op(ev, ("apply",))
    read = by_op(ev, ("query.build", "query.action"))

    def med(counters: dict, key: str, scale: float = 1.0) -> float:
        return _median([counters.get(o, {}).get(key, 0) * scale
                        for o in ops])

    first = stream.first_read
    return {
        "parse.build_ms": span_med("parse.build"),
        "parse.run_ms": span_med("parse.run"),
        "parse.rows_in": float(sum(int(p["numInputRows"]) for p in window)),
        "parse.rows_dlq": float(sum(stream.n_dlq.get(b, 0) for b in ids)),
        "stream.latest_offset_ms": dur("latestOffset"),
        "stream.query_planning_ms": dur("queryPlanning"),
        "stream.add_batch_ms": dur("addBatch"),
        "stream.wal_commit_ms": dur("walCommit"),
        "stream.commit_offsets_ms": dur("commitOffsets"),
        "apply.call_ms": span_med("apply"),
        "apply.jobs_per_call": med(apply, "jobs"),
        # rows read back from the persisted parse, per parsed row
        "apply.input_evaluations": _median(
            [apply.get(f"{b:05d}", {}).get("cached_rows", 0) / stream.n_good[b]
             for b in ids if stream.n_good.get(b)]),
        "apply.touched_buckets": _median(
            [stream.written[b][0] for b in ids if b in stream.written]),
        "apply.state_rows_read": med(apply, "parquet_rows"),
        "apply.rows_written": med(apply, "rows_written"),
        "apply.files_written": _median(
            [stream.written[b][1] for b in ids if b in stream.written]),
        "apply.bytes_written": med(apply, "bytes_written"),
        "apply.shuffle_bytes": med(apply, "shuffle_bytes"),
        "apply.spill_bytes": med(apply, "spill_bytes"),
        "read.call_ms": span_med("read"),
        "read.files_scanned": med(read, "parquet_files"),
        "read.rows_scanned": med(read, "parquet_rows"),
        "query.build_ms": span_ms("query.build").get(SNAPSHOT_OP, 0.0),
        "query.analysis_ms": float(first.get("analysis", 0)),
        "query.optimization_ms": float(first.get("optimization", 0)),
        "query.planning_ms": float(first.get("planning", 0)),
        "query.codegen_compiles": float(first.get("compiles", 0)),
        "query.codegen_ms": float(first.get("compile_ms", 0.0)),
        "query.exec_run_ms": med(read, "exec_run_ms"),
        "query.exec_cpu_ms": med(read, "exec_cpu_ns", 1e-6),
        "query.shuffle_bytes": med(read, "shuffle_bytes"),
        "query.spill_bytes": med(read, "spill_bytes"),
        "query.action_ms": span_med("query.action"),
    }
