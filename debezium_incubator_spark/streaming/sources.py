"""Streaming sources (SURVEY.md §2A).

Debezium's architecture is "tail a log, publish change events to Kafka,
one topic per table" [/root/reference/README.md:13]. On the Spark side a
consumer's source surface is:

- A1 Kafka CDC source — ``spark.readStream.format("kafka")``. The Kafka
  connector jars are not bundled in this environment, so the builder
  raises a clear error if Kafka classes are absent (import-gated per the
  environment contract); the downstream pipeline is identical for any
  source, which is how the tests exercise it (file/memory sources).
- A6 heartbeat — the rate source (Debezium emits heartbeats to advance
  offsets on quiet tables; a rate stream unioned into the pipeline plays
  the same role).
- A3/A10 file + in-memory test sources.

Scale: Kafka source parallelism = topic partitions; maxOffsetsPerTrigger
bounds per-micro-batch intake (Debezium's max.batch.size analog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def kafka_cdc_source(
    spark: SparkSession,
    topic: str,
    brokers: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = 100_000,
) -> DataFrame:
    """A1: unbounded DataFrame over a per-table CDC topic.

    Mirrors the Debezium consumer contract: key/value binary columns plus
    Kafka metadata; pair with ``cdc.envelope.parse_envelope`` to get typed
    envelopes. ``startingOffsets=earliest`` replays the snapshot phase
    (Debezium ``snapshot.mode=initial`` analog — SURVEY.md §2A A3).
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", "false")
    )
    if max_offsets_per_trigger:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    try:
        return reader.load()
    except Exception as exc:  # pragma: no cover - no kafka jars in test env
        raise RuntimeError(
            "Kafka connector jars not on the classpath; add "
            "spark-sql-kafka-0-10 to use the Kafka CDC source"
        ) from exc


def heartbeat_source(spark: SparkSession, rows_per_second: int = 1) -> DataFrame:
    """A6: periodic liveness events (rate source) — union into a quiet
    CDC stream so watermarks/offsets keep advancing."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
        .select(
            F.col("timestamp").alias("ts"),
            F.lit("__heartbeat").alias("event_type"),
            F.col("value").alias("seq"),
        )
    )


def start_heartbeat_action(
    spark: SparkSession,
    checkpoint_dir: str,
    action,
    rows_per_second: int = 1,
):
    """``heartbeat.action.query``: public Debezium runs a caller-defined
    statement on every heartbeat (canonically an UPDATE on a dedicated
    heartbeat table, so a connector capturing a QUIET database still
    generates WAL traffic and its replication slot/offset advances —
    without this, an idle Postgres source famously bloats its WAL).

    Twin: the heartbeat stream drives ``action`` once per micro-batch
    through foreachBatch. ``action`` is a SQL string (run via
    ``spark.sql``) or a callable ``(spark, batch_id) -> None``.
    Control-plane by construction: the heartbeat batch is rows_per_
    second-sized and the action runs driver-side once per tick, never
    per row. Returns the StreamingQuery (caller owns stop())."""
    hb = heartbeat_source(spark, rows_per_second)

    def on_batch(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        if callable(action):
            action(spark, batch_id)
        else:
            spark.sql(action)

    return (
        hb.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def events_file_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A10: stream the events fixture as if it were arriving — the
    deterministic test source. Streaming parquet reads need an explicit
    schema; it is taken from a batch read of the same file so the source
    adapts to the fixture's physical ts encoding the same way the batch
    catalog loader does (timestamp[ns] reads as epoch-nano LONG under
    ``nanosAsLong`` → integer-divide to µs; timestamp[us] reads natively
    as TIMESTAMP_NTZ → plain cast)."""
    import os

    from ..lineage import scratch_dir
    from ..session import ensure_conf

    ensure_conf(spark)
    # The file stream source requires a directory; expose the single
    # fixture file through a symlinked scratch dir (fixtures are read-only).
    src = os.path.join(sf_dir, "events.parquet")
    stage = scratch_dir("events_stream_")
    os.symlink(src, os.path.join(stage, "events.parquet"))
    batch_schema = spark.read.parquet(src).schema
    raw = spark.readStream.schema(batch_schema).parquet(stage)
    # Event time must be TIMESTAMP (with zone) — watermarks reject NTZ.
    # Session zone is pinned UTC, so wall-clock values match the batch
    # loader's NTZ column; windowed outputs cast back to NTZ for parity.
    ts_type = dict(raw.dtypes)["ts"]
    if ts_type == "bigint":  # parquet timestamp[ns] under nanosAsLong
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def signal_file_stream(spark: SparkSession, signal_dir: str) -> DataFrame:
    """Signal-channel stream (public Debezium: a designated signal
    table/topic the connector watches; SURVEY §1.1). Signals are "just
    another tiny stream unioned into the control loop" — here a
    jsonlines directory source with the fixed (id, type, data) signal
    schema. Pair with ``start_signal_dispatch_stream`` to drain each
    micro-batch through ``cdc.signals.dispatch_signals``."""
    from ..cdc.signals import SIGNAL_SCHEMA

    return spark.readStream.schema(SIGNAL_SCHEMA).json(signal_dir)


def start_signal_dispatch_stream(
    signals: DataFrame,
    handlers: dict,
    ledger=None,
    checkpoint: str | None = None,
    on_actions=None,
):
    """foreachBatch driver for the signal channel: every micro-batch of
    signal rows goes through ``dispatch_signals`` on the DRIVER
    (control plane — a handful of rows). Exactly-once execution rests
    on TWO layers, mirroring the engine's data-plane story: Spark's
    checkpoint dedupes batches on clean restarts, and the
    ``SignalLedger`` dedupes signal IDS across replayed batches (a
    crash between handler and checkpoint commit re-delivers the batch;
    the ledger is what stops the re-execution). ``on_actions`` (optional
    callable) receives each batch's action log for observability."""
    from ..cdc.signals import dispatch_signals

    def handle(batch: DataFrame, epoch: int) -> None:
        actions = dispatch_signals(batch, handlers=handlers, ledger=ledger)
        if on_actions is not None:
            on_actions(epoch, actions)

    writer = signals.writeStream.foreachBatch(handle).trigger(availableNow=True)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()
