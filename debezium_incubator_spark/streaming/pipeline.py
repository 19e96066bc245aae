"""Streaming operators (SURVEY.md §2I): watermarks, windowed aggregates,
dedup, stateful latest-state fold, sinks/triggers.

These are the streaming twins of the batch operators verified against
the DuckDB oracle in ``events/analytics.py`` and ``cdc/materialize.py``
— same window semantics (epoch-aligned, gap-based sessions), so the
batch oracle checks pin the streaming semantics too; the streaming tests
then assert stream == batch on the same data.

Scale notes: windowed aggregates + watermarks keep bounded state (GC'd
past the watermark). The latest-state fold keeps one row per key in the
state store — at 100 TB of *history* the state is only |live keys|;
RocksDB state backend + changelog checkpointing is the production
setting. Output modes: append for finalized windows, update for
monotone per-key state.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..exprs import FX


def watermark_dedup(
    df: DataFrame, ts_col: str, keys: list[str], delay: str = "10 minutes"
) -> DataFrame:
    """I1+I5: bound lateness and drop duplicate deliveries within the
    watermark (at-least-once → effectively-once; Debezium's redelivery
    semantics on connector restart make this the standard first stage)."""
    return df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(keys)


def tumbling_counts(df: DataFrame, ts_col: str = "ts",
                    delay: str | None = "10 minutes") -> DataFrame:
    """I2: hourly tumbling aggregate (streaming twin of e1_tumbling_window;
    identical fixed-point sum semantics). Pass ``delay=None`` when the
    input already carries a watermark (e.g. downstream of
    watermark_dedup) — Spark disallows redefining it."""
    return (
        (df.withWatermark(ts_col, delay) if delay else df)
        .groupBy(F.window(ts_col, "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.expr(
                f"SUM(CAST(floor(value * {FX} + 0.5) AS BIGINT)) / CAST({FX} AS DOUBLE)"
            ).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("bucket"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def session_counts(df: DataFrame, ts_col: str = "ts",
                   gap: str = "30 minutes",
                   delay: str | None = "10 minutes") -> DataFrame:
    """I4: gap-based session windows per user (twin of e4_session_window's
    lag-gap batch construction)."""
    return (
        (df.withWatermark(ts_col, delay) if delay else df)
        .groupBy(F.session_window(ts_col, gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            F.col("w.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
        )
    )


# --- I6: stateful latest-state fold (CDC apply) --------------------------

_STATE_SCHEMA = "ts LONG, value DOUBLE, op STRING"
_OUT_SCHEMA = "user_id LONG, current_value DOUBLE, ts LONG, op STRING"


def _latest_state_fn(
    key, pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold change events for one key: keep the (ts, value, op) of the
    greatest position seen. Emits the post-batch state (update stream)."""
    if state.exists:
        ts, value, op = state.get
    else:
        ts, value, op = -1, None, None
    for pdf in pdf_iter:
        pdf = pdf.sort_values(["ts_us", "event_id"])
        for row in pdf.itertuples(index=False):
            if row.ts_us >= ts:
                ts, value, op = int(row.ts_us), float(row.value), str(row.op)
    state.update((ts, value, op))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "current_value": [value],
            "ts": [ts],
            "op": [op],
        }
    )


def latest_state_stream(changes: DataFrame) -> DataFrame:
    """I6: continuous CDC apply via applyInPandasWithState — one state
    entry per key (the materialized-table fold; batch twin is
    cdc.materialize.materialize_latest, oracle-checked). Input needs
    columns: user_id, event_id, ts_us (long), value, op."""
    return changes.groupBy("user_id").applyInPandasWithState(
        _latest_state_fn,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- I8/I9/I10: sinks, checkpoints, triggers -----------------------------

def run_available_now(stream_df: DataFrame, name: str,
                      output_mode: str = "append"):
    """Drain everything currently available through a memory sink (I10
    availableNow trigger — the snapshot.mode=initial_only analog) and
    return the finished query. Results: ``spark.sql(f"SELECT * FROM
    {name}")``. Memory sink is test-only; production uses parquet/Kafka
    sinks with checkpointLocation (I9) for exactly-once bookkeeping."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def distinct_user_counts(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Streaming audience size: running COUNT(DISTINCT user) per event
    type — the stream twin of the batch `w_count_distinct_running`
    final values, composed the streaming-native way: stateful
    first-occurrence dedup on (type, user) feeding an update-mode
    count (a streaming aggregate may not follow
    dropDuplicatesWithinWatermark's event-time column, so the dedup
    here is the unbounded-state dropDuplicates — at 100 TB, bound the
    key space or use the watermarked form + windowed counts).
    State per distinct key is O(1); output in update mode."""
    return (
        df.dropDuplicates(["event_type", "user_id"])
        .groupBy("event_type")
        .count()
    )
