"""Dead-letter-queue error handling (Kafka Connect semantics Debezium
deployments rely on: ``errors.tolerance=all`` +
``errors.deadletterqueue.topic.name`` — poison records must not stop the
pipeline, must not be silently dropped, and must carry enough context to
be replayed after a fix).

Spark mapping: ``from_json`` in PERMISSIVE mode yields a null struct for
malformed input (never throws), so validity is a COLUMN, not an
exception — one pass splits the stream declaratively:

- valid rows  → the normal envelope pipeline,
- tombstones  → kept valid (null value is MEANINGFUL: compaction marker),
- malformed   → DLQ rows carrying the raw bytes + error context headers
  (Kafka Connect puts these in record headers; we use columns).

Scale: zero extra shuffle — the split is two filters over one parse
(Catalyst collapses the shared subplan; with ``.persist()`` on the
parsed frame the parse runs once). The DLQ side is ~0 rows in healthy
operation, so its sink write is negligible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .envelope import envelope_schema


def parse_with_dlq(
    raw: DataFrame,
    row_schema: T.StructType,
    source_topic: str = "unknown",
    key_schema: T.StructType | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Split raw (key, value) JSON records into (valid, dead_letters).

    Valid: parseable envelope values, plus tombstones (value IS NULL on
    the wire). Dead: non-null wire bytes that don't parse into the
    envelope schema — returned with raw payload + error-context columns
    mirroring Connect's DLQ headers (__error_topic, __error_reason,
    __error_ts). ``key_schema`` types the record key (default id:long,
    shared with ``envelope.DEFAULT_KEY_SCHEMA``).
    """
    from .envelope import DEFAULT_KEY_SCHEMA

    key_schema = key_schema or DEFAULT_KEY_SCHEMA
    # Spark 4 PERMISSIVE from_json yields an all-NULL struct (not a null
    # struct) for malformed input, so null-checking the struct cannot
    # detect poison records — the corrupt-record column can: it carries
    # the raw text exactly when parsing failed.
    env_schema = envelope_schema(row_schema).add("_corrupt", T.StringType())
    parsed = raw.select(
        F.col("key").cast("string").alias("raw_key"),
        F.col("value").cast("string").alias("raw_value"),
        F.from_json(F.col("key").cast("string"), key_schema).alias("key"),
        F.from_json(
            F.col("value").cast("string"),
            env_schema,
            {"columnNameOfCorruptRecord": "_corrupt"},
        ).alias("value"),
    )
    is_dead = F.col("value._corrupt").isNotNull()
    valid = parsed.filter(~is_dead).select(
        "key",
        F.when(
            F.col("raw_value").isNotNull(), F.col("value").dropFields("_corrupt")
        ).alias("value"),  # tombstones stay null structs
    )
    dead = parsed.filter(is_dead).select(
        F.col("raw_key").alias("key"),
        F.col("raw_value").alias("value"),
        F.lit(source_topic).alias("__error_topic"),
        F.lit("envelope JSON parse failure").alias("__error_reason"),
        F.current_timestamp().alias("__error_ts"),
    )
    return valid, dead


def parse_with_failure_mode(
    raw: DataFrame,
    row_schema: T.StructType,
    mode: str = "fail",
    key_schema: T.StructType | None = None,
    source_topic: str = "unknown",
    warn: "callable | None" = None,
) -> DataFrame:
    """``event.processing.failure.handling.mode`` — Debezium's THREE
    non-DLQ policies for a record the connector cannot process:

    - ``fail`` (the default): stop loudly on the FIRST malformed record,
      reporting its raw bytes — nothing is ever silently lost;
    - ``warn``: emit a warning per batch (count + a sample) and continue
      with the valid rows;
    - ``skip``: continue silently.

    ``errors.tolerance=all`` + DLQ (``parse_with_dlq``) is the fourth,
    recoverable policy — use it when replay matters.

    fail/warn run one control-plane action over the DLQ side (a
    ``limit(1)`` probe / a count): the dead side is ~0 rows in healthy
    operation and the probe short-circuits, so the cost is one extra
    pass over the shared parse subplan, not a second scan of the data.
    ``warn`` receives ``warn(count, sample_row)`` (defaults to print)."""
    if mode not in ("fail", "warn", "skip"):
        raise ValueError(
            f"event.processing.failure.handling.mode must be "
            f"fail|warn|skip, got {mode!r}"
        )
    valid, dead = parse_with_dlq(
        raw, row_schema, source_topic, key_schema=key_schema
    )
    if mode == "fail":
        bad = dead.limit(1).collect()
        if bad:
            raise ValueError(
                "event.processing.failure.handling.mode=fail: malformed "
                f"record on topic {source_topic!r}: value="
                f"{bad[0]['value']!r}"
            )
    elif mode == "warn":
        n = dead.count()
        if n:
            (warn or (lambda c, s: print(
                f"WARN: {c} malformed record(s) skipped; sample: {s}"
            )))(n, dead.first()["value"])
    return valid
