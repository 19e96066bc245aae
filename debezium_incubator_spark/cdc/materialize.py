"""CDC consumer-side materialization (SURVEY.md §2 B2/I5/I6, §7 M4).

Debezium never materializes state — every consumer must fold the
c/u/d stream in position order per key (SURVEY.md §1.1 "Materialized
table"). These operators are that fold, batch form; the streaming twins
live in ``streaming/pipeline.py``.

Scale notes: materialize_latest is one shuffle on the key + per-key sort;
with Spark 3.5+ WindowGroupLimit only the top row per key materializes.
For continuous 100 TB CDC apply, the streaming path keeps per-key state
in the state store instead of re-folding history each batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import table
from ..lineage import scratch_dir
from ..registry import register
from .envelope import EVENT_ROW_SCHEMA, OP_CASE, parse_envelope, to_envelope, unwrap


def materialize_latest(
    df: DataFrame, keys: list[str], position: list[str], op_col: str = "__op"
) -> DataFrame:
    """I6: fold a change stream to current state — latest row per key in
    position order; keys whose latest op is a delete drop out."""
    w = W.partitionBy(*keys).orderBy(*[F.desc(p) for p in position])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col(op_col) != "d"))
        .drop("__rn")
    )


# --- A2: envelope parse (JSON round-trip through the wire format) --------

@register(
    "cdc_envelope_parse",
    oracle="""
SELECT event_id, user_id, value,
       CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd'
            WHEN 'view' THEN 'r' ELSE 'u' END AS op,
       epoch_us(ts) // 1000 AS ts_ms
FROM events
ORDER BY event_id
""",
)
def cdc_envelope_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full wire-format round trip: events → envelope structs → JSON
    strings (Kafka shape) → from_json parse → field extraction. The
    oracle computes the same projection directly; equality proves the
    serialize/parse chain is lossless (doubles survive JSON via
    shortest-roundtrip rendering)."""
    ev = table(spark, sf_dir, "events")
    # round-13 sort-narrow-first: the global sort runs on the RAW
    # events (by the same event_id the output carries), and the
    # envelope synth + from_json chain projects ABOVE it — projections
    # preserve order, so the output order is identical while the range
    # sampler no longer re-executes the parse and the exchange carries
    # raw columns, not JSON strings (round-9 SCALE.md rule).
    ev = ev.orderBy("event_id")
    wire = to_envelope(ev, as_json=True)  # key/value JSON strings
    parsed = parse_envelope(wire, EVENT_ROW_SCHEMA)
    return parsed.select(
        F.col("value.after.event_id").alias("event_id_after"),
        F.col("value.before.event_id").alias("event_id_before"),
        F.coalesce("value.after.user_id", "value.before.user_id").alias("user_id"),
        F.coalesce("value.after.value", "value.before.value").alias("value"),
        F.col("value.op").alias("op"),
        F.col("value.ts_ms").alias("ts_ms"),
    ).select(
        F.coalesce("event_id_after", "event_id_before").alias("event_id"),
        "user_id",
        "value",
        "op",
        "ts_ms",
    )


# --- B2: ExtractNewRecordState (unwrap) ----------------------------------

@register(
    "cdc_unwrap",
    oracle="""
SELECT event_id, user_id, value,
       CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd'
            WHEN 'view' THEN 'r' ELSE 'u' END AS __op,
       epoch_us(ts) // 1000 AS __ts_ms,
       (event_type = 'error') AS __deleted
FROM events
ORDER BY event_id
""",
)
def cdc_unwrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Envelope → flat row with __op/__ts_ms/__deleted (the standard
    Debezium consumer flattening; delete events keep the before-image)."""
    ev = table(spark, sf_dir, "events")
    env = to_envelope(ev)
    return unwrap(env).select(
        "event_id", "user_id", "value", "__op", "__ts_ms", "__deleted"
    ).orderBy("event_id")


# --- I6: latest-state materialization ------------------------------------

@register(
    "cdc_materialize",
    oracle="""
WITH mapped AS (
  SELECT user_id, event_id, value, ts,
         CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd'
              WHEN 'view' THEN 'r' ELSE 'u' END AS op
  FROM events
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM mapped
)
SELECT user_id, value AS current_value, event_id AS last_event_id
FROM ranked
WHERE rn = 1 AND op <> 'd'
ORDER BY user_id
""",
)
def cdc_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Current-state table from the change stream: latest event per
    user_id in (ts, event_id) position order; users whose latest op is a
    delete are absent — the log-compaction view of the world."""
    ev = table(spark, sf_dir, "events").withColumn("__op", F.expr(OP_CASE))
    state = materialize_latest(
        ev.select("user_id", "event_id", "value", "ts", "__op"),
        keys=["user_id"],
        position=["ts", "event_id"],
    )
    return state.select(
        "user_id",
        F.col("value").alias("current_value"),
        F.col("event_id").alias("last_event_id"),
    ).orderBy("user_id")


# --- Oracle LOB semantics: unavailable-value placeholder resolution ------
#
# Debezium's Oracle connector with lob.enabled=false (the default) emits
# the configured unavailable.value.placeholder (default
# "__debezium_unavailable_value") for CLOB/BLOB/NCLOB columns on any
# UPDATE that does not modify the LOB — the redo log simply doesn't
# carry untouched LOB bodies. A consumer materializing state must
# resolve placeholders by inheriting the key's most recent REAL write of
# that column (which may legitimately be NULL).

UNAVAILABLE_VALUE = "__debezium_unavailable_value"


def resolve_unavailable(
    df: DataFrame,
    keys: list[str],
    position: list[str],
    lob_cols: list[str],
    placeholder: str = UNAVAILABLE_VALUE,
) -> DataFrame:
    """Replace placeholder LOB values with the last real write per key
    in position order — pure window expressions, one shuffle shared with
    the materialization that follows.

    The real-NULL vs placeholder distinction matters: an explicit write
    of NULL must be inherited as NULL by later placeholders, not skipped
    in favor of an older non-null body. Wrapping each real write in a
    single-field struct makes a NULL write a NON-null struct, so
    last(..., ignorenulls=True) skips only placeholders."""
    from pyspark.sql import types as T

    w = (
        W.partitionBy(*keys)
        .orderBy(*[F.asc(p) for p in position])
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    for c in lob_cols:
        # BLOB columns carry the placeholder as its UTF-8 bytes
        # (Debezium renders the same sentinel string into binary
        # payloads) — build the literal in the column's own type so the
        # comparison never relies on implicit binary<->string casts.
        if isinstance(df.schema[c].dataType, T.BinaryType):
            ph = F.lit(placeholder.encode("utf-8"))
        else:
            ph = F.lit(placeholder)
        is_real = F.col(c).isNull() | (F.col(c) != ph)
        wrapped = F.when(is_real, F.struct(F.col(c).alias("v")))
        df = df.withColumn(c, F.last(wrapped, ignorenulls=True).over(w)["v"])
    return df


@register(
    "cdc_lob_merge",
    oracle=f"""
WITH ch AS (
  SELECT user_id, event_id, ts,
         CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd'
              WHEN 'view' THEN 'r' ELSE 'u' END AS op,
         CASE
           WHEN event_type IN ('signup', 'view')
             THEN 'doc-' || CAST(user_id AS VARCHAR) || '-' || CAST(event_id AS VARCHAR)
           WHEN event_type IN ('click', 'purchase') AND event_id % 3 = 0
             THEN 'rev-' || CAST(event_id AS VARCHAR)
           WHEN event_type IN ('click', 'purchase') AND event_id % 3 = 1
             THEN '{UNAVAILABLE_VALUE}'
         END AS doc
  FROM events
), res AS (
  SELECT user_id, event_id, ts, op,
         (last_value(
            CASE WHEN doc IS NULL OR doc <> '{UNAVAILABLE_VALUE}'
                 THEN struct_pack(v := doc) END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)).v AS doc
  FROM ch
), latest AS (
  SELECT *, row_number() OVER (
      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM res
)
SELECT user_id, doc AS current_doc, event_id AS last_event_id
FROM latest WHERE rn = 1 AND op <> 'd'
ORDER BY user_id
""",
)
def cdc_lob_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle lob.enabled=false consumer fold: a change stream whose
    updates mostly DON'T carry the CLOB body (placeholder) is
    materialized to current state with the LOB resolved to each key's
    last real write — including inheritance of explicit NULL writes
    (updates with event_id%3=2 write NULL; later placeholders must stay
    NULL). The oracle replays the same inheritance with
    last_value(...IGNORE NULLS) over the same struct wrapper.

    Scale: the resolve window and the materialize window share one
    shuffle on the key; state never stores placeholders, so downstream
    consumers see complete rows without a LOB side-lookup."""
    ev = table(spark, sf_dir, "events").withColumn("__op", F.expr(OP_CASE))
    doc = F.expr(
        f"""CASE
          WHEN event_type IN ('signup', 'view')
            THEN concat('doc-', CAST(user_id AS STRING), '-', CAST(event_id AS STRING))
          WHEN event_type IN ('click', 'purchase') AND event_id % 3 = 0
            THEN concat('rev-', CAST(event_id AS STRING))
          WHEN event_type IN ('click', 'purchase') AND event_id % 3 = 1
            THEN '{UNAVAILABLE_VALUE}'
        END"""
    )
    ch = ev.select("user_id", "event_id", "ts", "__op", doc.alias("doc"))
    res = resolve_unavailable(
        ch, keys=["user_id"], position=["ts", "event_id"], lob_cols=["doc"]
    )
    state = materialize_latest(res, keys=["user_id"], position=["ts", "event_id"])
    return state.select(
        "user_id",
        F.col("doc").alias("current_doc"),
        F.col("event_id").alias("last_event_id"),
    ).orderBy("user_id")


def apply_changes_lob_batch(
    spark: SparkSession,
    batch: DataFrame,
    epoch: int,
    state_dir: str,
    keys: list[str],
    position: list[str],
    lob_cols: list[str],
    op_col: str = "__op",
) -> None:
    """Streaming (foreachBatch) form of the LOB-aware CDC apply: merge a
    micro-batch whose updates may carry the unavailable-value
    placeholder into versioned state, resolving placeholders against
    BOTH in-batch writes and the persisted state's last real values.

    The trick is ordering: state rows (already resolved, at their
    original positions) union with the raw batch, then ONE
    resolve-then-fold pass per key — a placeholder in the batch
    inherits from whichever real write is latest, whether it arrived
    in this batch or ten epochs ago. State never stores placeholders,
    so the inheritance chain re-roots every epoch and per-batch cost is
    O(touched keys' rows), not O(history). Fault posture identical to
    apply_changes_batch (versioned dirs + atomic _LATEST)."""
    from ..streaming.commit import commit_pointer
    from ..streaming.upsert import read_state
    import os

    current = read_state(spark, state_dir, include_tombstones=True)
    # allowMissingColumns: see apply_changes_batch — widened batches
    # merge cleanly, older state rows surface NULL for new columns
    merged = batch if current is None else current.unionByName(
        batch, allowMissingColumns=True
    )
    resolved = resolve_unavailable(merged, keys, position, lob_cols)
    w = W.partitionBy(*keys).orderBy(*[F.desc(p) for p in position])
    new_state = (
        resolved.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    out = os.path.join(state_dir, f"v{epoch}")
    new_state.write.mode("overwrite").parquet(out)
    commit_pointer(state_dir, f"v{epoch}")


# --- I5 batch analog: exact dedup of an at-least-once stream -------------

@register(
    "cdc_dedup_stream",
    oracle="""
WITH doubled AS (
  SELECT event_id, user_id, event_type, ts FROM events
  UNION ALL
  SELECT event_id, user_id, event_type, ts FROM events WHERE event_id % 10 = 0
)
SELECT event_id, user_id, event_type, ts
FROM doubled
GROUP BY event_id, user_id, event_type, ts
ORDER BY event_id
""",
)
def cdc_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once → effectively-once: re-deliver 10% of events (the
    retry simulation), then dropDuplicates on the event key — the batch
    analog of dropDuplicatesWithinWatermark (I5)."""
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    doubled = ev.unionAll(ev.filter(F.col("event_id") % 10 == 0))
    return doubled.dropDuplicates(["event_id"]).orderBy("event_id")


# --- Change data feed: diff of two materialized snapshots ----------------

def snapshot_diff(
    before: DataFrame, after: DataFrame, keys: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Derive a change stream FROM two snapshots (the inverse of the
    materialize fold): keys only in `after` emit 'c', only in `before`
    emit 'd', present in both with any compare column changed (null-safe)
    emit 'u'; unchanged keys emit nothing. This is how a consumer
    re-captures changes between two point-in-time reads (read_state_at)
    without the original log — Debezium's snapshot-diff/"blocking
    re-snapshot" analog.

    Scale: one full shuffle of each side on the keys (sort-merge full
    outer join); at 100 TB pre-bucket both snapshots by key so the join
    is shuffle-free, and diff per partition."""
    b = before.select(
        *[F.col(k).alias(f"__bk_{k}") for k in keys],
        *[F.col(c).alias(f"__b_{c}") for c in compare_cols],
    )
    a = after.select(
        *[F.col(k).alias(f"__ak_{k}") for k in keys],
        *[F.col(c).alias(f"__a_{c}") for c in compare_cols],
    )
    cond = None
    for k in keys:
        c = F.col(f"__bk_{k}") == F.col(f"__ak_{k}")
        cond = c if cond is None else (cond & c)
    j = b.join(a, cond, "full_outer")
    changed = None
    for c in compare_cols:
        d = ~F.col(f"__b_{c}").eqNullSafe(F.col(f"__a_{c}"))
        changed = d if changed is None else (changed | d)
    op = (
        F.when(F.col(f"__bk_{keys[0]}").isNull(), "c")
        .when(F.col(f"__ak_{keys[0]}").isNull(), "d")
        .when(changed, "u")
    )
    return (
        j.withColumn("__op", op)
        .filter(F.col("__op").isNotNull())
        .select(
            *[
                F.coalesce(f"__bk_{k}", f"__ak_{k}").alias(k)
                for k in keys
            ],
            "__op",
            *[F.col(f"__b_{c}").alias(f"old_{c}") for c in compare_cols],
            *[F.col(f"__a_{c}").alias(f"new_{c}") for c in compare_cols],
        )
    )


_RANKED_STATE = """
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd'
              WHEN 'view' THEN 'r' ELSE 'u' END AS op
  FROM events
"""


@register(
    "cdc_snapshot_diff",
    oracle="""
WITH b_ranked AS (
""" + _RANKED_STATE.replace("FROM events",
                            "FROM events WHERE ts < TIMESTAMP '2024-01-15'") + """
), a_ranked AS (
""" + _RANKED_STATE + """
), b AS (SELECT user_id, event_id, value FROM b_ranked WHERE rn = 1 AND op <> 'd'),
a AS (SELECT user_id, event_id, value FROM a_ranked WHERE rn = 1 AND op <> 'd')
SELECT COALESCE(b.user_id, a.user_id) AS user_id,
       CASE WHEN b.user_id IS NULL THEN 'c'
            WHEN a.user_id IS NULL THEN 'd'
            ELSE 'u' END AS __op,
       b.value AS old_value, a.value AS new_value,
       b.event_id AS old_event_id, a.event_id AS new_event_id
FROM b FULL OUTER JOIN a ON b.user_id = a.user_id
WHERE b.user_id IS NULL OR a.user_id IS NULL
   OR b.event_id IS DISTINCT FROM a.event_id
   OR b.value IS DISTINCT FROM a.value
ORDER BY user_id
""",
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change feed between the mid-month state and the final state of the
    events stream: materialize both snapshots, then snapshot_diff emits
    the net c/u/d per user."""
    ev = table(spark, sf_dir, "events").withColumn("__op", F.expr(OP_CASE))
    ev = ev.select("user_id", "event_id", "value", "ts", "__op")
    before = materialize_latest(
        ev.filter(F.col("ts") < F.lit("2024-01-15").cast("timestamp_ntz")),
        keys=["user_id"], position=["ts", "event_id"],
    )
    after = materialize_latest(ev, keys=["user_id"], position=["ts", "event_id"])
    return (
        snapshot_diff(before, after, ["user_id"], ["value", "event_id"])
        .select(
            "user_id", "__op", "old_value", "new_value",
            "old_event_id", "new_event_id",
        )
        .orderBy("user_id")
    )


@register(
    "cdc_materialize_partitioned",
    oracle="""
WITH mapped AS (
  SELECT user_id, event_id, value, ts,
         CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd'
              WHEN 'view' THEN 'r' ELSE 'u' END AS op
  FROM events
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM mapped
)
SELECT user_id, value AS current_value, event_id AS last_event_id
FROM ranked
WHERE rn = 1 AND op <> 'd'
ORDER BY user_id
""",
)
def cdc_materialize_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INCREMENTAL materialization path proving the same answer as
    the one-shot fold (same oracle as cdc_materialize): the stream is
    split at mid-month into two micro-batches, applied through the
    bucket-partitioned state (epoch 1 rewrites only touched buckets),
    and the assembled state must hash-match the monolithic fold."""
    from ..streaming.partitioned_state import (
        apply_changes_partitioned,
        read_state_partitioned,
    )

    ev = table(spark, sf_dir, "events").withColumn("__op", F.expr(OP_CASE))
    ev = ev.select("user_id", "event_id", "value", "ts", "__op")
    cut = F.lit("2024-01-15").cast("timestamp_ntz")
    state = scratch_dir("cdc_part_state_")  # lazily read below
    apply_changes_partitioned(
        spark, ev.filter(F.col("ts") < cut), 0, state,
        keys=["user_id"], position=["ts", "event_id"], n_buckets=8,
    )
    apply_changes_partitioned(
        spark, ev.filter(F.col("ts") >= cut), 1, state,
        keys=["user_id"], position=["ts", "event_id"], n_buckets=8,
    )
    return (
        read_state_partitioned(spark, state)
        .select(
            "user_id",
            F.col("value").alias("current_value"),
            F.col("event_id").alias("last_event_id"),
        )
        .orderBy("user_id")
    )


# --- table checksum (anti-entropy verification) ---------------------------

@register(
    "cdc_table_checksum",
    oracle="""
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       bit_xor(CAST('0x' || substring(md5(concat_ws('|',
           coalesce(CAST(c_custkey AS VARCHAR), '<null>'),
           coalesce(CAST(c_name AS VARCHAR), '<null>'),
           coalesce(CAST(c_nationkey AS VARCHAR), '<null>'),
           coalesce(CAST(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
                         AS VARCHAR), '<null>'))), 1, 15) AS BIGINT)
       ) AS checksum
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def cdc_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive per-segment table fingerprint: XOR of a
    portable 60-bit row hash (md5 prefix over the canonical row string;
    money rendered as exact fixed-point cents — floats never touch a
    string). This is the anti-entropy check CDC deployments run to
    verify a materialized replica against its source WITHOUT moving
    either table: both sides compute (group, count, checksum) locally
    and compare KB-sized summaries.

    Canonical form: every field is coalesce(CAST(col AS STRING),
    '<null>') before joining with '|' — concat_ws silently SKIPS null
    arguments on both engines, which would let rows differing only in
    WHICH field is null collide. The remaining caveat (documented, not
    defended): a value containing the literal '|' or '<null>' can still
    alias; a production deployment would length-prefix or escape.

    Scale: one hash aggregate — XOR is commutative/associative, so the
    partial-final plan is exact under any partitioning and any row
    order; a 100 TB table reduces to one row per group. Differential
    twin: DuckDB computes the identical hash on the identical canonical
    string (same md5-prefix scheme as dedup_minhash_portable)."""
    c = table(spark, sf_dir, "customer")
    row_hash = (
        "CAST(conv(substring(md5(concat_ws('|',"
        " coalesce(CAST(c_custkey AS STRING), '<null>'),"
        " coalesce(CAST(c_name AS STRING), '<null>'),"
        " coalesce(CAST(c_nationkey AS STRING), '<null>'),"
        " coalesce(CAST(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)"
        " AS STRING), '<null>'))),"
        " 1, 15), 16, 10) AS BIGINT)"
    )
    return (
        c.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_rows"),
            F.expr(f"bit_xor({row_hash})").alias("checksum"),
        )
        .orderBy("c_mktsegment")
    )


# --- incremental aggregate maintenance (self-maintainable view) ----------

_IVM_SPLIT = "TIMESTAMP '2024-01-15'"


@register(
    "cdc_incremental_agg",
    oracle="""
WITH r AS (
  SELECT user_id, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd'
              WHEN 'view' THEN 'r' ELSE 'u' END AS op
  FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_live,
       SUM(CAST(floor(value * 10000 + 0.5) AS BIGINT))
         / CAST(10000 AS DOUBLE) AS sum_value
FROM r WHERE rn = 1 AND op <> 'd'
GROUP BY event_type ORDER BY event_type
""",
)
def cdc_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: a per-type (live-user count, money
    sum) aggregate over materialized CDC state, refreshed by DELTA
    APPLICATION instead of recomputation — view(T) ⊖ retract(affected)
    ⊕ add(affected), where `affected` is only the keys touched after
    the split point.

    The Spark side REALLY takes the incremental path (pre-split view,
    retraction of affected keys' old contributions, addition of their
    new state, combined as signed partials in one union-aggregate);
    the oracle recomputes the view from scratch over the final state.
    Hash equality is the self-maintainability proof: delta refresh ≡
    full refresh.

    Scale: the refresh cost is O(|delta| + |affected-key lookback|),
    not O(|base|) — the 100 TB view updates by joining the delta's key
    set back to state, never rescanning history; count and fixed-point
    sum are the self-maintainable aggregate class (min/max would need
    the per-key state this module already materializes)."""
    ev = table(spark, sf_dir, "events")
    ops = ev.select(
        "user_id", "event_type", "value", "ts", "event_id",
        F.expr(OP_CASE).alias("__op"),
    )
    pre = ops.filter(F.expr(f"ts < {_IVM_SPLIT}"))
    delta = ops.filter(F.expr(f"ts >= {_IVM_SPLIT}"))
    affected = delta.select("user_id").distinct()

    state_pre = materialize_latest(pre, ["user_id"], ["ts", "event_id"])
    state_post_affected = materialize_latest(
        ops.join(affected, "user_id"), ["user_id"], ["ts", "event_id"]
    )
    retract = state_pre.join(affected, "user_id")

    fx = "CAST(floor(value * 10000 + 0.5) AS BIGINT)"
    signed = (
        state_pre.select("event_type", F.lit(1).alias("sgn"), F.expr(fx).alias("v"))
        .unionAll(
            retract.select(
                "event_type", F.lit(-1).alias("sgn"), F.expr(fx).alias("v")
            )
        )
        .unionAll(
            state_post_affected.select(
                "event_type", F.lit(1).alias("sgn"), F.expr(fx).alias("v")
            )
        )
    )
    return (
        signed.groupBy("event_type")
        .agg(
            F.sum("sgn").cast("bigint").alias("n_live"),
            (F.sum(F.col("sgn") * F.col("v")) / F.lit(10000.0)).alias("sum_value"),
        )
        .filter(F.col("n_live") > 0)
        .orderBy("event_type")
    )


@register(
    "cdc_txn_reassembly",
    oracle="""
WITH d AS (
  SELECT event_id % 256 AS tx_id, ts
  FROM events WHERE event_type <> 'error'
), m AS (
  SELECT event_id % 256 AS tx_id, MIN(ts) AS tx_ts,
         COUNT(*) AS event_count
  FROM events GROUP BY 1
)
SELECT d.tx_id,
       CAST(COUNT(*) AS BIGINT) AS delivered,
       CAST(MAX(m.event_count) AS BIGINT) AS expected,
       CAST(COUNT(*) = CAST(MAX(m.event_count) AS BIGINT) AS INT) AS complete
FROM d
JOIN m ON d.tx_id = m.tx_id
      AND d.ts >= m.tx_ts AND d.ts <= m.tx_ts + INTERVAL 3650 DAYS
GROUP BY d.tx_id
ORDER BY d.tx_id
""",
)
def cdc_txn_reassembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transaction-metadata reassembly (SURVEY §1.1), batch twin of the
    watermarked stream-stream join ``streaming.joins.transaction_
    reassembly`` — the SAME function runs here on batch frames
    (withWatermark is a no-op in batch, the interval-join condition is
    identical), so the oracle differentially checks the join logic the
    streaming path uses. Debezium's BEGIN/END metadata topic carries
    (tx_id, event_count); consumers attach it to data events and gate
    on completeness. The fixture makes completeness REAL: transactions
    are event_id%256 groups, the delivered stream drops 'error' events,
    the metadata counts ALL events — so ~60% of transactions are
    genuinely incomplete and the complete flag separates them."""
    from ..streaming.joins import transaction_reassembly

    ev = table(spark, sf_dir, "events")
    d = ev.filter(F.col("event_type") != "error").select(
        (F.col("event_id") % 256).alias("tx_id"), "ts"
    )
    m = ev.groupBy((F.col("event_id") % 256).alias("tx_id")).agg(
        F.min("ts").alias("tx_ts"), F.count("*").alias("event_count")
    )
    # broadcast the METADATA side (one row per transaction — KB-to-MB at
    # any scale) rather than letting size stats pick: at test SF the
    # optimizer happily broadcasts the DATA side, which at 100 TB is the
    # fact stream. The hint travels with the DataFrame through the
    # shared join function; the streaming caller passes unhinted streams
    # (stream-stream joins cannot broadcast) and is unaffected.
    out = transaction_reassembly(
        d, F.broadcast(m), tx_col="tx_id", max_tx_span="INTERVAL 3650 DAYS"
    )
    return (
        out.groupBy("tx_id")
        .agg(
            F.count("*").alias("delivered"),
            F.max("tx_event_count").alias("expected"),
        )
        .withColumn(
            "complete", (F.col("delivered") == F.col("expected")).cast("int")
        )
        .orderBy("tx_id")
    )


# --- B2+: ExtractChangedRecordState + add.fields -------------------------

@register(
    "cdc_changed_columns",
    oracle="""
WITH v AS (
  SELECT event_id, user_id, value, event_type,
         lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS pv,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
           AS pt
  FROM events
)
SELECT event_id,
       concat_ws(',',
         CASE WHEN NOT user_id IS NOT DISTINCT FROM user_id
              THEN 'user_id' END,
         CASE WHEN NOT pv IS NOT DISTINCT FROM value THEN 'value' END,
         CASE WHEN NOT pt IS NOT DISTINCT FROM event_type
              THEN 'event_type' END) AS changed,
       (pv IS NOT DISTINCT FROM value)::INT
         + (pt IS NOT DISTINCT FROM event_type)::INT
         + 1 AS n_unchanged
FROM v WHERE pv IS NOT NULL
ORDER BY event_id
""",
)
def cdc_changed_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExtractChangedRecordState differential: synthesize genuine
    UPDATE envelopes (before = the user's previous (value, event_type)
    version via lag, after = the current one — the fixture's own
    deterministic version chain), run the generic SMT, and compare the
    changed/unchanged column sets the SMT derives against the oracle's
    lag-recomputation. user_id is the partition key, so it can never
    appear in ``changed`` — the oracle's impossible first CASE pins
    that. Output renders the arrays as a comma-joined string (fields
    are compared in schema order on both sides)."""
    from .envelope import changed_record_state

    import pyspark.sql.types as T

    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("event_type", T.StringType()),
    ])
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("event_id")
    row = F.struct("user_id", "value", "event_type")
    versioned = (
        ev.withColumn("before_img", F.lag(row).over(w))
        .filter(F.col("before_img").isNotNull())
        .select(
            F.struct(F.col("event_id").alias("id")).alias("key"),
            F.struct(
                F.col("before_img").alias("before"),
                row.alias("after"),
                F.lit("u").alias("op"),
                F.col("event_id").alias("pos"),
            ).alias("value"),
        )
    )
    out = changed_record_state(versioned, schema)
    return (
        out.select(
            F.col("key.id").alias("event_id"),
            F.array_join("__changed", ",").alias("changed"),
            F.size("__unchanged").alias("n_unchanged"),
        )
        .orderBy("event_id")
    )


@register(
    "cdc_unwrap_add_fields",
    oracle="""
SELECT event_id, user_id, value,
       CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd'
            WHEN 'view' THEN 'r' ELSE 'u' END AS __op,
       'events' AS __source_table,
       event_id AS __source_pos,
       (CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd'
             WHEN 'view' THEN 'r' ELSE 'u' END = 'r') AS __source_snapshot
FROM events
ORDER BY event_id
""",
)
def cdc_unwrap_add_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExtractNewRecordState with ``add.fields = source.table,
    source.pos, source.snapshot`` (the SMT's metadata-attachment
    option; Debezium naming: ``__source_table`` etc.). The oracle
    recomputes every attached field from the fixture's envelope
    construction rules."""
    ev = table(spark, sf_dir, "events")
    env = to_envelope(ev)
    flat = unwrap(
        env,
        add_fields=["source.table", "source.pos", "source.snapshot"],
    )
    return flat.select(
        "event_id", "user_id", "value", "__op",
        "__source_table", "__source_pos", "__source_snapshot",
    ).orderBy("event_id")


@register(
    "cdc_txn_metadata",
    oracle="""
WITH e AS (
  SELECT event_id, user_id, event_id // 100 AS tx,
         CASE WHEN user_id % 2 = 0 THEN 'events_a'
              ELSE 'events_b' END AS tbl
  FROM events
)
SELECT event_id, CAST(tx AS VARCHAR) AS tx_id,
       row_number() OVER (PARTITION BY tx ORDER BY event_id)
         AS total_order,
       row_number() OVER (PARTITION BY tx, tbl ORDER BY event_id)
         AS dc_order
FROM e ORDER BY event_id
""",
)
def cdc_txn_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``provide.transaction.metadata`` differential: envelopes routed
    across two logical tables get the transaction block attached
    (id / total_order / data_collection_order); the oracle recomputes
    both orders as row_numbers over the same (tx) and (tx, table)
    partitions. Transactions are position blocks of 100 — small and
    numerous, the shape the window strategy note in
    attach_transaction_metadata assumes."""
    from .envelope import attach_transaction_metadata

    ev = table(spark, sf_dir, "events")
    uid = F.coalesce("value.after.user_id", "value.before.user_id")
    env = to_envelope(ev).withColumn(
        "value",
        F.col("value").withField(
            "source.table",
            F.when(uid % 2 == 0, F.lit("events_a"))
            .otherwise(F.lit("events_b")),
        ),
    )
    out = attach_transaction_metadata(
        env, tx_id=F.expr("value.source.pos DIV 100")
    )
    return out.select(
        F.col("key.id").alias("event_id"),
        F.col("value.transaction.id").alias("tx_id"),
        F.col("value.transaction.total_order").alias("total_order"),
        F.col("value.transaction.data_collection_order").alias("dc_order"),
    ).orderBy("event_id")


@register(
    "cdc_connect_decimal_wire",
    oracle="""
WITH src AS (
  SELECT l_orderkey, l_linenumber,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS unscaled
  FROM lineitem
), hexed AS (
  SELECT l_orderkey, l_linenumber, unscaled,
         CASE WHEN length(to_hex(unscaled)) % 2 = 1
              THEN '0' || to_hex(unscaled) ELSE to_hex(unscaled) END AS h0
  FROM src
), framed AS (
  SELECT l_orderkey, l_linenumber, unscaled,
         CASE WHEN substr(h0, 1, 1) IN ('8','9','A','B','C','D','E','F')
              THEN '00' || h0 ELSE h0 END AS h
  FROM hexed
), wire AS (
  SELECT l_orderkey, l_linenumber, unscaled, h,
         to_base64(from_hex(h)) AS wire_b64
  FROM framed
)
SELECT l_orderkey, l_linenumber, unscaled, wire_b64,
       (ltrim(to_hex(from_base64(wire_b64)), '0') = ltrim(h, '0'))
         AS decoded_ok
FROM wire
ORDER BY l_orderkey, l_linenumber, unscaled
LIMIT 2000
""",
)
def cdc_connect_decimal_wire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka Connect ``Decimal`` wire encoding — what Debezium's
    ``decimal.handling.mode=precise`` (the default) actually puts in a
    JSON payload: base64 of the minimal BIG-ENDIAN two's-complement
    unscaled value, scale carried in the schema. Encoding rules proven
    here: minimal hex (no leading zeros), left-pad to whole bytes, and
    a 00 sign byte whenever the top bit would read as negative —
    exactly BigInteger.toByteArray(). ``decoded_ok`` closes the loop:
    the wire bytes parse back to the original unscaled value (string-
    level round trip, engine-portable).

    The unscaled derivation floor(x*100+0.5) is the tie-free IEEE
    rounding both engines compute bit-identically (double→DECIMAL casts
    round half-up in Spark but half-even in DuckDB — the same boundary
    the round4x invariant exists for). All expression-level: conv /
    hex / unhex / base64 are codegen'd built-ins, zero UDFs."""
    li = table(spark, sf_dir, "lineitem")
    u = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")
    h0 = F.upper(F.conv(u.cast("string"), 10, 16))
    h0 = F.when(F.length(h0) % 2 == 1, F.concat(F.lit("0"), h0)).otherwise(h0)
    h = F.when(
        F.substring(h0, 1, 1).isin(list("89ABCDEF")),
        F.concat(F.lit("00"), h0),
    ).otherwise(h0)
    out = li.select(
        "l_orderkey", "l_linenumber",
        u.alias("unscaled"),
        h.alias("h"),
        F.base64(F.unhex(h)).alias("wire_b64"),
    )
    decoded_ok = (
        F.ltrim(F.upper(F.hex(F.unbase64("wire_b64"))), F.lit("0"))
        == F.ltrim(F.col("h"), F.lit("0"))
    )
    return (
        out.select(
            "l_orderkey", "l_linenumber", "unscaled", "wire_b64",
            decoded_ok.alias("decoded_ok"),
        )
        # (l_orderkey, l_linenumber) is NOT unique in the fixture —
        # unscaled completes the deterministic-LIMIT tie-break (rows
        # identical on all three are fully interchangeable: wire_b64 /
        # decoded_ok are functions of unscaled)
        .orderBy("l_orderkey", "l_linenumber", "unscaled")
        .limit(2000)
    )


@register(
    "cdc_tombstones",
    oracle="""
WITH env AS (
  SELECT event_id,
         CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd'
              WHEN 'view' THEN 'r' ELSE 'u' END AS op
  FROM events
)
SELECT event_id, op, 0 AS is_tombstone FROM env
UNION ALL
SELECT event_id, NULL AS op, 1 AS is_tombstone FROM env WHERE op = 'd'
ORDER BY event_id, is_tombstone
""",
)
def cdc_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``tombstones.on.delete`` differential: every delete is followed
    by a same-key NULL-value record; the oracle rebuilds the stream as
    the UNION ALL of all events plus one tombstone per delete. The
    is_tombstone flag doubles as the within-key order column (the
    tombstone sorts after its delete)."""
    from .envelope import emit_tombstones

    ev = table(spark, sf_dir, "events")
    out = emit_tombstones(to_envelope(ev))
    return (
        out.select(
            F.col("key.id").alias("event_id"),
            F.col("value.op").alias("op"),
            F.col("value").isNull().cast("int").alias("is_tombstone"),
        )
        .orderBy("event_id", "is_tombstone")
    )


@register(
    "cdc_dlq_routing",
    oracle="""
SELECT event_id,
       CASE WHEN event_id % 20 = 0 THEN 'dlq' ELSE 'ok' END AS route
FROM events
ORDER BY event_id
""",
)
def cdc_dlq_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DLQ differential: every 20th record's value is corrupted
    (truncated mid-token — invalid JSON) before the parse;
    ``parse_envelope_dlq`` must route exactly those to the DLQ and
    parse the rest. The oracle states the corruption rule directly; the
    union of both routes keyed back to event_id proves no record is
    lost or double-routed (the key stays parseable on DLQ rows — the
    Connect contract keeps raw bytes for replay)."""
    from .envelope import parse_envelope_dlq

    ev = table(spark, sf_dir, "events")
    wire = to_envelope(ev, as_json=True)
    key_id = F.get_json_object("key", "$.id").cast("bigint")
    corrupted = wire.withColumn(
        "value",
        F.when(key_id % 20 == 0, F.substring("value", 1, 10))
        .otherwise(F.col("value")),
    )
    good, dlq = parse_envelope_dlq(
        corrupted, EVENT_ROW_SCHEMA, shared_scan=True
    )
    ok_rows = good.select(
        F.col("key.id").alias("event_id"), F.lit("ok").alias("route")
    )
    dlq_rows = dlq.select(
        F.get_json_object("key", "$.id").cast("bigint").alias("event_id"),
        F.lit("dlq").alias("route"),
    )
    return ok_rows.unionByName(dlq_rows).orderBy("event_id")
