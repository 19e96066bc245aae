"""Debezium change-event envelope model (SURVEY.md §1.1).

The envelope is the reference's core abstraction [/root/reference/
README.md:13 — "data streaming platform for change data capture"]:
a keyed record whose value is ``{before, after, source, op, ts_ms}``
with ``op ∈ {c, u, d, r}`` (create / update / delete / snapshot-read),
followed by a tombstone (null value) after each delete so log compaction
can drop the key. Reconstructed per SURVEY.md §0 citation policy — no
envelope source exists in the archived checkout.

This module defines the envelope as Spark StructTypes and provides:
- ``envelope_schema(row_schema)`` — typed envelope for any table schema.
- ``to_envelope(events_df)`` — deterministic batch synthesis of a CDC
  stream from the `events` fixture (the test stand-in for a Kafka topic).
- ``parse_envelope(raw_df, row_schema)`` — A2: JSON bytes → typed struct.
- ``unwrap(env_df)`` — B2 ExtractNewRecordState: envelope → flat row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Mapping from the fixture's event_type to envelope ops — deterministic
# batch simulation of a CDC stream (SURVEY.md §7 M4).
OP_CASE = (
    "CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd' "
    "WHEN 'view' THEN 'r' ELSE 'u' END"
)


def source_schema() -> T.StructType:
    """`source` block: connector metadata + total-order position (Oracle:
    scn; Db2: commit_lsn; Cassandra: commitlog file+pos — SURVEY.md §1.1).
    Here: a single monotonic `pos`."""
    return T.StructType(
        [
            T.StructField("connector", T.StringType()),
            T.StructField("db", T.StringType()),
            T.StructField("table", T.StringType()),
            T.StructField("snapshot", T.BooleanType()),
            T.StructField("pos", T.LongType()),
        ]
    )


def envelope_schema(row_schema: T.StructType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("before", row_schema),
            T.StructField("after", row_schema),
            T.StructField("source", source_schema()),
            T.StructField("op", T.StringType()),
            T.StructField("ts_ms", T.LongType()),
        ]
    )


EVENT_ROW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def to_envelope(events: DataFrame, as_json: bool = False) -> DataFrame:
    """Synthesize a Debezium-shaped change stream from the events fixture.

    Output: (key struct, value envelope struct) — or JSON strings when
    ``as_json`` (the Kafka wire shape). Deletes get ``after = NULL`` and
    ``before`` carrying the last row image; inserts/reads get
    ``before = NULL``. ts_ms is the event time in epoch-millis, pos the
    event_id (monotonic per fixture construction).
    """
    row = F.struct(
        F.col("event_id"), F.col("user_id"), F.col("value")
    )
    null_row = F.lit(None).cast(EVENT_ROW_SCHEMA)
    op = F.expr(OP_CASE)
    env = events.select(
        F.struct(F.col("event_id").alias("id")).alias("key"),
        F.struct(
            F.when(op == "d", row).otherwise(null_row).alias("before"),
            F.when(op != "d", row).otherwise(null_row).alias("after"),
            F.struct(
                F.lit("sim").alias("connector"),
                F.lit("testdb").alias("db"),
                F.lit("events").alias("table"),
                (op == "r").alias("snapshot"),
                F.col("event_id").alias("pos"),
            ).alias("source"),
            op.alias("op"),
            F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 1000").alias("ts_ms"),
        ).alias("value"),
    )
    if as_json:
        env = env.select(
            F.to_json("key").alias("key"), F.to_json("value").alias("value")
        )
    return env


#: default record-key schema — the single-column surrogate PK every test
#: fixture uses. Tables whose key is composite or differently named pass
#: their own ``key_schema`` to :func:`parse_envelope` /
#: :func:`parse_envelope_dlq` (a hardcoded id:long would silently parse
#: their keys to NULL structs).
DEFAULT_KEY_SCHEMA = T.StructType([T.StructField("id", T.LongType())])


def parse_envelope(
    raw: DataFrame,
    row_schema: T.StructType,
    key_schema: T.StructType | None = None,
) -> DataFrame:
    """A2 envelope parse: JSON key/value strings → typed structs.

    Tombstones (null value, emitted after deletes for log compaction)
    survive as rows with ``value IS NULL`` — callers filter or route them.
    On a real topic the input is ``spark.readStream.format("kafka")`` with
    binary key/value; the cast + from_json chain is identical.
    ``key_schema`` types the record key (default
    :data:`DEFAULT_KEY_SCHEMA`, a single ``id: long``).
    """
    key_schema = key_schema or DEFAULT_KEY_SCHEMA
    return raw.select(
        F.from_json(F.col("key").cast("string"), key_schema).alias("key"),
        F.from_json(
            F.col("value").cast("string"), envelope_schema(row_schema)
        ).alias("value"),
    )


def unwrap(env: DataFrame, drop_deletes: bool = False,
           passthrough: list[str] | None = None,
           add_fields: list[str] | None = None) -> DataFrame:
    """B2 ExtractNewRecordState: flatten envelope → row + __op/__ts_ms/
    __deleted metadata columns; tombstones dropped; deletes keep the
    before-image (rewrite-deletes mode) unless ``drop_deletes``.
    ``passthrough`` carries record-metadata columns (e.g. ``topic``)
    through the flatten, as Kafka Connect does.

    ``add_fields`` mirrors the SMT's ``add.fields`` option: each entry
    is an envelope field path (``op``, ``ts_ms``, ``source.table``,
    ``source.pos``, ...) attached with Debezium's naming convention —
    ``__`` prefix, dots → ``_`` (``source.table`` → ``__source_table``).
    The default metadata columns above predate the option and stay."""
    extra = passthrough or []
    paths = [p for p in (add_fields or [])
             if p not in ("op", "ts_ms")]  # already attached as __op/__ts_ms
    added_names = ["__" + p.replace(".", "_") for p in paths]
    added = [F.col(f"value.{p}").alias(n)
             for p, n in zip(paths, added_names)]
    out = (
        env.filter(F.col("value").isNotNull())
        .select(
            F.coalesce("value.after", "value.before").alias("row"),
            F.col("value.op").alias("__op"),
            F.col("value.ts_ms").alias("__ts_ms"),
            (F.col("value.op") == "d").alias("__deleted"),
            F.col("value.source.pos").alias("__pos"),
            *added,
            *extra,
        )
        .select("row.*", "__op", "__ts_ms", "__deleted", "__pos",
                *added_names, *extra)
    )
    if drop_deletes:
        out = out.filter(~F.col("__deleted"))
    return out


def changed_record_state(env: DataFrame,
                         row_schema: T.StructType) -> DataFrame:
    """ExtractChangedRecordState SMT (public Debezium: emits, per
    event, WHICH columns changed between the before and after images —
    shipped as record headers; surfaced here as array columns, Spark's
    native shape for list metadata).

    Per field f of the row schema: changed iff ``before.f`` is NOT
    null-safe-equal to ``after.f``. Consequently a create (before NULL)
    marks every non-NULL after-field changed and a delete (after NULL)
    marks every non-NULL before-field changed — matching the SMT's
    "all columns" convention for image-less ops. Tombstones are
    dropped (no images to compare). Purely expression-level: one
    projection, no shuffle, whole-stage-codegen friendly."""
    names = [f.name for f in row_schema.fields]
    changed = F.filter(
        F.array(*[
            F.when(
                ~F.col(f"value.before.{n}").eqNullSafe(
                    F.col(f"value.after.{n}")),
                F.lit(n),
            )
            for n in names
        ]),
        lambda x: x.isNotNull(),
    )
    return (
        env.filter(F.col("value").isNotNull())
        .select(
            "key",
            "value",
            changed.alias("__changed"),
            F.array_except(
                F.array(*[F.lit(n) for n in names]), changed
            ).alias("__unchanged"),
        )
    )


# --- Avro wire format -----------------------------------------------------

_AVRO_OK: bool | None = None


def avro_available(spark: "DataFrame.sparkSession") -> bool:
    """True iff the spark-avro data source is on the classpath (it is an
    external module: --packages org.apache.spark:spark-avro_2.13).
    Probed once per process; the result picks the wire path below."""
    global _AVRO_OK
    if _AVRO_OK is None:
        try:
            from pyspark.sql.avro.functions import to_avro

            spark.range(1).select(
                to_avro(F.struct(F.col("id")))
            ).collect()
            _AVRO_OK = True
        except Exception:
            _AVRO_OK = False
    return _AVRO_OK


def envelope_avro_schema_json(row_schema: T.StructType) -> str:
    """Avro record schema for the envelope — the schema a registry would
    serve. Derived mechanically from the Spark StructType so the JSON
    and Avro wire paths stay in lockstep."""
    import json

    def avro_type(dt: T.DataType):
        if isinstance(dt, T.LongType):
            return "long"
        if isinstance(dt, T.IntegerType):
            return "int"
        if isinstance(dt, T.DoubleType):
            return "double"
        if isinstance(dt, T.BooleanType):
            return "boolean"
        if isinstance(dt, T.StringType):
            return "string"
        if isinstance(dt, T.DecimalType):
            # Debezium decimal.handling.mode=string: exact decimal
            # rendering on the wire (Oracle NUMBER columns); the decode
            # half re-coerces to DecimalType
            return "string"
        if isinstance(dt, T.StructType):
            import hashlib

            digest = hashlib.md5(dt.simpleString().encode()).hexdigest()[:8]
            return {
                "type": "record",
                "name": f"r{digest}",
                "fields": [
                    {"name": f.name, "type": ["null", avro_type(f.dataType)]}
                    for f in dt.fields
                ],
            }
        raise TypeError(f"no Avro mapping for {dt}")

    return json.dumps(avro_type(envelope_schema(row_schema)))


_KEY_SCHEMA = T.StructType([T.StructField("id", T.LongType())])


def parse_envelope_avro(raw: DataFrame, row_schema: T.StructType) -> DataFrame:
    """A2 envelope parse, Avro wire format: binary value → typed envelope
    struct (Confluent-style registry deployments; the 5-byte schema-id
    framing must be stripped upstream with
    ``F.expr("substring(value, 6)")`` when records come from a registry-
    aware producer).

    Path selection: the JVM ``from_avro`` expression when the spark-avro
    module is on the classpath (whole-stage codegen — the fast path);
    otherwise the pure-Python spec codec over Arrow-batched mapInPandas
    (:mod:`.avro_codec` — this offline container's path, wire-compatible
    with the JVM reference implementation by test)."""
    if avro_available(raw.sparkSession):
        from pyspark.sql.avro.functions import from_avro

        schema = envelope_avro_schema_json(row_schema)
        return raw.select(
            F.from_json(F.col("key").cast("string"), _KEY_SCHEMA).alias("key"),
            from_avro(F.col("value"), schema).alias("value"),
        )
    return parse_envelope_avro_py(raw, row_schema)


def parse_envelope_avro_py(raw: DataFrame, row_schema: T.StructType) -> DataFrame:
    """Python-codec Avro envelope parse (the jar-less fallback).
    Tombstones (null value) survive as ``value IS NULL`` rows, exactly
    like the JSON path."""
    import json as _json

    schema_json = envelope_avro_schema_json(row_schema)
    out_schema = T.StructType(
        [
            T.StructField("key", _KEY_SCHEMA),
            T.StructField("value", envelope_schema(row_schema)),
        ]
    )

    dec_fields = [
        f.name for f in row_schema.fields if isinstance(f.dataType, T.DecimalType)
    ]

    def decode(batches):
        from decimal import Decimal

        import pandas as pd

        from debezium_incubator_spark.cdc.avro_codec import AvroCodec

        codec = AvroCodec(schema_json)

        def fix_decimals(env: dict | None) -> dict | None:
            # decimal.handling.mode=string rides the wire as strings;
            # restore exact DecimalType values for the Spark schema
            if env is None or not dec_fields:
                return env
            for image in ("before", "after"):
                row = env.get(image)
                if row:
                    for f in dec_fields:
                        if row.get(f) is not None:
                            row[f] = Decimal(row[f])
            return env

        for pdf in batches:
            keys = [None if k is None else _json.loads(k) for k in pdf["key"]]
            vals = [
                None if v is None else fix_decimals(codec.decode(v))
                for v in pdf["value"]
            ]
            yield pd.DataFrame({"key": keys, "value": vals})

    return raw.mapInPandas(decode, out_schema)


def envelope_to_avro_py(env: DataFrame, row_schema: T.StructType) -> DataFrame:
    """Encode (key struct, value envelope struct) → (key JSON string,
    value Avro binary) with the Python codec — the producer half of the
    jar-less wire path (tombstones pass through as null values)."""
    schema_json = envelope_avro_schema_json(row_schema)

    def encode(batches):
        import json as _json

        import pandas as pd

        from debezium_incubator_spark.cdc.avro_codec import AvroCodec

        codec = AvroCodec(schema_json)
        for pdf in batches:
            keys = [None if k is None else _json.dumps(k) for k in pdf["key"]]
            vals = [None if v is None else codec.encode(v) for v in pdf["value"]]
            yield pd.DataFrame({"key": keys, "value": vals})

    return env.mapInPandas(encode, "key STRING, value BINARY")


# --- Connector-specific source positions (SURVEY.md §1.1) -----------------

# Each relocated connector (README.md:21-23) defines total order with its
# own position fields; consumers must fold state in THAT order. The
# engine treats position as an ordered COLUMN LIST, so every
# materialization (materialize_latest, scd2_history, upsert) already
# accepts compound positions — this table is the per-connector contract.
POSITION_COLUMNS: dict[str, list[str]] = {
    "oracle": ["commit_scn", "scn"],        # redo log SCNs
    "db2": ["commit_lsn", "change_lsn"],    # ASN capture LSNs
    "cassandra": ["commitlog_file", "commitlog_pos"],  # per-node log
    "sim": ["pos"],                          # this repo's synthesized stream
}


def connector_source_schema(connector: str) -> T.StructType:
    """`source` block with the connector's native position fields."""
    base = [
        T.StructField("connector", T.StringType()),
        T.StructField("db", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("snapshot", T.BooleanType()),
    ]
    pos_types = {
        "oracle": [("commit_scn", T.LongType()), ("scn", T.LongType()),
                   ("txId", T.StringType())],
        "db2": [("commit_lsn", T.StringType()), ("change_lsn", T.StringType())],
        "cassandra": [("commitlog_file", T.StringType()),
                      ("commitlog_pos", T.LongType())],
        "sim": [("pos", T.LongType())],
    }
    if connector not in pos_types:
        raise ValueError(f"unknown connector '{connector}' "
                         f"(one of {sorted(pos_types)})")
    return T.StructType(
        base + [T.StructField(n, t) for n, t in pos_types[connector]]
    )


def attach_transaction_metadata(env: DataFrame,
                                tx_id) -> DataFrame:
    """``provide.transaction.metadata`` (public Debezium): when
    enabled, every change event's envelope gains a ``transaction``
    block — ``id`` (the transaction identifier), ``total_order``
    (the event's 1-based position within the transaction) and
    ``data_collection_order`` (its position among the same table's
    events in that transaction). ``tx_id`` is a Column mapping each
    event to its transaction (from the source connector's
    BEGIN/COMMIT framing; the fixture derives it from positions).

    Both orders are row_numbers over the transaction partitions in
    source-position order — two window passes sharing one shuffle key
    family; at scale transactions are small and numerous, so the
    windows are narrow and skew-free by construction.

    Events OUTSIDE any transaction (``tx_id`` NULL — autocommit
    statements in the source) carry ``transaction = NULL``, matching
    Debezium; they are never grouped into a fake NULL-keyed
    transaction."""
    from pyspark.sql.window import Window as W

    pos = F.col("value.source.pos")
    wt = W.partitionBy("__tx_id").orderBy(pos)
    wd = W.partitionBy("__tx_id", F.col("value.source.table")).orderBy(pos)
    block = F.struct(
        F.col("__tx_id").cast("string").alias("id"),
        F.row_number().over(wt).cast("long").alias("total_order"),
        F.row_number().over(wd).cast("long").alias("data_collection_order"),
    )
    return (
        env.withColumn("__tx_id", tx_id)
        .withColumn(
            "value",
            F.col("value").withField(
                "transaction",
                F.when(F.col("__tx_id").isNotNull(), block),
            ),
        )
        .drop("__tx_id")
    )


def emit_tombstones(env: DataFrame) -> DataFrame:
    """``tombstones.on.delete=true`` (the Debezium default): after every
    delete event the connector emits a second record with the SAME key
    and a NULL value, so compacted Kafka topics eventually drop the key
    entirely. Consumers see ``value IS NULL`` rows (parse_envelope
    already preserves them); sinks that don't want them disable the
    config or drop them in the unwrap (which filters NULL values).

    Implementation: a filtered union — one extra pass over only the
    delete events (map-side, no shuffle), ordered after their delete by
    the (pos, is_tombstone) sort key the consumer contract specifies."""
    tomb = (
        env.filter(F.col("value.op") == "d")
        .withColumn("value", F.lit(None).cast(env.schema["value"].dataType))
    )
    return env.unionByName(tomb)


def parse_envelope_dlq(
    raw: DataFrame,
    row_schema: T.StructType,
    key_schema: T.StructType | None = None,
    shared_scan: bool = False,
    cut_strategy: str = "local_disk",
) -> tuple[DataFrame, DataFrame]:
    """Kafka Connect error handling (``errors.tolerance=all`` +
    ``errors.deadletterqueue.topic.name``): a record whose value fails
    to parse must NOT stop the pipeline — it routes to a dead-letter
    queue with the raw bytes intact for replay, while well-formed
    records flow on.

    Returns ``(good, dlq)``: ``good`` is the typed envelope frame
    (tombstones — NULL values — are well-formed and stay); ``dlq``
    carries the ORIGINAL key/value strings plus an ``__error`` column.
    Malformed detection uses the parser's own corrupt-record contract
    (``columnNameOfCorruptRecord``): PERMISSIVE ``from_json`` never
    yields a NULL struct for bad input — it yields all-null FIELDS,
    indistinguishable from a legitimately sparse record — so the
    corrupt column is the only reliable signal. ``key_schema`` types
    the good-route record key exactly as in :func:`parse_envelope`
    (default :data:`DEFAULT_KEY_SCHEMA`).

    ``shared_scan`` (round-13, guide §4.4 duplicated-evaluation class):
    by default the two returned frames are independent plans, and a
    caller that consumes BOTH (the DLQ differential's union) pays the
    parse repeatedly — Catalyst pushes each route's filter through the
    shared projection, inlining the ``from_json`` (and whatever synth
    chain feeds ``value``) into every Filter/Project it lands in
    (measured 4 evaluations in cdc_dlq_routing's plan; the old
    docstring's "no duplicate parse" claim was FALSE at the physical
    level). ``shared_scan=True`` cuts lineage below the parse with a
    lazy ``localCheckpoint`` — both frames then read the SAME
    materialized parse, executed once (plan shows Scan ExistingRDD ×2,
    from_json ×1; measured 4.9 s → 1.8 s at sf0.1). Batch-only (a
    checkpoint is illegal on streaming frames), so it stays opt-in for
    callers that consume both routes.  ``cut_strategy`` sets the
    WIRE-SIZED materialization's storage/recovery posture (lineage.py
    contract; default DISK_ONLY — memory-safe at any wire volume)."""
    from ..lineage import cut

    sch = envelope_schema(row_schema).add("_corrupt", T.StringType())
    parsed = raw.select(
        F.col("key"),
        F.col("value"),
        F.from_json(
            F.col("value").cast("string"), sch,
            {"columnNameOfCorruptRecord": "_corrupt"},
        ).alias("_v"),
    )
    if shared_scan:
        parsed = cut(parsed, cut_strategy)
    bad = F.col("value").isNotNull() & F.col("_v._corrupt").isNotNull()
    key_schema = key_schema or DEFAULT_KEY_SCHEMA
    good = parsed.filter(~bad).select(
        F.from_json(F.col("key").cast("string"), key_schema).alias("key"),
        F.col("_v").dropFields("_corrupt").alias("value"),
    )
    dlq = parsed.filter(bad).select(
        "key",
        "value",
        F.lit("envelope value failed to parse").alias("__error"),
    )
    return good, dlq
