"""Partition pruning operators (SURVEY.md §2A scan tier, 100 TB layout):
hive-style partitioned sink + the two read-side pruning mechanisms that
make a partitioned 100 TB table cheap to query.

Debezium's file/object-store materializations are conventionally laid
out as ``topic/partition-col=value/`` directories
[/root/reference/README.md:13 — the incubator connectors emit to Kafka;
downstream sinks partition by routing key]. On Spark the same layout
buys two distinct prunings, both demonstrated here as oracle-checked
queries plus plan audits (tests/test_scale_posture.py):

- **Static partition pruning**: a literal predicate on the partition
  column never touches non-matching directories — it is resolved at
  PLANNING time from the file index (``PartitionFilters`` in the scan
  node; ``PartitionCount`` shrinks). At 100 TB with daily partitions, a
  one-week query reads 7/3650 of the data before a single row is
  decoded.

- **Dynamic partition pruning (DPP)**: when the predicate is on a
  JOINED dimension (star-schema shape: fact partitioned by key, filter
  on dim attributes), the partition filter is not known statically.
  Spark inserts a ``dynamicpruningexpression`` into the fact scan that
  reuses the dim side's broadcast to enumerate surviving partition
  keys at RUNTIME — the fact side still skips whole directories. This
  is THE star-schema accelerator at scale: without it, a filtered-dim
  join scans the full fact table.

Runtime bloom-filter join pruning (``runtime_filter_conf``) covers the
third case — the join key is NOT the partition column, so directories
can't be skipped, but a bloom filter built from the filtered (small,
non-broadcastable) side is pushed into the big side's scan and drops
non-joining rows before the shuffle. Row-level, works on any key;
complements DPP's directory-level skipping.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..exprs import DEC
from ..lineage import scratch_dir
from ..registry import register


def partitioned_sink(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    cluster_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as hive-partitioned parquet (one directory per
    distinct partition-column tuple), optionally clustered inside each
    partition for row-group min/max skipping on a second key.

    Scale contract: partition columns must be LOW-cardinality (days,
    types, tenants — ≤ ~10^4 values); high-cardinality partitioning
    explodes the file count and kills the driver's file index. The
    pre-write repartition on the partition columns gives one file per
    partition per shuffle slot instead of one per input task."""
    out = df.repartition(*partition_cols)
    if cluster_by:
        out = out.sortWithinPartitions(*cluster_by)
    out.write.mode(mode).partitionBy(*partition_cols).parquet(path)


# One partitioned copy of `events` per (process, sf_dir), built once into
# a ``lineage.scratch_dir``; every registered query then probes it.
_EVENTS_PART_DIRS: dict[str, str] = {}


def events_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `events` table re-laid-out as parquet partitioned by
    ``event_type`` (5 directories), clustered by ``ts`` inside each."""
    if sf_dir not in _EVENTS_PART_DIRS:
        d = scratch_dir("dis_part_events_")
        partitioned_sink(
            table(spark, sf_dir, "events"), d, ["event_type"],
            cluster_by=["ts"],
        )
        _EVENTS_PART_DIRS[sf_dir] = d
    return spark.read.parquet(_EVENTS_PART_DIRS[sf_dir])


@register(
    "scan_partition_static_prune",
    oracle=f"""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS {DEC})) AS DOUBLE) AS sum_value
FROM events
WHERE event_type IN ('purchase', 'signup')
GROUP BY event_type
ORDER BY event_type
""",
)
def scan_partition_static_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static partition pruning: a literal IN-predicate on the partition
    column of the hive-partitioned events copy. The scan's file index
    resolves the predicate at planning time — 2 of 5 directories are
    read (PartitionFilters / PartitionCount plan audit in
    tests/test_scale_posture.py); non-matching data costs zero I/O.
    The oracle runs the same query on the unpartitioned table: the
    layout must never change results."""
    e = events_partitioned(spark, sf_dir)
    return (
        e.filter(F.col("event_type").isin("purchase", "signup"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
        .orderBy("event_type")
    )


# The event-type dimension: a tiny dim table with an attribute the
# fact table doesn't carry. Literal on both sides so the oracle is
# self-contained.
_DIM_ROWS = [
    ("click", "engagement"),
    ("view", "engagement"),
    ("error", "operational"),
    ("purchase", "conversion"),
    ("signup", "conversion"),
]


@register(
    "join_dpp",
    oracle=f"""
WITH dim(event_type, category) AS (
  VALUES {", ".join(f"('{t}', '{c}')" for t, c in _DIM_ROWS)}
)
SELECT e.event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT e.user_id) AS n_users,
       CAST(SUM(CAST(e.value AS {DEC})) AS DOUBLE) AS sum_value
FROM events e
JOIN dim d ON d.event_type = e.event_type
WHERE d.category = 'conversion'
GROUP BY e.event_type
ORDER BY e.event_type
""",
)
def join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: filter on a DIM attribute
    (category = 'conversion'), join the fact on its partition column.
    The surviving event types are only known after the dim filter runs,
    so Catalyst plants a ``dynamicpruningexpression`` in the fact scan
    that reuses the dim's broadcast — at execution the scan opens only
    the 2 of 5 partition directories whose keys survived (plan audit in
    tests/test_scale_posture.py).

    100 TB posture: this is the star-schema fast path — fact partitioned
    by the dim key, every dim-attribute filter prunes fact directories
    at runtime with no layout knowledge in the query text. The oracle
    joins the unpartitioned table; results must be layout-invariant."""
    e = events_partitioned(spark, sf_dir)
    dim = spark.createDataFrame(_DIM_ROWS, ["event_type", "category"])
    return (
        e.join(F.broadcast(dim), "event_type")
        .filter(F.col("category") == "conversion")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
        .orderBy("event_type")
    )


def runtime_filter_conf(
    creation_side_threshold: str = "10MB",
    application_side_threshold: str = "10GB",
) -> dict[str, str]:
    """The conf set that turns on runtime bloom-filter join pruning for
    the non-partition-key case: Spark builds a bloom filter from the
    filtered small side of a shuffle join and injects
    ``bloom_filter_might_contain`` into the big side's scan filter, so
    rows that cannot join are dropped BEFORE the shuffle.

    Thresholds are the safety rails: the creation side must be small
    enough that building the filter is cheap (< creation threshold
    post-filter), the application side big enough that the saved
    shuffle dwarfs the filter cost (> application threshold). The
    defaults here mirror Spark's; tests lower them to force injection
    on test-sized data (tests/test_scale_posture.py)."""
    return {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            creation_side_threshold,
        "spark.sql.optimizer.runtimeFilter.semiJoinReduction.enabled":
            "false",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold":
            application_side_threshold,
    }


def _dir_partitions(path: str, col: str) -> list[str]:
    """Partition values present on disk (audit helper)."""
    return sorted(
        p.split("=", 1)[1]
        for p in os.listdir(path)
        if p.startswith(f"{col}=")
    )
