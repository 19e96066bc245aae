"""Per-call cost of the bucket-partitioned apply and read, asserted on
Spark's own job counts (statusTracker job groups), not on wall time:
a fixed number of jobs per apply, one evaluation of the input batch,
footer-derived stats equal to a Spark count, a read build that starts
no job, the schema fallback for differing epochs, and one file per
touched bucket when buckets outnumber task slots."""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import functions as F

from debezium_incubator_spark.streaming import partitioned_state as ps


def _jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return its result and the
    number of Spark jobs it started."""
    sc = spark.sparkContext
    group = f"partitioned-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    # job starts reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _changes(spark, lo, hi, step, pos, op="u"):
    return spark.range(lo, hi, step).select(
        F.col("id").alias("k"),
        (F.col("id") + pos).alias("pos"),
        (F.col("id") * 3).cast("double").alias("v"),
        F.lit(op).alias("__op"),
    )


def _bucket_paths(state):
    return [
        os.path.join(state, f"v{e}", f"{ps.BUCKET_COL}={b}")
        for b, e in sorted(ps._read_manifest(state).items())
    ]


def _parquet_files_per_bucket(vdir):
    return {
        d: len([f for f in os.listdir(os.path.join(vdir, d))
                if f.endswith(".parquet")])
        for d in os.listdir(vdir) if d.startswith(f"{ps.BUCKET_COL}=")
    }


def test_apply_runs_at_most_four_jobs(spark, tmp_path):
    """Touched-bucket collect (2 jobs) plus the write (2 jobs, one
    shuffle): no stats read-back, no schema-inference job."""
    state = str(tmp_path / "s")
    _, n0 = _jobs(spark, lambda: ps.apply_changes_partitioned(
        spark, _changes(spark, 0, 2000, 1, 0, "r"), 0, state,
        ["k"], ["pos"], n_buckets=16))
    _, n1 = _jobs(spark, lambda: ps.apply_changes_partitioned(
        spark, _changes(spark, 0, 2000, 37, 10_000), 1, state,
        ["k"], ["pos"], n_buckets=16))
    assert n0 <= 4, n0
    assert n1 <= 4, n1


def test_apply_evaluates_each_input_row_once(spark, tmp_path):
    """The batch feeds both the touched-bucket collect and the write;
    its rows (here a counting UDF, in production the wire parse) must be
    computed once, not once per consumer."""
    from pyspark.sql.types import LongType

    evaluated = spark.sparkContext.accumulator(0)

    def counted(x):
        evaluated.add(1)
        return x

    count_udf = F.udf(counted, LongType())
    state = str(tmp_path / "s")
    ps.apply_changes_partitioned(
        spark, _changes(spark, 0, 500, 1, 0, "r"), 0, state,
        ["k"], ["pos"], n_buckets=8)
    batch = _changes(spark, 0, 1000, 1, 10_000).withColumn(
        "k", count_udf("k"))
    ps.apply_changes_partitioned(
        spark, batch, 1, state, ["k"], ["pos"], n_buckets=8)
    assert evaluated.value == 1000
    assert ps.read_state_partitioned(spark, state).count() == 1000


def test_stats_equal_spark_count_of_the_epoch(spark, tmp_path):
    """``stats_v{epoch}.json`` (footer row counts) equals a Spark
    ``groupBy(__bucket).count()`` of the epoch, tombstones included."""
    state = str(tmp_path / "s")
    ps.apply_changes_partitioned(
        spark, _changes(spark, 0, 3000, 1, 0, "r"), 0, state,
        ["k"], ["pos"], n_buckets=12)
    ps.apply_changes_partitioned(
        spark, _changes(spark, 0, 3000, 11, 10_000, "d"), 1, state,
        ["k"], ["pos"], n_buckets=12)
    for epoch in (0, 1):
        with open(os.path.join(state, f"stats_v{epoch}.json")) as f:
            stats = json.load(f)
        want = {
            str(r[ps.BUCKET_COL]): r["count"]
            for r in spark.read.parquet(os.path.join(state, f"v{epoch}"))
            .groupBy(ps.BUCKET_COL).count().collect()
        }
        assert stats == want, epoch
    assert ps.state_row_count(spark, state) == 3000


def test_read_build_over_uniform_schema_starts_no_job(spark, tmp_path):
    """With every epoch on one schema and at most 32 bucket paths (the
    serial file-listing limit), building the read starts no Spark job:
    the schema comes from parquet footers, not a mergeSchema job."""
    state = str(tmp_path / "s")
    ps.apply_changes_partitioned(
        spark, _changes(spark, 0, 2000, 1, 0, "r"), 0, state,
        ["k"], ["pos"], n_buckets=32)
    ps.apply_changes_partitioned(
        spark, _changes(spark, 0, 2000, 53, 10_000), 1, state,
        ["k"], ["pos"], n_buckets=32)
    assert len(_bucket_paths(state)) == 32
    df, n = _jobs(spark, lambda: ps.read_state_partitioned(spark, state))
    assert n == 0, n
    df_at, n_at = _jobs(
        spark, lambda: ps.read_state_partitioned_at(spark, state, 0))
    assert n_at == 0, n_at
    merged = spark.read.option("mergeSchema", "true").parquet(
        *_bucket_paths(state))
    assert df.schema == merged.drop("__op").schema
    assert df.count() == 2000 and df_at.count() == 2000


def test_read_buckets_falls_back_to_merge_schema_for_differing_epochs(
    spark, tmp_path
):
    """After an ADD COLUMN, epochs differ in schema: ``_read_buckets``
    returns the same schema, rows and NULLs as a mergeSchema read."""
    state = str(tmp_path / "s")
    ps.apply_changes_partitioned(
        spark, _changes(spark, 0, 400, 1, 0, "r"), 0, state,
        ["k"], ["pos"], n_buckets=8)
    widened = _changes(spark, 0, 400, 29, 10_000).withColumn(
        "v2", F.concat(F.lit("x"), F.col("k").cast("string")))
    ps.apply_changes_partitioned(
        spark, widened, 1, state, ["k"], ["pos"], n_buckets=8)
    paths = _bucket_paths(state)
    assert {p.split(os.sep)[-2] for p in paths} == {"v0", "v1"}

    got = ps._read_buckets(spark, paths)
    want = spark.read.option("mergeSchema", "true").parquet(*paths)
    assert got.schema == want.schema
    assert "v2" in got.columns
    cols = sorted(want.columns)
    assert sorted(got.select(cols).collect()) == \
        sorted(want.select(cols).collect())
    v2 = {r.k: r.v2 for r in got.select("k", "v2").collect()}
    assert v2[29] == "x29" and v2[1] is None


def test_one_file_per_bucket_when_buckets_outnumber_task_slots(
    spark, tmp_path
):
    """The write runs in at most defaultParallelism tasks, so one task
    holds several buckets; each touched bucket is still exactly one
    parquet file, on the first write and on a rewrite. AQE partition
    coalescing is off here: at this size it would fold a key-hashed
    shuffle into one task and hide a plan that spreads buckets over
    tasks."""
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(coalesce, None)
    spark.conf.set(coalesce, "false")
    try:
        slots = spark.sparkContext.defaultParallelism
        n_buckets = 3 * slots + 1
        state = str(tmp_path / "s")
        for epoch, batch in enumerate([
            _changes(spark, 0, 50 * n_buckets, 1, 0, "r"),
            _changes(spark, 0, 50 * n_buckets, 2, 10_000),
        ]):
            ps.apply_changes_partitioned(
                spark, batch, epoch, state, ["k"], ["pos"],
                n_buckets=n_buckets)
            files = _parquet_files_per_bucket(
                os.path.join(state, f"v{epoch}"))
            assert len(files) > slots, (epoch, len(files), slots)
            assert set(files.values()) == {1}, (epoch, files)
    finally:
        if old is None:
            spark.conf.unset(coalesce)
        else:
            spark.conf.set(coalesce, old)
    assert ps.read_state_partitioned(spark, state).count() == 50 * n_buckets
