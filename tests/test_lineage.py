"""The cut() lineage seam (r13 verdict #2): every strategy must be a
pure materialization barrier — identical rows, different storage
posture."""

from __future__ import annotations

import os
import subprocess
import sys

from pyspark.sql import functions as F

from debezium_incubator_spark.lineage import cut


def _frame(spark):
    return (
        spark.range(100)
        .select(
            F.col("id").alias("k"),
            (F.col("id") * 3 % 7).alias("v"),
            F.md5(F.col("id").cast("string")).alias("h"),
        )
    )


def test_cut_strategies_row_identical(spark):
    base = sorted(_frame(spark).collect())
    for strat in ("local", "local_disk", "parquet"):
        got = sorted(cut(_frame(spark), strat).collect())
        assert got == base, strat


def test_cut_local_disk_uses_disk_only_storage(spark):
    # distinct projection so the checkpointed RDD is this test's own
    df = cut(_frame(spark).select((F.col("k") * 17).alias("kk")),
             "local_disk")
    df.count()  # materialize
    # df.rdd.getStorageLevel() describes the DataFrame→RDD conversion,
    # not the checkpointed blocks — read the JVM's storage registry
    descs = [
        i.storageLevel().description()
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    ]
    assert any("Disk" in d and "Memory" not in d for d in descs), descs


def test_cut_parquet_uses_caller_scratch_dir(spark, tmp_path):
    d = os.path.join(str(tmp_path), "scratch")
    out = cut(_frame(spark), "parquet", scratch_dir=d)
    assert sorted(out.collect()) == sorted(_frame(spark).collect())
    assert any(f.endswith(".parquet") for f in os.listdir(d))


def test_cut_unknown_strategy_raises(spark):
    try:
        cut(_frame(spark), "replicated")
    except ValueError as e:
        assert "replicated" in str(e)
    else:  # pragma: no cover
        raise AssertionError("unknown strategy must raise")


def test_scratch_dir_lives_until_process_exit():
    """A child process (no Spark session) makes a scratch dir: the dir
    exists while the child runs and is gone once it exits."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    child = subprocess.Popen(
        [
            sys.executable, "-c",
            "import sys\n"
            "from debezium_incubator_spark.lineage import scratch_dir\n"
            "print(scratch_dir('dis_test_'), flush=True)\n"
            "sys.stdin.read()\n",
        ],
        cwd=root, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    d = child.stdout.readline().strip()
    try:
        assert os.path.basename(d).startswith("dis_test_")
        assert os.path.isdir(d)
    finally:
        child.communicate("")  # EOF on stdin: the child exits
    assert child.returncode == 0
    assert not os.path.exists(d)
