"""SparkSession construction with engine defaults.

Scale posture: these defaults are tuned so the same declarative plans
survive a 1000-executor / 100 TB deployment — AQE on (runtime coalesce +
skew-join splitting), partition sizing left to
``spark.sql.files.maxPartitionBytes`` (128 MB default → ~800k input
splits at 100 TB, a healthy task count), Arrow enabled for the few
Pandas-UDF paths. Locally we run ``local[N]``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# SQL confs that are runtime-settable — applied defensively to any session
# handed to us (the verify driver builds its own session; see ensure_conf).
_RUNTIME_CONFS = {
    # events.ts is parquet timestamp[ns]; Spark refuses it by default
    # (PARQUET_TYPE_ILLEGAL). Read as long epoch-nanos instead (FIXTURES.md).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # DuckDB oracle timestamps are UTC-naive; pin the session zone.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

# Engine performance defaults — right for throughput-bound scale runs
# (AQE: runtime partition coalescing + skew splitting). A latency-bound
# deployment (warm repeated small queries, e.g. the bench harness) may
# legitimately choose otherwise; setting FREEZE_TUNING_KEY=true on the
# session makes ensure_conf leave these alone instead of re-forcing them
# on every table() call.
_TUNING_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
}

FREEZE_TUNING_KEY = "spark.debezium_incubator.freezeTuning"


def ensure_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session."""
    confs = dict(_RUNTIME_CONFS)
    try:
        frozen = spark.conf.get(FREEZE_TUNING_KEY, "false") == "true"
    except Exception:
        frozen = False
    if not frozen:
        confs.update(_TUNING_CONFS)
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this deployment; builder path sets it
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to the Python workers (addPyFile).

    The Pandas-UDF operators (mapInPandas kernels, stateful folds)
    reference module-level functions, which cloudpickle serializes by
    module name — so executors must be able to import
    ``debezium_incubator_spark``. A caller-provided session (the verify
    driver, a real cluster) has no reason to have the repo on the
    workers' PYTHONPATH; zipping the package and addPyFile-ing it is the
    standard deployment pattern and works identically on local and
    cluster masters. Idempotent per SparkContext. The zip lives in a
    ``lineage.scratch_dir``: removed at exit, not earlier, because
    cluster executors fetch it from the driver.
    """
    sc = spark.sparkContext
    if getattr(sc, "_dis_pkg_shipped", False):
        return
    import pathlib
    import zipfile

    from .lineage import scratch_dir

    pkg_dir = pathlib.Path(__file__).parent
    zpath = os.path.join(scratch_dir("dis_pkg_"), "dis_pkg.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for f in sorted(pkg_dir.rglob("*.py")):
            z.write(f, arcname=str(f.relative_to(pkg_dir.parent)))
    sc.addPyFile(zpath)
    sc._dis_pkg_shipped = True


def _default_driver_memory() -> str:
    """``min(48g, MemTotal / 2)``: the driver JVM of ``local[N]`` runs every
    task, so it gets the box's memory up to the scale-run ceiling, but a
    fixed 48g on a smaller box lets the heap outgrow physical memory and
    the kernel OOM-kill the JVM. Falls back to 48g where ``/proc/meminfo``
    is unreadable."""
    cap_mb = 48 * 1024
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{min(cap_mb, int(line.split()[1]) // 2048)}m"
    except OSError:
        pass
    return f"{cap_mb}m"


def get_spark(app_name: str = "debezium_incubator_spark",
              extra_conf: dict | None = None) -> SparkSession:
    """Engine session. ``extra_conf`` lets a deployment harness add
    builder-time (pre-context) confs — e.g. ``spark.locality.wait``,
    which is read at TaskSetManager construction and cannot be changed
    via ``spark.conf.set`` afterwards."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # ~cores for local; on a real cluster this scales with AQE
        # (coalescePartitions) so over-provisioning is cheap.
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
    )
    for k, v in {**_RUNTIME_CONFS, **_TUNING_CONFS}.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return ensure_conf(spark)
