"""Run one benchmark workload in this fresh process and print its result.

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 8 --trace 0

Run from the repository root. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics (a traced run
also prints its spans and totals as one JSON line just before).

Everything the run writes (inputs, state, checkpoints, Spark local dirs,
event logs, temp files) goes under ``.perfbench_tmp/`` in the checkout and
is removed at exit; the Spark JVM is stopped and waited for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "1g"  # the state here is under 1 MB; the inputs under 5 MB


def _spec() -> dict:
    """Workload and metric names with their units, declared once in
    BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {"workloads": [w["name"] for w in spec["workloads"]],
            "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
            "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]}}


def _process_age_s() -> float:
    """Seconds since this process started (kernel start time, 10 ms)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(d))
            except OSError:
                continue
    return out


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


class Context:
    """What a workload needs: the session, its directories, the tracer."""

    def __init__(self, args, workdir: str, tracer):
        self.seed, self.seconds = args.seed, args.seconds
        self.workdir, self.tracer = workdir, tracer
        self.spark = None
        self.setup_s = None

    def setup_done(self) -> None:
        self.setup_s = _process_age_s()


def _stop_spark(spark) -> None:
    """Stop streams and the context, then the JVM, and wait for every
    process this run started to end."""
    from pyspark import SparkContext

    for q in spark.streams.active:
        q.stop()
    gateway = SparkContext._gateway
    kids = _descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def main(argv=None) -> int:
    spec = _spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=spec["workloads"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine is built from this checkout's source; without it there is
    # nothing to measure
    if not os.path.isdir(os.path.join(ROOT, "debezium_incubator_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp_root)
    for sub in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(workdir, sub))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(workdir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # the spark-submit launcher JVM would otherwise write to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    import spans
    import workloads

    spark = None
    tracer = spans.NoTrace()
    if args.trace:
        tracer = spans.Tracer(lambda: spark.sparkContext if spark else None)
    ctx = Context(args, workdir, tracer)
    try:
        from debezium_incubator_spark import registry
        from debezium_incubator_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.driver.extraJavaOptions":
                # a fixed heap: the JVM's heap sizing decisions would
                # otherwise move peak_rss_mb by up to 45% between runs
                f"-Xms{DRIVER_MEM} "
                f"-Djava.io.tmpdir={workdir}/tmp -XX:-UsePerfData",
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
            **tracer.spark_conf(os.path.join(workdir, "eventlog")),
        }
        with tracer.span("session.start"):
            spark = ctx.spark = get_spark(f"perfbench-{args.workload}", conf)
        spark.sparkContext.setLogLevel("ERROR")
        # every workload loads the engine through its registry, the
        # package's entry point, so import-time work shows in setup_s
        with tracer.span("registry.load"):
            registry.load_all()
        metrics, layers, errors, extra = workloads.run_cdc(
            ctx, **workloads.CDC[args.workload])
        jvm_pid = spark.sparkContext._gateway.proc.pid
        peak_mb = _hwm_mb(os.getpid()) + _hwm_mb(jvm_pid)
        attempted = metrics.pop("attempted")
        _stop_spark(spark)
        spark = None
        if args.trace:
            events = spans.read_event_log(os.path.join(workdir, "eventlog"))
            per_layer = layers(events)
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass  # another run is using it

    for e in errors:
        print("CHECK FAILED:", e, file=sys.stderr)
    if args.trace:
        # the traced run's own op_p50_ms, to state the tracing overhead
        extra["op_p50_ms"] = metrics["op_p50_ms"]
        print(json.dumps({"trace": {"workload": args.workload,
                                    "seed": args.seed, **extra,
                                    "spans": tracer.dump()}}))
        metrics = {
            **{k: 0.0 for k in spec["per_layer"]},
            "session.start_ms": tracer.durations_ms("session.start")[0],
            "registry.load_ms": tracer.durations_ms("registry.load")[0],
            **per_layer,
        }
        units = spec["per_layer"]
    else:
        metrics = {"setup_s": ctx.setup_s, "peak_rss_mb": peak_mb, **metrics}
        units = spec["end_to_end"]
    result = {
        "correct": not errors,
        "attempted": attempted,
        "failed": 0,
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
