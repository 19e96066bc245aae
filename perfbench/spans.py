"""Spans around the benchmark's calls into the engine, and the Spark
event log that attributes each call's jobs and stages to it.

A span is recorded by the benchmark's own code around one public call:
name, start, end, parent span and the operation it belongs to. While a
span is open, every Spark job started from the same thread carries the
job description ``"<op>|<span name>"``, so stage metrics in the event
log map back to the call that caused them.

``NoTrace`` has the same interface and does nothing; the untraced run
uses it, so both runs execute the same code.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time


class NoTrace:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, op: str = "-"):
        yield

    def spark_conf(self, event_dir: str) -> dict:
        return {}


class Tracer(NoTrace):
    enabled = True

    def __init__(self, sc_getter):
        self._sc = sc_getter  # callable -> SparkContext (None before start)
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def spark_conf(self, event_dir: str) -> dict:
        os.makedirs(event_dir, exist_ok=True)
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(event_dir),
            # the stdlib json reader needs plain, single-file logs
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }

    @contextlib.contextmanager
    def span(self, name: str, op: str = "-"):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = {"name": name, "op": op,
               "parent": stack[-1]["id"] if stack else None}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        sc = self._sc()
        if sc is not None:
            sc.setJobDescription(f"{op}|{name}")
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if sc is not None:
                sc.setJobDescription(
                    f"{stack[-1]['op']}|{stack[-1]['name']}" if stack else None)

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1e3
                for s in self.spans if s["name"] == name and "end" in s]

    def dump(self) -> list[dict]:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        return [{**s, "start": round((s["start"] - t0) * 1e3, 3),
                 "end": round((s.get("end", s["start"]) - t0) * 1e3, 3)}
                for s in self.spans]


# --- event log ---------------------------------------------------------------

_STAGE_METRICS = {
    "internal.metrics.executorRunTime": "exec_run_ms",
    "internal.metrics.executorCpuTime": "exec_cpu_ns",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.output.bytesWritten": "bytes_written",
    "internal.metrics.output.recordsWritten": "rows_written",
}

# (plan node name prefix, SQL metric name) -> counter name
_NODE_METRICS = {
    ("Scan parquet", "number of output rows"): "parquet_rows",
    ("Scan parquet", "number of files read"): "parquet_files",
    ("InMemoryTableScan", "number of output rows"): "cached_rows",
}


def _plan_accumulators(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", []):
        for (prefix, metric), key in _NODE_METRICS.items():
            if plan.get("nodeName", "").startswith(prefix) and m["name"] == metric:
                out[m["accumulatorId"]] = key
    for child in plan.get("children", []):
        _plan_accumulators(child, out)


def read_event_log(event_dir: str) -> dict[str, dict]:
    """Sum stage and plan-node metrics per job description.

    Returns ``{description: {counter: value, "jobs": n}}``. Stage
    metrics come from ``SparkListenerStageCompleted`` accumulables; plan
    node metrics (scan rows, files read) are resolved through the
    accumulator ids the SQL plan events declare, including AQE
    re-plans, and summed from both stage accumulables and driver-side
    updates."""
    acc_kind: dict[int, str] = {}
    stage_desc: dict[int, str] = {}
    exec_desc: dict[int, str] = {}
    out: dict[str, dict] = {}
    stage_accs: list[tuple[int, list]] = []
    driver_updates: list[tuple[int, list]] = []
    for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    desc = props.get("spark.job.description")
                    if not desc:
                        continue
                    out.setdefault(desc, {}).setdefault("jobs", 0)
                    out[desc]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_desc[sid] = desc
                    if "spark.sql.execution.id" in props:
                        exec_desc[int(props["spark.sql.execution.id"])] = desc
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    stage_accs.append((info["Stage ID"],
                                       info.get("Accumulables", [])))
                elif kind.endswith("SparkListenerSQLExecutionStart") or \
                        kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    _plan_accumulators(ev["sparkPlanInfo"], acc_kind)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    driver_updates.append((ev["executionId"],
                                           ev["accumUpdates"]))

    def add(desc: str, key: str, value) -> None:
        d = out.setdefault(desc, {"jobs": 0})
        d[key] = d.get(key, 0) + value

    for sid, accs in stage_accs:
        desc = stage_desc.get(sid)
        if desc is None:
            continue
        for a in accs:
            name, value = a.get("Name"), a.get("Value")
            if not isinstance(value, (int, float)):
                try:
                    value = int(value)
                except (TypeError, ValueError):
                    continue
            if name in _STAGE_METRICS:
                add(desc, _STAGE_METRICS[name], value)
            elif a.get("ID") in acc_kind:
                add(desc, acc_kind[a["ID"]], value)
    for exec_id, updates in driver_updates:
        desc = exec_desc.get(exec_id)
        if desc is None:
            continue
        for acc_id, value in updates:
            if acc_id in acc_kind:
                add(desc, acc_kind[acc_id], value)
    return out


def by_op(events: dict[str, dict], names) -> dict[str, dict]:
    """Counters of the spans named ``names``, summed per operation id."""
    out: dict[str, dict] = {}
    for desc, counters in events.items():
        op, _, name = desc.partition("|")
        if name in names:
            acc = out.setdefault(op, {})
            for k, v in counters.items():
                acc[k] = acc.get(k, 0) + v
    return out
