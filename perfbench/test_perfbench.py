"""Tests of the benchmark itself: each correctness check fails when the
output is wrong, the generator is deterministic per seed, and the
event-log reader attributes metrics to the span that caused them.

    python3 -m pytest perfbench -q

No Spark session is started here.
"""

from __future__ import annotations

import json

import pytest

import checks
import gen
import spans


def _fold_lines(lines: list[str]) -> tuple[dict, int]:
    """A second, independent fold of emitted records: parse each line
    with the stdlib, skip malformed values and tombstones, keep the
    highest position per key, drop keys whose last event is a delete."""
    last: dict[int, tuple] = {}
    malformed = 0
    for line in lines:
        rec = json.loads(line)
        value = rec["value"]
        if value is None:
            continue
        if isinstance(value, str):
            malformed += 1
            continue
        key = rec["key"]["id"]
        pos = value["source"]["pos"]
        if key in last and last[key][0] > pos:
            continue
        last[key] = (pos, value["op"], value["after"])
    state = {k: (a["account"], a["balance"], a["qty"], p)
             for k, (p, op, a) in last.items() if op != "d"}
    return state, malformed


@pytest.fixture(scope="module")
def log_and_lines():
    log = gen.ChangeLog(7, 500, skew=1.5)
    lines = log.snapshot()
    for _ in range(20):
        lines += log.batch(50)
    return log, lines


def _rows(state: dict) -> list[dict]:
    return [{"id": k, "account": v[0], "balance": v[1], "qty": v[2],
             "__pos": v[3]} for k, v in state.items()]


# --- generator ----------------------------------------------------------------

def test_changelog_is_deterministic_per_seed():
    def run(seed):
        log = gen.ChangeLog(seed, 300, skew=1.2)
        return log.snapshot() + log.batch(200) + log.batch(200), log.state

    a, b, c = run(3), run(3), run(4)
    assert a == b
    assert a[0] != c[0]


def test_changelog_fold_matches_an_independent_fold(log_and_lines):
    log, lines = log_and_lines
    state, malformed = _fold_lines(lines)
    assert state == log.state
    assert malformed == log.malformed > 0
    assert log.records == len(lines)
    ops = {json.loads(x)["value"]["op"] for x in lines
           if x.endswith("}}") and '"op"' in x}
    assert {"r", "c", "u", "d"} <= ops


def test_uniform_keys_touch_the_whole_domain():
    log = gen.ChangeLog(1, 1000)
    log.snapshot()
    keys = {json.loads(x)["key"]["id"] for x in log.batch(5000)}
    assert len(keys) > 0.9 * log.domain


# --- state check ---------------------------------------------------------------

def test_state_check_passes_on_the_fold(log_and_lines):
    log, _ = log_and_lines
    assert checks.check_state(log.state, _rows(log.state)) == []


def test_state_check_fails_on_a_dropped_key(log_and_lines):
    log, _ = log_and_lines
    rows = _rows(log.state)[1:]
    assert checks.check_state(log.state, rows)


@pytest.mark.parametrize("field,value", [
    ("balance", lambda v: v + 0.01),
    ("account", lambda v: v + "x"),
    ("qty", lambda v: v + 1),
    ("__pos", lambda v: v - 1),
])
def test_state_check_fails_on_one_changed_value(log_and_lines, field, value):
    log, _ = log_and_lines
    rows = _rows(log.state)
    rows[3][field] = value(rows[3][field])
    assert checks.check_state(log.state, rows)


def test_state_check_fails_on_a_resurrected_key(log_and_lines):
    log, _ = log_and_lines
    rows = _rows(log.state) + [{"id": -1, "account": "a", "balance": 1.0,
                                "qty": 1, "__pos": 1}]
    assert checks.check_state(log.state, rows)


def test_reader_check():
    assert checks.check_reader(3, 10, 99, 10, 99) == []
    assert checks.check_reader(3, 9, 99, 10, 99)
    assert checks.check_reader(3, 10, 98, 10, 99)


# --- DLQ and input counts ----------------------------------------------------------

def test_dlq_check_passes_when_conserved():
    assert checks.check_dlq(100, 97, 3, 3, 3) == []


@pytest.mark.parametrize("args", [
    (100, 96, 4, 4, 3),   # one record too many in the DLQ
    (100, 97, 3, 2, 3),   # the sink lost one
    (100, 96, 3, 3, 3),   # the split lost a good record
    (100, 98, 3, 3, 3),   # the split duplicated one
])
def test_dlq_check_fails_when_off_by_one(args):
    assert checks.check_dlq(*args)


def test_input_rows_check():
    assert checks.check_input_rows(120, 120) == []
    assert checks.check_input_rows(121, 120)
    assert checks.check_input_rows(240, 120)  # each row read twice


# --- event log ---------------------------------------------------------------------

def test_event_log_attributes_stage_and_plan_metrics(tmp_path):
    scan = {"nodeName": "Scan parquet ", "children": [], "metrics": [
        {"name": "number of output rows", "accumulatorId": 11},
        {"name": "number of files read", "accumulatorId": 12}]}
    events = [
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLExecutionStart", "executionId": 0,
         "sparkPlanInfo": {"nodeName": "HashAggregate", "metrics": [],
                           "children": [scan]}},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.job.description": "00001|read",
                        "spark.sql.execution.id": "0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.job.description": "00002|read"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
         "Properties": {}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Accumulables": [
                {"ID": 1, "Name": "internal.metrics.executorRunTime",
                 "Value": 40},
                {"ID": 11, "Name": "number of output rows", "Value": "7"}]}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Accumulables": [
                {"ID": 2, "Name": "internal.metrics.memoryBytesSpilled",
                 "Value": 5},
                {"ID": 3, "Name": "internal.metrics.diskBytesSpilled",
                 "Value": 6}]}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 3, "Accumulables": [
                {"ID": 4, "Name": "internal.metrics.executorRunTime",
                 "Value": 1000}]}},
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerDriverAccumUpdates", "executionId": 0,
         "accumUpdates": [[12, 3]]},
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events))
    ev = spans.read_event_log(str(tmp_path))
    assert ev["00001|read"] == {"jobs": 1, "exec_run_ms": 40, "parquet_rows": 7,
                                "spill_bytes": 11, "parquet_files": 3}
    per_op = spans.by_op(ev, ("read", "apply"))
    assert sorted(per_op) == ["00001", "00002"]
    assert per_op["00002"] == {"jobs": 1}
    assert spans.by_op(ev, ("apply",)) == {}
