"""Correctness checks that do not trust the engine.

Each check compares an engine output with a reference computed apart
from it (the generator's own fold, or the count of records it planted
or published) and returns a list of human-readable mismatches: empty
means the output is correct.
"""

from __future__ import annotations


def check_state(expected: dict, rows) -> list[str]:
    """The engine's final state (rows with ``id``, the row fields and
    ``__pos``) must equal the generator's fold exactly: the same keys,
    values and positions."""
    got = {}
    for r in rows:
        k = int(r["id"])
        if k in got:
            return [f"state holds key {k} twice"]
        got[k] = (r["account"], float(r["balance"]), int(r["qty"]),
                  int(r["__pos"]))
    errs = []
    missing = expected.keys() - got.keys()
    extra = got.keys() - expected.keys()
    if missing:
        errs.append(f"{len(missing)} keys missing from state, e.g. "
                    f"{sorted(missing)[:3]}")
    if extra:
        errs.append(f"{len(extra)} keys in state the fold deleted or never "
                    f"created, e.g. {sorted(extra)[:3]}")
    bad = [k for k in expected.keys() & got.keys() if expected[k] != got[k]]
    if bad:
        k = min(bad)
        errs.append(f"{len(bad)} keys differ, e.g. {k}: state {got[k]} "
                    f"vs fold {expected[k]}")
    return errs


def check_reader(step: int, live: int, max_pos: int,
                 want_live: int, want_pos: int) -> list[str]:
    """After a commit the reader's live-key count and highest position
    must equal the generator's running fold."""
    if (live, max_pos) != (want_live, want_pos):
        return [f"batch {step}: reader saw {live} live keys at position "
                f"{max_pos}, fold has {want_live} at {want_pos}"]
    return []


def check_dlq(n_input: int, n_good: int, n_dlq: int, n_dlq_sink: int,
              planted: int) -> list[str]:
    """Dead-letter conservation: every malformed record planted reaches
    the DLQ (both the parse split and the DLQ sink), and no record is
    lost or duplicated by the split."""
    errs = []
    if n_dlq != planted:
        errs.append(f"parse split {n_dlq} records to the DLQ, "
                    f"{planted} were malformed")
    if n_dlq_sink != planted:
        errs.append(f"DLQ sink holds {n_dlq_sink} records, "
                    f"{planted} were malformed")
    if n_good + n_dlq != n_input:
        errs.append(f"good {n_good} + DLQ {n_dlq} != {n_input} input records")
    return errs


def check_input_rows(progress_rows: int, generated: int) -> list[str]:
    """The stream's summed ``numInputRows`` must equal the records
    published."""
    if progress_rows != generated:
        return [f"stream progress counted {progress_rows} input rows, "
                f"{generated} records were published"]
    return []
