"""Seeded input generator for the benchmark.

``ChangeLog`` emits Debezium JSON-envelope records (one JSON object per
line, ``{"key": {...}, "value": {...}}``) for a keyed ``accounts`` table,
and folds its own events by position into the state a correct consumer
must end up with. It is plain Python and NumPy: the engine under test
never runs here, so the reference fold is independent of it.
"""

from __future__ import annotations

import json

import numpy as np

#: row image of the captured ``accounts`` table (Spark DDL, for the parse)
ROW_DDL = "id BIGINT, account STRING, balance DOUBLE, qty BIGINT"
ROW_FIELDS = ("id", "account", "balance", "qty")

#: wire shape the file source reads: key and value stay raw JSON text
WIRE_DDL = "key STRING, value STRING"

DELETE_SHARE = 0.1      # of change events on a live key
MALFORMED_SHARE = 0.01  # of change records

_SOURCE = '{"connector":"bench","db":"benchdb","table":"accounts","snapshot":%s,"pos":%d}'
_TS0 = 1_700_000_000_000


def _row_json(key: int, row: tuple) -> str:
    account, balance, qty = row
    return ('{"id":%d,"account":"%s","balance":%r,"qty":%d}'
            % (key, account, balance, qty))


class ChangeLog:
    """Deterministic change stream over ``n_keys`` primary keys.

    ``skew`` is ``None`` for uniform key choice, or a Zipf exponent: key
    ranks are drawn with weight ``1 / rank**skew`` and mapped to ids by a
    seeded permutation, so hot keys land in unrelated hash buckets.
    A drawn key that is live becomes an update (or, with probability
    ``DELETE_SHARE``, a delete followed by its tombstone); a key that is
    not live becomes a create. ``MALFORMED_SHARE`` of the records are
    values whose JSON is cut short, which a correct parser must route
    to the dead-letter queue. Malformed records carry no position.
    """

    def __init__(self, seed: int, n_keys: int, skew: float | None = None):
        self.rng = np.random.default_rng(seed)
        self.n_keys = n_keys
        # key domain is 10% wider than the snapshot, so creates happen
        self.domain = n_keys + n_keys // 10
        if skew is None:
            self._cdf = None
        else:
            w = 1.0 / np.arange(1, self.domain + 1, dtype=np.float64) ** skew
            self._cdf = np.cumsum(w / w.sum())
            self._perm = self.rng.permutation(self.domain)
        #: the reference fold: key -> (account, balance, qty, pos), live only
        self.state: dict[int, tuple] = {}
        self.pos = 0
        self.records = 0
        self.malformed = 0

    def _row(self) -> tuple:
        r = self.rng
        return (f"acct-{int(r.integers(0, 1 << 30)):08x}",
                round(float(r.uniform(-1000.0, 100000.0)), 2),
                int(r.integers(0, 1000)))

    def _envelope(self, key: int, op: str, before, after, pos: int) -> str:
        b = "null" if before is None else _row_json(key, before)
        a = "null" if after is None else _row_json(key, after)
        src = _SOURCE % ("true" if op == "r" else "false", pos)
        return ('{"key":{"id":%d},"value":{"before":%s,"after":%s,'
                '"source":%s,"op":"%s","ts_ms":%d}}'
                % (key, b, a, src, op, _TS0 + pos))

    def snapshot(self) -> list[str]:
        """Snapshot-read (``op = r``) records for keys ``0..n_keys-1``."""
        lines = []
        for key in range(self.n_keys):
            row = self._row()
            self.pos += 1
            lines.append(self._envelope(key, "r", None, row, self.pos))
            self.state[key] = (*row, self.pos)
        self.records += len(lines)
        return lines

    def _draw_keys(self, n: int) -> np.ndarray:
        if self._cdf is None:
            return self.rng.integers(0, self.domain, n)
        ranks = np.searchsorted(self._cdf, self.rng.random(n), side="right")
        return self._perm[np.minimum(ranks, self.domain - 1)]

    def batch(self, n_events: int) -> list[str]:
        """``n_events`` change events (plus a tombstone after each delete
        and the planted malformed records), applied to the fold."""
        lines = []
        keys = self._draw_keys(n_events)
        bad = self.rng.random(n_events) < MALFORMED_SHARE
        dels = self.rng.random(n_events) < DELETE_SHARE
        for key, is_bad, is_del in zip(keys.tolist(), bad, dels):
            if is_bad:
                cut = '{"before":null,"after":{"id":%d,"acc' % key
                lines.append('{"key":{"id":%d},"value":%s}'
                             % (key, json.dumps(cut)))
                self.malformed += 1
                continue
            self.pos += 1
            cur = self.state.get(key)
            if cur is None:
                row = self._row()
                lines.append(self._envelope(key, "c", None, row, self.pos))
                self.state[key] = (*row, self.pos)
            elif is_del:
                lines.append(self._envelope(key, "d", cur[:3], None, self.pos))
                lines.append('{"key":{"id":%d},"value":null}' % key)
                del self.state[key]
            else:
                row = self._row()
                lines.append(self._envelope(key, "u", cur[:3], row, self.pos))
                self.state[key] = (*row, self.pos)
        self.records += len(lines)
        return lines


def write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
