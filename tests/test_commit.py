"""The versioned-state commit protocol (streaming/commit.py) and the two
vacuums built on it, checked on hand-made layouts: plain files, no Spark
job except the one ``read_state_at`` read of a commitlog layout."""

from __future__ import annotations

import json
import os

import pytest


def _touch(path: str, text: str = "") -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)


def _partitioned_layout(state: str, pointer: str | None) -> None:
    """Three epochs of a two-bucket state: epoch 1 wrote both buckets,
    epoch 2 rewrote bucket 0, epoch 3 rewrote both. ``pointer`` names the
    committed manifest (None: no pointer was ever written)."""
    manifests = {1: {0: 1, 1: 1}, 2: {0: 2, 1: 1}, 3: {0: 3, 1: 3}}
    for e, m in manifests.items():
        _touch(os.path.join(state, f"manifest_v{e}.json"),
               json.dumps({str(b): v for b, v in m.items()}))
        _touch(os.path.join(state, f"stats_v{e}.json"), "{}")
        for b, v in m.items():
            if v == e:
                _touch(os.path.join(state, f"v{e}", f"__bucket={b}",
                                    "part-0.parquet"))
    if pointer is not None:
        _touch(os.path.join(state, "_LATEST"), pointer)


def _tree(root: str) -> set[str]:
    return {
        os.path.relpath(os.path.join(d, f), root)
        for d, _, files in os.walk(root) for f in files
    }


def test_pointer_round_trip(tmp_path):
    from debezium_incubator_spark.streaming.commit import (
        POINTER,
        atomic_write,
        commit_pointer,
        read_latest,
        read_pointer,
    )

    d = str(tmp_path)
    assert read_pointer(d) is None
    with pytest.raises(FileNotFoundError):
        read_latest(None, d)
    commit_pointer(d, "epoch=3")
    assert read_pointer(d) == "epoch=3"
    commit_pointer(d, "epoch=4")
    assert read_pointer(d) == "epoch=4"
    atomic_write(os.path.join(d, "x.json"), "{}")
    # the rename leaves no sibling .tmp behind
    assert sorted(os.listdir(d)) == sorted([POINTER, "x.json"])


def test_vacuum_partitioned_spares_epoch_newer_than_pointer(tmp_path):
    """Epoch 3's data, stats and manifest are on disk but the pointer
    still names epoch 2: a writer is between its manifest and pointer
    writes. Vacuum must reclaim only what the committed history no
    longer references, and leave epoch 3 whole for the pointer move."""
    from debezium_incubator_spark.streaming.partitioned_state import (
        vacuum_partitioned,
    )

    state = str(tmp_path / "state")
    _partitioned_layout(state, "manifest_v2.json")
    removed = vacuum_partitioned(state, keep_last=1)
    assert sorted(removed) == sorted(["manifest_v1.json",
                                      os.path.join("v1", "__bucket=0")])
    tree = _tree(state)
    for f in ["manifest_v3.json", "stats_v3.json",
              "v3/__bucket=0/part-0.parquet", "v3/__bucket=1/part-0.parquet"]:
        assert f in tree, f
    # the committed state (bucket 0 at epoch 2, bucket 1 at epoch 1) stays
    assert {"manifest_v2.json", "stats_v1.json", "stats_v2.json",
            "v1/__bucket=1/part-0.parquet",
            "v2/__bucket=0/part-0.parquet"} <= tree


def test_vacuum_partitioned_without_pointer_is_a_no_op(tmp_path):
    from debezium_incubator_spark.streaming.partitioned_state import (
        vacuum_partitioned,
    )

    state = str(tmp_path / "state")
    _partitioned_layout(state, None)
    before = _tree(state)
    assert vacuum_partitioned(state, keep_last=1) == []
    assert _tree(state) == before


def test_vacuums_refuse_keep_last_below_one(tmp_path):
    """keep_last=0 would reclaim the committed state itself and leave the
    pointer naming deleted files."""
    from debezium_incubator_spark.streaming.partitioned_state import (
        vacuum_partitioned,
    )
    from debezium_incubator_spark.streaming.upsert import vacuum_versions

    state = str(tmp_path / "partitioned")
    _partitioned_layout(state, "manifest_v3.json")
    before = _tree(state)
    for keep in (0, -1):
        with pytest.raises(ValueError, match="keep_last"):
            vacuum_partitioned(state, keep_last=keep)
    assert _tree(state) == before

    mono = str(tmp_path / "monolithic")
    for v in range(3):
        _touch(os.path.join(mono, f"v{v}", "part-0.parquet"))
    _touch(os.path.join(mono, "_LATEST"), "v2")
    before = _tree(mono)
    for keep in (0, -1):
        with pytest.raises(ValueError, match="keep_last"):
            vacuum_versions(mono, keep_last=keep)
    assert _tree(mono) == before


def test_versions_resolve_commitlog_names(spark, tmp_path):
    """commitlog names its versions ``v{epoch}_{run_id}``: the listing,
    the time-travel read and the vacuum resolve the real dir names, and
    skip an orphan newer than the pointer and another run's dirs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from debezium_incubator_spark.streaming.commit import parse_version
    from debezium_incubator_spark.streaming.upsert import (
        list_versions,
        read_state_at,
        vacuum_versions,
    )

    assert parse_version("v12") == (12, "")
    assert parse_version("v3_run-A") == (3, "run-A")
    assert parse_version("vx_run-A") is None

    state = str(tmp_path / "state")
    # v2_run-A is an orphan (newer than the pointer); v0_run-B belongs
    # to another checkpoint lineage
    for e, run in ((0, "A"), (1, "A"), (2, "A"), (0, "B")):
        d = os.path.join(state, f"v{e}_run-{run}")
        os.makedirs(d)
        pq.write_table(
            pa.table({"k": [1], "v": [e], "__op": ["u"]}),
            os.path.join(d, "part-0.parquet"),
        )
    _touch(os.path.join(state, "_LATEST"), "v1_run-A")

    assert list_versions(state) == [0, 1]
    assert [r.v for r in read_state_at(spark, state, 0).collect()] == [0]
    assert vacuum_versions(state, keep_last=1) == ["v0_run-A"]
    assert sorted(os.listdir(state)) == [
        "_LATEST", "v0_run-B", "v1_run-A", "v2_run-A",
    ]
