"""A registered query's frame stays readable after the query is built
again: its on-disk inputs live in a per-process scratch dir of their own
(``lineage.scratch_dir``), never in a fixed path the next build wipes.
``dispatch.run_batch`` memoizes built frames, so a rebuild that deleted
the previous frame's files would break a memoized plan."""

from __future__ import annotations

import pytest

from debezium_incubator_spark.registry import all_queries

from .conftest import SF_SMOKE


@pytest.mark.parametrize(
    "name", ["cdc_lifecycle_snapshot", "ann_refresh_incremental"]
)
def test_rebuild_keeps_first_frame_readable(spark, name):
    build = all_queries()[name]
    first = build(spark, SF_SMOKE)
    second = build(spark, SF_SMOKE)
    rows = sorted(first.collect())
    assert rows and rows == sorted(second.collect())
