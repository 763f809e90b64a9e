"""bench.py's row lists (no Spark): each headline row is timed once and
counted once, and every pinned name is a registered, headlined row."""

from __future__ import annotations

import bench
from burst_db_spark.registry import all_queries


def test_headline_rows_are_unique_and_registered():
    specs = all_queries()
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))
    assert not set(bench.HEADLINE) - set(specs)
    assert not set(bench.PINNED_HISTORY) - set(bench.HEADLINE)
    assert not set(bench.PINNED_SF) - set(specs)
