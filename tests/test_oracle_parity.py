"""Local mirror of the driver's correctness gate: every registered query
runs on Spark AND its DuckDB oracle on the same sf0.001 parquet; results
must match (row count, column names, order-insensitive values with a tiny
float tolerance).
"""

from __future__ import annotations

import math

import pytest

from burst_db_spark.registry import all_queries
from burst_db_spark.runner import scope
from tests.conftest import SF_DIR

SPECS = all_queries()


def _normalize(rows):
    out = []
    for row in rows:
        norm = []
        for v in row:
            if isinstance(v, float):
                norm.append(round(v, 6))
            else:
                norm.append(v)
        out.append(tuple(norm))
    out.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return out


def _approx_equal(a, b) -> bool:
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for va, vb in zip(ra, rb):
            if isinstance(va, float) and isinstance(vb, float):
                if not math.isclose(va, vb, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif va != vb:
                return False
    return True


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_matches_oracle(name, spark, ddb):
    spec = SPECS[name]
    with scope():
        sdf = spec.build(spark, SF_DIR)
        spark_cols = [c.lower() for c in sdf.columns]
        spark_rows = [tuple(r) for r in sdf.collect()]

    if spec.oracle is None:
        assert len(spark_rows) >= 0  # rows-only smoke
        return

    res = ddb.execute(spec.oracle)
    duck_cols = [d[0].lower() for d in res.description]
    duck_rows = res.fetchall()

    assert spark_cols == duck_cols, f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    sn, dn = _normalize(spark_rows), _normalize(duck_rows)
    if not _approx_equal(sn, dn):
        diffs = [(x, y) for x, y in zip(sn, dn) if x != y][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


def test_rows_only_by_design_matches_registry():
    """The expected-no-oracle list in __spark_entry__ is exactly the set
    of registered queries without an oracle — neither can drift: a new
    rows-only query must either gain an oracle or document itself."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "__spark_entry_check__",
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "__spark_entry__.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    documented = set(mod.rows_only_by_design())
    actual = {n for n, s in SPECS.items() if s.oracle is None}
    assert documented == actual
    # every documented row names its oracle-checked sibling, and the
    # sibling really is oracle-checked
    for reason in mod.rows_only_by_design().values():
        sib = reason.rsplit(": ", 1)[1]
        assert SPECS[sib].oracle is not None, sib
