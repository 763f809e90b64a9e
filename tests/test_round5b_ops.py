"""Round-5b operator invariants beyond the oracle rows: numpy
cross-check for the power-sum moments, budget/determinism invariants
for the token-budget mixture, range/exclusion invariants for the
n-gram overlap scorer, and plan shapes for GROUPING SETS + the
higher-order array gauntlet."""

from __future__ import annotations

import contextlib
import io
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from burst_db_spark.catalog import load
from burst_db_spark.registry import all_queries
from burst_db_spark.runner import scope
from tests.conftest import SF_DIR

SPECS = all_queries()


def _plan(name: str, spark) -> str:
    buf = io.StringIO()
    with scope(), contextlib.redirect_stdout(buf):
        SPECS[name].build(spark, SF_DIR).explain("formatted")
    return buf.getvalue()


# ---------------------------------------------------------------------------
# a24: power-sum moments == numpy's float64 moments (to fp tolerance)


def test_moment_stats_match_numpy(spark):
    got = {
        r.event_type: r
        for r in SPECS["a24_moment_stats"].build(spark, SF_DIR).collect()
    }
    ev = load(spark, SF_DIR, "events").select(
        "event_type", "value", F.hour("ts").alias("h")
    )
    by_type: dict[str, list[tuple[float, int]]] = {}
    for r in ev.collect():
        by_type.setdefault(r.event_type, []).append((r.value, r.h))
    assert set(got) == set(by_type)
    for et, pairs in by_type.items():
        x = np.array([p[0] for p in pairs], dtype=np.float64)
        y = np.array([p[1] for p in pairs], dtype=np.float64)
        g = got[et]
        assert g.n_events == len(x)
        assert math.isclose(g.mean_v, float(x.mean()), rel_tol=1e-12)
        assert math.isclose(g.var_pop_v, float(x.var()), rel_tol=1e-9)
        assert math.isclose(g.std_pop_v, float(x.std()), rel_tol=1e-9)
        if len(x) > 1 and x.std() > 0 and y.std() > 0:
            ref = float(np.corrcoef(x, y)[0, 1])
            assert math.isclose(g.corr_vh, ref, rel_tol=1e-9, abs_tol=1e-12)
        assert -1.0 <= g.corr_vh <= 1.0


# ---------------------------------------------------------------------------
# t_token_budget_mix: budget respected, monotone in budget, repartition-proof


def test_token_budget_invariants(spark):
    out = {
        r.source: r
        for r in SPECS["t_token_budget_mix"].build(spark, SF_DIR).collect()
    }
    from burst_db_spark.queries.round5b import _MIX_BUDGET

    docs = load(spark, SF_DIR, "documents")
    n_sources = docs.select("source").distinct().count()
    assert len(out) == n_sources  # every source admits at least one doc
    for r in out.values():
        assert r.kept_tokens <= _MIX_BUDGET
        assert r.kept_docs >= 1


def test_token_budget_deterministic_under_repartition(spark):
    base = sorted(
        tuple(r) for r in SPECS["t_token_budget_mix"].build(spark, SF_DIR).collect()
    )
    # same computation off a deliberately re-partitioned scan: the
    # salted-md5 order must make the admission set layout-independent
    from burst_db_spark.queries import round5b as m

    docs = load(spark, SF_DIR, "documents").repartition(7, "doc_id")
    toks = docs.select(
        "source",
        "doc_id",
        m.token_count(F.col("text")).cast("bigint").alias("n_tok"),
        F.md5(
            F.concat_ws(":", F.lit(m._MIX_SALT), F.col("doc_id").cast("string"))
        ).alias("h"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("source")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    redo = (
        toks.withColumn("cum_tok", F.sum("n_tok").over(w))
        .where(F.col("cum_tok") <= m._MIX_BUDGET)
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("kept_docs"),
            F.sum("n_tok").cast("bigint").alias("kept_tokens"),
        )
        .orderBy("source")
    )
    assert sorted(tuple(r) for r in redo.collect()) == base


# ---------------------------------------------------------------------------
# t_ngram_overlap_score: range + benchmark exclusion


def test_ngram_overlap_range_and_exclusion(spark):
    rows = SPECS["t_ngram_overlap_score"].build(spark, SF_DIR).collect()
    assert rows, "scorer returned nothing"
    from burst_db_spark.queries.round5b import _BENCH_SOURCES

    docs = load(spark, SF_DIR, "documents")
    bench_ids = {
        r.doc_id
        for r in docs.where(F.col("source").isin(*_BENCH_SOURCES))
        .select("doc_id")
        .collect()
    }
    for r in rows:
        assert 0.0 <= r.overlap_frac <= 1.0
        assert r.n_matched <= r.n_shingles
        assert r.doc_id not in bench_ids  # benchmark docs never scored


# ---------------------------------------------------------------------------
# plan shapes


def test_grouping_sets_single_expand_single_agg_exchange(spark):
    plan = _plan("a25_grouping_sets", spark)
    assert plan.count("Expand (") == 1, plan  # one pass, not three scans
    # partial + final HashAggregate around the grouping exchange
    assert plan.count("HashAggregate (") == 2, plan
    assert "CartesianProduct" not in plan


def test_array_gauntlet_map_only(spark):
    plan = _plan("f_array_gauntlet", spark)
    assert "Join" not in plan
    # only exchange is the output sort's range partitioning
    exchanges = [
        l for l in plan.splitlines() if l.strip().startswith("Exchange")
    ]
    assert all("rangepartitioning" in l for l in exchanges), exchanges
    # everything stays JVM-side: no python/pandas UDF nodes
    assert "Python" not in plan and "ArrowEvalPython" not in plan
