"""Round-5c operator invariants beyond the oracle rows: losslessness of
the prefix-filter Jaccard join vs the quadratic baseline, candidate
pruning and plan shape, naive-recompute cross-checks for the EWMA and
histogram, full-coverage invariants for the null-safe join, and multiset
semantics for EXCEPT ALL."""

from __future__ import annotations

import contextlib
import io
import math
from collections import Counter

from pyspark.sql import functions as F

from burst_db_spark.catalog import load
from burst_db_spark.operators import dedup as dd
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
# prefix-filter join: LOSSLESS vs the exact quadratic baseline


def test_prefix_join_equals_quadratic_baseline(spark):
    docs = load(spark, SF_DIR, "documents")
    fast = {
        (r.id_a, r.id_b): (r.common, r.jaccard)
        for r in dd.jaccard_prefix_pairs(docs, "doc_id", threshold=0.5).collect()
    }
    slow = {
        (r.id_a, r.id_b): (r.common, r.jaccard)
        for r in dd.ngram_jaccard_pairs(
            docs, "doc_id", threshold=0.5, max_df=None
        ).collect()
    }
    assert fast == slow
    assert fast, "corpus should contain near-dup pairs at jaccard >= 0.5"


def test_prefix_join_plan_no_cartesian(spark):
    plan = _plan("dd_jaccard_prefix_join", spark)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_prefix_candidates_prune_vs_naive(spark):
    """The prefix+length candidate join must touch strictly fewer pairs
    than the naive all-shared-shingle join (the quantity that explodes
    quadratically with hot shingles at scale)."""
    docs = load(spark, SF_DIR, "documents")
    sh = dd.doc_shingles(docs, "doc_id")
    other = sh.select(F.col("doc_id").alias("id_b"), F.col("shingle").alias("s2"))
    naive = (
        sh.join(other, (sh.shingle == F.col("s2")) & (sh.doc_id < F.col("id_b")))
        .select("doc_id", "id_b")
        .distinct()
        .count()
    )
    # reproduce the operator's candidate stage only
    from pyspark.sql import Window

    w = Window.partitionBy("shingle")
    ranked = sh.withColumn("__df", F.count("*").over(w))
    arr = (
        ranked.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__df"), F.col("shingle")))
            ).alias("o"),
            F.count("*").alias("n_sh"),
        )
        .select(
            "doc_id",
            "n_sh",
            F.transform("o", lambda s: s["shingle"]).alias("toks"),
        )
        .withColumn(
            "prefix",
            F.slice(
                "toks",
                1,
                F.col("n_sh") - F.ceil(F.lit(0.5) * F.col("n_sh")).cast("int") + 1,
            ),
        )
    )
    a = arr.select(
        F.col("doc_id").alias("id_a"),
        F.col("n_sh").alias("na"),
        F.explode("prefix").alias("p"),
    )
    b = arr.select(
        F.col("doc_id").alias("id_b"),
        F.col("n_sh").alias("nb"),
        F.explode("prefix").alias("p2"),
    )
    pruned = (
        a.join(
            b,
            (a.p == F.col("p2"))
            & (F.col("id_a") < F.col("id_b"))
            & (F.col("nb") >= 0.5 * F.col("na"))
            & (F.col("na") >= 0.5 * F.col("nb")),
        )
        .select("id_a", "id_b")
        .distinct()
        .count()
    )
    assert pruned < naive


# ---------------------------------------------------------------------------
# EWMA: matches a per-user naive recomputation bit-for-bit


def test_ewma_matches_naive(spark):
    got = {
        r.user_id: (r.n_used, r.ewma_16)
        for r in SPECS["w14_ewma_halflife"].build(spark, SF_DIR).collect()
    }
    ev = load(spark, SF_DIR, "events").select("user_id", "ts", "event_id", "value")
    by_user: dict[int, list] = {}
    for r in ev.collect():
        by_user.setdefault(r.user_id, []).append((r.ts, r.event_id, r.value))
    assert set(got) == set(by_user)
    for uid, rows in by_user.items():
        rows.sort(key=lambda t: (t[0], t[1]), reverse=True)
        tail = rows[:16]
        # same integer-scaled arithmetic: round half-up to 6 decimals,
        # weight by 2^(16-rn), one final float division
        total = 0
        for rn, (_, _, v) in enumerate(tail, start=1):
            unscaled = int(
                (v * 10**6) + (0.5 if v >= 0 else -0.5)
            )  # decimal(18,6) of a float value
            total += unscaled * (1 << (16 - rn))
        want = total / 10**6 / 65536.0
        n_used, ewma = got[uid]
        assert n_used == len(tail)
        # abs_tol covers double->decimal(6) rounding-path differences
        # between Java's shortest-string HALF_UP and Python's binary math
        assert math.isclose(ewma, want, rel_tol=1e-9, abs_tol=1e-5), (
            uid,
            ewma,
            want,
        )


# ---------------------------------------------------------------------------
# histogram: exhaustive coverage, bucket bounds


def test_histogram_covers_all_rows(spark):
    rows = SPECS["a29_value_histogram"].build(spark, SF_DIR).collect()
    total = load(spark, SF_DIR, "events").count()
    assert sum(r.n for r in rows) == total
    assert all(0 <= r.bucket <= 19 for r in rows)
    assert all(r.bin_lo < r.bin_hi for r in rows)
    # bins are contiguous equal-width: width identical across rows
    widths = {round(r.bin_hi - r.bin_lo, 9) for r in rows}
    assert len(widths) == 1


# ---------------------------------------------------------------------------
# null-safe join: every customer row matches exactly once (incl. NULLs)


def test_null_safe_join_covers_every_customer(spark):
    rows = SPECS["j15_null_safe_join"].build(spark, SF_DIR).collect()
    cust = load(spark, SF_DIR, "customer")
    assert sum(r.n_customers for r in rows) == cust.count()
    labels = {r.seg_label for r in rows}
    assert "(unsegmented)" in labels  # the NULL key matched
    n_building = cust.where(F.col("c_mktsegment") == "BUILDING").count()
    got = {r.seg_label: r.n_customers for r in rows}
    assert got["(unsegmented)"] == n_building


# ---------------------------------------------------------------------------
# EXCEPT ALL keeps multiset multiplicity; INTERSECT is distinct


def test_intersect_except_semantics(spark):
    rows = SPECS["u5_intersect_except"].build(spark, SF_DIR).collect()
    li = load(spark, SF_DIR, "lineitem").select("l_partkey", "l_shipdate")
    h1 = Counter(
        r.l_partkey
        for r in li.where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-07-01")
        ).collect()
    )
    h2 = Counter(
        r.l_partkey
        for r in li.where(
            (F.col("l_shipdate") >= "1996-07-01")
            & (F.col("l_shipdate") < "1997-01-01")
        ).collect()
    )
    want = Counter()
    for k, c in h1.items():
        keep = c - h2.get(k, 0)
        if keep > 0:
            want[k] = keep
    got = Counter(r.key for r in rows if r.op == "except_all")
    assert got == want
    inter = [r.key for r in rows if r.op == "intersect"]
    assert len(inter) == len(set(inter))  # distinct semantics


# ---------------------------------------------------------------------------
# z-score outliers: reconstruction from group moments


def test_zscore_outliers_threshold(spark):
    rows = SPECS["a28_zscore_outliers"].build(spark, SF_DIR).collect()
    assert rows
    assert all(abs(r.z) > 3.0 for r in rows)
    # every flagged value really is > 3 std away per numpy moments
    import numpy as np

    ev = load(spark, SF_DIR, "events").select("event_type", "value").collect()
    by_type: dict[str, list[float]] = {}
    for r in ev:
        by_type.setdefault(r.event_type, []).append(r.value)
    stats = {
        t: (float(np.mean(v)), float(np.std(v))) for t, v in by_type.items()
    }
    for r in rows:
        m, s = stats[r.event_type]
        assert abs((r.value - m) / s) > 2.999  # fp slack at the boundary


# ---------------------------------------------------------------------------
# HLL merge: day-sketch union equals the direct whole-range sketch


def test_hll_union_flag_and_days(spark):
    rows = SPECS["a27_hll_union_merge"].build(spark, SF_DIR).collect()
    assert rows
    assert all(r.merged_within_5pct for r in rows)
    ev = load(spark, SF_DIR, "events")
    days = {
        r.event_type: r.d
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct(F.to_date("ts")).alias("d"))
        .collect()
    }
    for r in rows:
        assert r.n_days_merged == days[r.event_type]


# ---------------------------------------------------------------------------
# plan shapes for the round-5c second half


def test_null_safe_join_stays_equi_join(spark):
    plan = _plan("j15_null_safe_join", spark)
    # Catalyst rewrites <=> into a hashable key: must NOT degrade to a
    # nested-loop join
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_intersect_except_pushes_date_filters(spark):
    plan = _plan("u5_intersect_except", spark)
    assert "PushedFilters" in plan
    # both date-range predicates reach their parquet scans
    assert plan.count("GreaterThanOrEqual") >= 2


def test_bfs_no_cartesian_and_bounded_joins(spark):
    plan = _plan("g3_bfs_hops", spark)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_variant_single_aggregation_pass(spark):
    plan = _plan("f_variant_props", spark)
    # all variant extraction is expression-level: ONE scan, no join, one
    # partial+final aggregate pair (the only exchanges are the agg hash
    # exchange and the output sort's range exchange)
    assert "Join" not in plan
    assert "HashAggregate" in plan
    tree = plan.split("\n\n")[0]
    n_exchanges = sum(
        1 for line in tree.splitlines() if "Exchange" in line and "Reused" not in line
    )
    assert n_exchanges <= 2, tree


# ---------------------------------------------------------------------------
# property: prefix filtering is lossless on ARBITRARY corpora

from hypothesis import given, settings
from hypothesis import strategies as st

_WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]


@st.composite
def _corpus(draw):
    n_docs = draw(st.integers(min_value=2, max_value=8))
    docs = []
    for i in range(n_docs):
        n_tok = draw(st.integers(min_value=0, max_value=12))
        toks = [
            _WORDS[draw(st.integers(min_value=0, max_value=len(_WORDS) - 1))]
            for _ in range(n_tok)
        ]
        docs.append((i, " ".join(toks)))
    return docs


@settings(max_examples=10, deadline=None)
@given(docs=_corpus(), threshold=st.sampled_from([0.3, 0.5, 0.8]))
def test_prefix_join_lossless_property(spark, docs, threshold):
    """Prefix-filter theorem on arbitrary corpora: tiny docs, empty
    docs, all-identical docs, repeated shingles, every threshold — the
    prefix join must equal the quadratic baseline exactly."""
    df = spark.createDataFrame(docs, "doc_id long, text string")
    fast = {
        (r.id_a, r.id_b, r.common, r.jaccard)
        for r in dd.jaccard_prefix_pairs(
            df, "doc_id", threshold=threshold
        ).collect()
    }
    slow = {
        (r.id_a, r.id_b, r.common, r.jaccard)
        for r in dd.ngram_jaccard_pairs(
            df, "doc_id", threshold=threshold, max_df=None
        ).collect()
    }
    assert fast == slow


@settings(max_examples=10, deadline=None)
@given(docs=_corpus(), threshold=st.sampled_from([0.4, 0.6, 0.9]))
def test_containment_prefix_lossless_property(spark, docs, threshold):
    """Containment prefix theorem on arbitrary corpora: the prefixed
    candidate generation + exact verify must equal the quadratic
    containment definition exactly (incl. empty/tiny docs, identical
    docs, repeated shingles)."""
    df = spark.createDataFrame(docs, "doc_id long, text string")
    fast = {
        (r.id_a, r.id_b, r.inter_size, r.a_size)
        for r in dd.containment_prefix_pairs(
            df, "doc_id", threshold=threshold
        ).collect()
    }
    # quadratic truth from the same shingle sets
    sh = (
        dd.doc_shingles(df, "doc_id")
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("s"))
        .collect()
    )
    sets = {r["doc_id"]: set(r["s"]) for r in sh}
    slow = set()
    for a, sa in sets.items():
        if not sa:
            continue
        for b, sb in sets.items():
            if a == b:
                continue
            inter = len(sa & sb)
            if inter * 10 >= int(round(threshold * 10)) * len(sa):
                slow.add((a, b, inter, len(sa)))
    assert fast == slow
