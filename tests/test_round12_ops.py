"""Round-12 operator invariants: DSIR importance scoring, leakage-safe
splits, RRF hybrid fusion, semi-hard triplet mining, mean-shift
changepoints."""

from __future__ import annotations

import hashlib
import math
from collections import Counter

from pyspark.sql import functions as F

from burst_db_spark.catalog import load
from burst_db_spark.operators import dedup as dd
from burst_db_spark.operators import selection as sel
from burst_db_spark.operators import similarity as sim
from tests.conftest import SF_DIR


def _bucket(term: str, n: int = 64) -> int:
    return int(hashlib.md5(term.encode()).hexdigest()[:4], 16) % n


def _feats(text: str) -> list[str]:
    toks = text.lower().strip().split()
    return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]


def test_dsir_scores_match_reference_impl(spark):
    """dsir_scores == a from-scratch single-process DSIR on a small
    fixture (hashed unigram+bigram counts, add-0.5 smoothing, 6-decimal
    rounded log-ratio, top-k ordering)."""
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", True),
        (1, "the fast brown fox leaps over a sleepy dog", True),
        (2, "el rapido zorro marron salta sobre el perro", False),
        (3, "the quick brown fox is quick and brown", False),
        (4, "completely unrelated tokens here xyz qqq", False),
        (5, "solo", False),  # single token: bigram branch must be empty
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, t boolean")
    out = {
        r["doc_id"]: (r["n_feats"], r["dsir_score"], r["sel_rank"])
        for r in sel.dsir_scores(
            docs, F.col("t"), top_n=3, n_buckets=64
        ).collect()
    }

    # reference implementation
    ct: Counter = Counter()
    cr: Counter = Counter()
    per_doc: dict[int, Counter] = {}
    for doc_id, text, t in rows:
        bs = [_bucket(f) for f in _feats(text)]
        for b in bs:
            (ct if t else cr)[b] += 1
        if not t:
            per_doc[doc_id] = Counter(bs)
    zt, zr = sum(ct.values()), sum(cr.values())
    logr = {
        b: round(
            math.log(
                ((ct[b] + 0.5) * (zr + 32.0)) / ((cr[b] + 0.5) * (zt + 32.0))
            ),
            6,
        )
        for b in set(ct) | set(cr)
    }
    scores = {}
    for doc_id, cnts in per_doc.items():
        s = 0.0
        for b in sorted(cnts):
            s += cnts[b] * logr[b]
        scores[doc_id] = (sum(cnts.values()), s)
    top = sorted(scores, key=lambda d: (-scores[d][1], d))[:3]

    assert set(out) == set(top)
    for rank, doc_id in enumerate(top, 1):
        n_feats, score, sel_rank = out[doc_id]
        assert n_feats == scores[doc_id][0]
        assert abs(score - scores[doc_id][1]) < 1e-9
        assert sel_rank == rank
    # among the similar-length raw docs, the one sharing the target's
    # vocabulary must outrank the gibberish one (scores are length-biased
    # sums — the 1-token doc legitimately floats to the top — so the
    # semantic check is pairwise at matched length, not absolute rank)
    assert scores[3][1] > scores[4][1]


def test_leakage_safe_splits_zero_cluster_leaks(spark):
    """cluster_leaky_pairs is 0 (computed), naive_leaky_pairs counts the
    hand-checked naive-hash straddles, and every near-dup pair shares a
    split."""
    docs = load(spark, SF_DIR, "documents")
    pairs = dd.ngram_jaccard_pairs(docs, "doc_id", threshold=0.2)
    labels = dd.connected_components(pairs, docs, "doc_id")
    out = sel.leakage_safe_splits(
        docs, pairs.select("id_a", "id_b"), labels
    ).collect()
    assert out, "expected at least one split row"
    n_docs_total = sum(r["n_docs"] for r in out)
    assert n_docs_total == docs.count()
    for r in out:
        assert r["cluster_leaky_pairs"] == 0
        assert r["split"] in ("train", "val", "test")

    # independent naive-leak count
    lbl = {r["doc_id"]: r["cluster_id"] for r in labels.collect()}
    pr = [(r["id_a"], r["id_b"]) for r in pairs.collect()]

    def nsplit(x: int) -> str:
        h = int(hashlib.md5(f"split:{x}".encode()).hexdigest()[:4], 16) % 10
        return "train" if h < 8 else ("val" if h == 8 else "test")

    naive = sum(1 for a, b in pr if nsplit(a) != nsplit(b))
    assert out[0]["naive_leaky_pairs"] == naive
    # and the cluster assignment really co-locates each pair
    for a, b in pr:
        assert lbl[a] == lbl[b]


def test_mine_triplets_semi_hard_invariants(spark):
    """Positives share the anchor's label and are its nearest same-label
    neighbor; negatives differ in label, sit strictly below the
    positive's cosine, and margins are positive."""
    emb = load(spark, SF_DIR, "embeddings")
    rows = sim.mine_triplets(emb, n_anchors=5, n_neg=2).collect()
    assert rows
    lbl = {r["vec_id"]: r["label"] for r in emb.collect()}
    by_anchor: dict[int, list] = {}
    for r in rows:
        by_anchor.setdefault(r["anchor_id"], []).append(r)
    for anchor_id, trips in by_anchor.items():
        pos_ids = {t["pos_id"] for t in trips}
        assert len(pos_ids) == 1, "one positive per anchor"
        (pos_id,) = pos_ids
        assert lbl[pos_id] == lbl[anchor_id]
        for t in trips:
            assert lbl[t["neg_id"]] != lbl[anchor_id]
            assert t["cos_neg"] < t["cos_pos"]
            assert t["margin"] > 0
        ranks = sorted(t["neg_rank"] for t in trips)
        assert ranks == list(range(1, len(trips) + 1))


def test_rrf_fusion_combines_both_rank_lists(spark):
    """The fused score equals 1/(60+r_bm25) + 1/(60+r_cos) with absent
    ranks contributing 0, and fused ranks are 1..k unique."""
    from burst_db_spark.registry import all_queries

    out = all_queries()["t_rrf_hybrid_search"].build(spark, SF_DIR).collect()
    assert len(out) == 20
    ranks = sorted(r["fused_rank"] for r in out)
    assert ranks == list(range(1, 21))
    for r in out:
        expect = 0.0
        if r["rank_bm25"] is not None:
            expect += 1.0 / (60 + r["rank_bm25"])
        if r["rank_cos"] is not None:
            expect += 1.0 / (60 + r["rank_cos"])
        assert abs(r["rrf"] - expect) < 1e-15
    # the fusion is genuinely hybrid: at least one doc carries both ranks
    assert any(
        r["rank_bm25"] is not None and r["rank_cos"] is not None for r in out
    )


def test_mean_shift_changepoint_full_windows_only(spark):
    """Every emitted day has complete 7-day flanks; delta is exactly
    mean_post - mean_pre; is_shift matches the 25%-of-baseline rule."""
    from burst_db_spark.registry import all_queries

    q = all_queries()["w20_mean_shift_changepoint"].build(spark, SF_DIR)
    rows = q.collect()
    assert rows
    events = load(spark, SF_DIR, "events")
    daily = (
        events.groupBy("event_type", F.to_date("ts").alias("day"))
        .count()
        .collect()
    )
    per_type: dict[str, dict] = {}
    for r in daily:
        per_type.setdefault(r["event_type"], {})[r["day"]] = r["count"]
    for r in rows:
        series = per_type[r["event_type"]]
        days = sorted(series)
        i = days.index(r["day"])
        assert i >= 7 and i + 6 < len(days), "full flanks required"
        pre = sum(series[d] for d in days[i - 7 : i]) / 7.0
        post = sum(series[d] for d in days[i : i + 7]) / 7.0
        assert abs(r["mean_pre"] - pre) < 1e-12
        assert abs(r["mean_post"] - post) < 1e-12
        assert abs(r["delta"] - (post - pre)) < 1e-12
        baseline = sum(series.values()) / len(series)
        assert r["is_shift"] == (abs(post - pre) > 0.25 * baseline)


def test_ppjoin_positional_matches_prefix_and_quadratic(spark):
    """The positional filter is LOSSLESS: jaccard_ppjoin_pairs returns
    exactly the pair set of the prefix-only join and of the quadratic
    shingle-join baseline at the same threshold."""
    docs = load(spark, SF_DIR, "documents")

    def pairset(df):
        return {
            (r["id_a"], r["id_b"], r["common"], round(r["jaccard"], 12))
            for r in df.collect()
        }

    pp = pairset(dd.jaccard_ppjoin_pairs(docs, "doc_id", threshold=0.5))
    prefix = pairset(dd.jaccard_prefix_pairs(docs, "doc_id", threshold=0.5))
    quad = pairset(
        dd.ngram_jaccard_pairs(docs, "doc_id", threshold=0.5).select(
            "id_a", "id_b", "common",
            F.col("jaccard"),
        ).join(
            dd.jaccard_prefix_pairs(docs, "doc_id", threshold=0.5).select(
                "id_a", "id_b", "n_a", "n_b"
            ),
            ["id_a", "id_b"],
        ).select("id_a", "id_b", "common", "jaccard")
    )
    assert pp == prefix
    assert {(a, b) for a, b, *_ in pp} == {(a, b) for a, b, *_ in quad}
    assert pp, "fixture should contain near-dup pairs"


def test_hashed_gumbel_matches_python(spark):
    """The derandomized Gumbel keys equal -ln(-ln((md5_32 + 0.5)/2^32))
    rounded to 6 decimals, computed independently in Python."""
    df = spark.range(0, 200).select(F.col("id").alias("doc_id"))
    got = {
        r["doc_id"]: r["g"]
        for r in df.select(
            "doc_id", sel.hashed_gumbel(F.col("doc_id")).alias("g")
        ).collect()
    }
    for doc_id, g in got.items():
        h32 = int(hashlib.md5(f"g:{doc_id}".encode()).hexdigest()[:8], 16)
        u = (h32 + 0.5) / 4294967296.0
        assert g == round(-math.log(-math.log(u)), 6)
    # and the noise is actually spread out (a degenerate hash would
    # collapse the sample to the deterministic top-k)
    assert len(set(got.values())) > 190


def test_dsir_gumbel_sample_is_weighted_not_topk(spark):
    """The Gumbel sample must (a) rank by score+gumbel exactly, and
    (b) differ from the deterministic top-k (it is a SAMPLE — if it
    equals plain top-k the noise did nothing)."""
    docs = load(spark, SF_DIR, "documents")
    target = F.col("lang") == "en"
    samp = sel.dsir_gumbel_sample(docs, target, top_n=30).collect()
    assert len(samp) == 30
    for r in samp:
        assert abs(r["sample_key"] - (r["dsir_score"] + r["gumbel"])) < 1e-12
    keys = [r["sample_key"] for r in sorted(samp, key=lambda r: r["sample_rank"])]
    assert keys == sorted(keys, reverse=True)
    det = {r["doc_id"] for r in sel.dsir_scores(docs, target, top_n=30).collect()}
    assert {r["doc_id"] for r in samp} != det


def test_scene_cuts_counts_against_generator(spark):
    """n_cuts / distances re-derived from the video fixture's generator
    formula in plain Python must match the decoded Spark result."""
    from burst_db_spark.registry import all_queries
    from burst_db_spark.runner import scope

    with scope():
        rows = {
            r["video_id"]: r
            for r in all_queries()["mm_scene_cuts"].build(spark, SF_DIR).collect()
        }
    assert rows
    events = load(spark, SF_DIR, "events")
    nf_by_vid = {
        r["user_id"]: min(r["count"], 40)
        for r in events.groupBy("user_id").count().collect()
    }
    for vid, r in rows.items():
        nf = nf_by_vid[vid]
        dists = [
            sum(
                abs(
                    ((vid * 31 + (k + 1) * 7 + j) % 256)
                    - ((vid * 31 + k * 7 + j) % 256)
                )
                for j in range(32)
            )
            for k in range(nf - 1)
        ]
        assert r["n_boundaries"] == len(dists)
        assert r["sum_dist"] == sum(dists)
        assert r["max_dist"] == max(dists)
        mean = sum(dists) / len(dists)
        assert r["n_cuts"] == sum(1 for d in dists if d > 1.5 * mean)
