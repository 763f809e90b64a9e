#!/usr/bin/env python
"""Scale probe: replicate the sf0.1 tables ~10x (≈ sf1: 6M lineitem rows,
100k events-per-day equivalent, 50k docs) into /tmp and measure how the
headline operators scale vs sf0.1. Linear-ish ratios (≈10x work in ≈10x
time or less on fixed cores) are the evidence that the plans hold at
scale; superlinear blowups flag quadratic candidates.

Every rung is timed by ``runner.run``: the operator's build (with its
eager actions) and the action in one bracket, and whatever the build
persisted or staged is released after the timer stops.

Usage: python scale_probe.py [replication_factor]
Writes one JSON line: {"sf0.1_sec": {...}, "sf1_sec": {...}, "ratio": {...}}
"""

from __future__ import annotations

import json
import os
import sys
from functools import reduce

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from burst_db_spark.catalog import TABLES, load
from burst_db_spark.registry import QuerySpec, all_queries
from burst_db_spark.runner import noop_write, persist, run, scope, tmpdir
from burst_db_spark.session import fan_out, get_spark, parallelism

SF_BASE = "/root/testdata/sf0.1"

PROBE_QUERIES = [
    "q1_pricing_summary",
    "frame_lookup",
    "j2_fact_dim_broadcast",
    "w3_batch_labels",
    "ep2_burst_catalog",
    "dd_exact",
    "dd_minhash_lsh",
    "t_quality_score",
    "q5_local_supplier_volume",
    "dd_embedding_nn",
    "a3_dissolve_union_area",
    "a3_union_polygon",
    "t_pack_sequences",
    "t_split_assign",
    "t_curriculum_buckets",
    "j12_asof_join",
    # round-3 session operators
    "t_repetition_stats",
    "t_stratified_sample",
    "t_decontaminate_bloom",
    "s11_zarr_cube",
    "knn_cosine_ivf_multiprobe",
    # NTZ-repaired window family (round 4: re-proven on current data)
    "w2_sessionize",
    "w_rolling_1d",
    "a13_weekly_window",
    # round-4 session operators
    "q3_shipping_priority",
    "j13_range_interval_join",
    "t_ngram_lm_perplexity",
    "dd_lsh_cluster_dedup",
    "t_docs_minhash_pipeline",
    # round-4 late-session operators
    "a19_approx_percentile",
    "t_phrase_search",
    "a21_hopping_window",
    "a22_rollup",
    "w10_scd2_intervals",
    "w11_funnel",
    "a23_cohort_retention",
    # round-5 operators (subquery decorrelation + BPE invariant); g1
    # joins now that the timing bracket includes in-build actions
    "q4_order_priority",
    "q12_late_priority",
    "q16_supplier_cnt",
    "q17_small_qty_revenue",
    "q18_large_volume",
    "q20_part_shippers",
    "q21_suppliers_waiting",
    "q22_global_sales_opportunity",
    "t_bpe_reconstruction",
    "g1_pagerank3",
    "t_chunk_documents",
    "t_lm_quality_gate",
    "g2_triangle_stats",
    "w12_linear_interpolation",
    # round-5b: TPC-H completion + stats/pipeline widening
    "q2_min_cost_supplier",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q11_important_stock",
    "q13_order_count_distribution",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q19_discounted_revenue",
    "a24_moment_stats",
    "a25_grouping_sets",
    "t_token_budget_mix",
    "t_ngram_overlap_score",
    # round-5c
    "dd_jaccard_prefix_join",
    "a27_hll_union_merge",
    "a28_zscore_outliers",
    "w14_ewma_halflife",
    "j15_null_safe_join",
    "u5_intersect_except",
    "a29_value_histogram",
    "s13_zarr_python_datasource",
    "f_variant_props",
    "g3_bfs_hops",
    # round-6 operators
    "s14_zarr_py_writer",
    "g4_cc_iterative",
    "f_arrow_udf_normalize",
    "mm_audio_windows",
    "t_weighted_sample",
    "a31_countmin_merge",
    "j14_fuzzy_name_join",
    # round-8/9 operators (sketches, cascade, DPP interval join,
    # incremental dedup, stateless streaming decontamination)
    "a35_tdigest_quantiles",
    "a36_theta_sketch_setops",
    "w17_mad_anomaly",
    "t_reservoir_per_group",
    "j17_bloom_prejoin",
    "t_substring_dedup",
    "dd_docs_cascade_pipeline",
    "j18_point_in_interval_dpp",
    "dd_minhash_incremental",
    "dd_source_overlap_matrix",
    "a38_sliding_kmv_distinct",
    "p13_late_materialization",
    "stream_decontaminate_bloom",
]

# keys to shift per replica so replicated rows don't collapse into the
# same groups (they stay distinct entities, growing the key space too)
KEY_SHIFTS = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "part": [],
    "supplier": [],
    "nation": [],
    "region": [],
}
SHIFT = 10_000_000


def _replicas(n: int, rep) -> DataFrame:
    """``rep(0) ∪ … ∪ rep(n - 1)``, unioned by column name."""
    return reduce(DataFrame.unionByName, map(rep, range(n)))


def replicate(spark, src_dir: str, out_dir: str, factor: int) -> None:
    for t in TABLES:
        df = load(spark, src_dir, t)
        if not KEY_SHIFTS.get(t):
            df.write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")
            continue
        _replicas(
            factor,
            lambda r: df.withColumns(
                {k: F.col(k) + F.lit(r * SHIFT) for k in KEY_SHIFTS[t]}
            ),
        ).repartition(32).write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")


def time_queries(spark, specs, sf_dir: str) -> dict[str, float]:
    # build()+write in one bracket (as in bench.py): in-build driver
    # actions are part of the cost being probed
    return {
        name: round(run(specs[name], spark, sf_dir, noop_write)[2], 2)
        for name in PROBE_QUERIES
    }


def _timed(spark, key: str, build, act=noop_write):
    """Time ``build()`` and ``act`` on what it returns through
    ``runner.run``, as the query ``key`` (its job group). Returns
    ``(seconds, act's result)``; what the build persisted or staged is
    released after the timer stops."""
    spec = QuerySpec(key, lambda spark, sf_dir: build(), None)
    result, _, total_s = run(spec, spark, None, act)
    return round(total_s, 2), result


def _ladder(factor: int, rung) -> dict:
    """``rung(1)`` and ``rung(factor)``, each a ``{key: value}`` dict, in
    one dict: the big rung's keys get the suffix ``_big``. A discarded
    ``rung(1)`` runs first, so the timed 1x rung carries no JVM or
    codegen warm-up."""
    rung(1)
    return {
        f"{k}{label}": v
        for label, f in (("", 1), ("_big", factor))
        for k, v in rung(f).items()
    }


def split_ladder(cd: dict) -> tuple[dict, dict, dict]:
    """``(small, large, ratio)`` of a ladder: every key without the
    ``_big`` suffix is small; a small key ``k`` whose ``k_big`` is there
    gets ``large[k]`` and ``ratio[k]`` (None when the small value is 0)."""
    small = {k: v for k, v in cd.items() if not k.endswith("_big")}
    large = {k: cd[f"{k}_big"] for k in small if f"{k}_big" in cd}
    ratio = {
        k: round(large[k] / small[k], 1) if small[k] else None for k in large
    }
    return small, large, ratio


def _synth_boxes(spark, n: int, side: int, seed_mult: int, wmax: int, hmax: int,
                 prefix: str):
    """n pseudo-random integer boxes spread over a side×side domain.

    Coordinates are md5-derived (seeded by ``seed_mult``), NOT the
    former modular stride ``(id·m) mod side``: stride x/y are linearly
    related mod side, so every point sat on evenly-spaced diagonal
    stripes — cells were either empty or dense, and at the 100× rung a
    shared factor (gcd(m, side)=39) additionally collapsed y onto 688
    distinct values, leaving 99.3 % of cells empty and stampeding every
    probe into the exact fallback. That measured the GENERATOR as a
    fake quadratic blowup. md5 mixing gives Poisson cell occupancy at
    every rung, so the ladder measures the operator."""
    df = spark.range(n).withColumnRenamed("id", f"{prefix}id")
    kid = F.col(f"{prefix}id")

    def h(tag: str) -> F.Column:
        return F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{seed_mult}:{tag}:"), kid.cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("bigint")

    x = h("x") % side
    y = h("y") % side
    return df.select(
        f"{prefix}id",
        x.alias(f"{prefix}xmin"),
        y.alias(f"{prefix}ymin"),
        (x + 1 + kid % wmax).alias(f"{prefix}xmax"),
        (y + 1 + kid % hmax).alias(f"{prefix}ymax"),
    )


def spatial_cd_probe(spark, n_small: int, factor: int) -> dict[str, float]:
    """Constant-DENSITY scaling for the grid-cell spatial joins: when the
    corpus grows 10x, the DOMAIN grows 10x too (real data covers more
    ground), so the matching-pair count grows ~10x, not 100x. A clone-
    replication probe would stack 10 copies of every box on the same
    spot, inflating OUTPUT quadratically — that measures the data
    generator, not the plan. Here linear-ish ratios are plan evidence:
    candidate generation is bucket-local, not O(N·M)."""
    from burst_db_spark.operators.spatial_join import grid_bbox_join, grid_nn_join

    def rung(f):
        n = n_small * f
        # ~72 units² per left box keeps r2's sf0.1 density
        side = max(32, int((n * 72) ** 0.5))
        left = _synth_boxes(spark, n, side, 2654435761 % side or 7, 5, 4, "l")
        right = _synth_boxes(spark, max(n // 10, 1), side, 40503, 20, 15, "r")
        probes = left.select(
            "lid", F.col("lxmin").alias("px"), F.col("lymin").alias("py")
        )
        points = right.select(
            "rid", F.col("rxmin").alias("sx"), F.col("rymin").alias("sy")
        )
        bbox_s, _ = _timed(spark, "j7_grid_cd", lambda: grid_bbox_join(
            left, right, ("lxmin", "lymin", "lxmax", "lymax"),
            ("rxmin", "rymin", "rxmax", "rymax"), cell_size=32.0,
        ))
        knn_s, _ = _timed(spark, "knn_grid_cd", lambda: grid_nn_join(
            probes, points, probe_key="lid", probe_xy=("px", "py"),
            point_xy=("sx", "sy"), cell_size=24.0, point_cols=("rid",),
            tie_break="rid",
        ))
        return {"j7_grid_cd": bbox_s, "knn_grid_cd": knn_s}

    return _ladder(factor, rung)


def _cd_corpus(spark, factor: int, *extra_cols: str):
    """documents replicated ``factor``x with DISJOINT token spaces per
    replica (every token suffixed) — constant near-dup density; see
    jaccard_cd_probe below for why clone replication is wrong here.
    ``extra_cols`` ride along unchanged."""
    docs = load(spark, SF_BASE, "documents").select("doc_id", "text", *extra_cols)
    return _replicas(factor, lambda r: docs.select(
        (F.col("doc_id") + F.lit(r * SHIFT)).alias("doc_id"),
        F.regexp_replace("text", r"(\S+)", f"$1x{r}").alias("text"),
        *extra_cols,
    ))


def minhash_cd_probe(spark, factor: int) -> dict[str, float]:
    """Constant near-dup-density scaling for the MinHash+LSH pipeline
    (same corpus construction as jaccard_cd_probe)."""
    from burst_db_spark.operators.dedup import minhash_lsh_dedup

    def rung(f):
        corpus = _cd_corpus(spark, f)
        secs, _ = _timed(
            spark, "dd_minhash_lsh_cd",
            lambda: minhash_lsh_dedup(corpus, "doc_id", threshold=0.5),
        )
        return {"dd_minhash_lsh_cd": secs}

    return _ladder(factor, rung)


def jaccard_cd_probe(spark, factor: int) -> dict[str, float]:
    """Constant near-dup-DENSITY scaling for the prefix-filter Jaccard
    join: clone replication (the table probe above) makes every replica
    a jaccard-1.0 near-dup of its 9 siblings, so TRUE OUTPUT pairs grow
    ~factor² and any exact similarity join — prefix-filtered or not —
    must do quadratically more verify work by construction. Real
    corpora don't grow that way: 10x the data brings mostly NEW
    documents with the same dup-group sizes. Model that by giving each
    replica a disjoint token space (every token gets a per-replica
    suffix): within-replica near-dup structure is preserved, cross-
    replica pairs are impossible, output and candidates grow ~factor.
    Linear-ish wall ratios here are the plan evidence."""
    from burst_db_spark.operators.dedup import jaccard_prefix_pairs

    def rung(f):
        corpus = _cd_corpus(spark, f)
        secs, _ = _timed(
            spark, "dd_jaccard_prefix_cd",
            lambda: jaccard_prefix_pairs(corpus, "doc_id", threshold=0.5),
        )
        return {"dd_jaccard_prefix_cd": secs}

    return _ladder(factor, rung)


def winnow_cd_probe(spark, factor: int) -> dict[str, float]:
    """Constant near-dup-density scaling for the winnowing fingerprint
    overlap join (same disjoint-token-space corpus as jaccard_cd_probe:
    per-replica token suffixes perturb the character stream, so
    cross-replica fingerprint collisions are chance-level and true
    overlap pairs grow ~factor). The per-doc window-min is embarrassingly
    parallel; the pair join is bounded by the df<=max_df fingerprint
    guard, so wall should track corpus size ~linearly."""
    from burst_db_spark.operators.text import winnow_overlap_pairs

    def rung(f):
        corpus = _cd_corpus(spark, f)
        secs, _ = _timed(spark, "dd_winnow_overlap_cd", lambda: winnow_overlap_pairs(
            fan_out(corpus, "doc_id"), "doc_id", min_shared=10, max_df=50
        ))
        return {"dd_winnow_overlap_cd": secs}

    return _ladder(factor, rung)


def winnow_clusters_cd_probe(spark, factor: int) -> dict[str, float]:
    """Constant near-dup-density scaling for the FULL MOSS pipeline
    (fingerprints → guarded overlap pairs → connected components):
    fingerprinting is map-only and the pair join is df<=max_df bounded,
    so the open question at 100x is the CC stage — pair volume under
    the guard feeds min-label propagation (or driver union-find when
    n_edges <= local_edge_gate; the probe reports which path ran)."""
    from burst_db_spark.operators.dedup import (
        CC_LOCAL_EDGE_GATE,
        connected_components,
    )
    from burst_db_spark.operators.text import winnow_overlap_pairs

    def rung(f):
        corpus = _cd_corpus(spark, f)

        def build():
            # min_shared=2 (not the registered query's 10): the per-replica
            # token suffix makes every "xN "-containing gram hot, so the
            # max_df guard strips most shared fingerprints — at min_shared=10
            # the probe corpus has ZERO pairs and the CC stage under test
            # never runs. 2 restores realistic pair density (481 pairs at 1x).
            pairs = persist(winnow_overlap_pairs(
                fan_out(corpus, "doc_id"), "doc_id", min_shared=2, max_df=50
            ).select("id_a", "id_b"))
            n_edges = pairs.count()
            return connected_components(pairs, corpus, "doc_id"), n_edges

        def act(built):
            labels, n_edges = built
            noop_write(labels)
            return n_edges

        secs, n_edges = _timed(spark, "dd_winnow_clusters_cd", build, act)
        return {
            "dd_winnow_clusters_cd": secs,
            "dd_winnow_clusters_cd_edges": n_edges,
            "dd_winnow_clusters_cd_gate": int(n_edges <= CC_LOCAL_EDGE_GATE),
        }

    return _ladder(factor, rung)


def int8_cd_probe(spark, factor: int) -> dict[str, float]:
    """Scaling for the int8 scalar-quantized sweep: candidate corpus
    grows ``factor``x (the constant-density embedding construction),
    the 8-query set stays fixed, so cost is linear-by-construction in
    the candidate count — this probe MEASURES that the constant holds
    (no accidental rescan/broadcast blowup)."""
    from burst_db_spark.operators.similarity import int8_quantized_topk

    def rung(f):
        emb = _cd_embeddings(spark, f)
        secs, _ = _timed(spark, "knn_int8_cd", lambda: int8_quantized_topk(
            emb, n_queries=8, topc=24, topk=5
        ))
        return {"knn_int8_cd": secs}

    return _ladder(factor, rung)


def containment_cd_probe(spark, factor: int) -> dict[str, float]:
    """Constant-density scaling for the prefix-filtered CONTAINMENT join
    (same disjoint-token-space corpus as jaccard_cd_probe: within-replica
    near-superset structure preserved, cross-replica pairs impossible, so
    true output grows ~factor — linear-ish wall is the evidence that the
    A-prefix x full-inverted-index candidate join does not quadratify)."""
    from burst_db_spark.operators.dedup import containment_prefix_pairs

    def rung(f):
        corpus = _cd_corpus(spark, f)
        secs, _ = _timed(
            spark, "t_containment_cd",
            lambda: containment_prefix_pairs(corpus, "doc_id", threshold=0.6),
        )
        return {"t_containment_cd": secs}

    return _ladder(factor, rung)


def embedding_cd_probe(spark, factor: int) -> dict[str, float]:
    """Constant near-dup-density scaling for the embedding-LSH family.
    Clone replication makes every clone cosine-1.0 with its siblings
    (quadratic TRUE pairs — the artifact SCALING.md documents for the
    r1-r4 table probe); real embedding corpora grow with mostly NEW
    content. Model that with a per-replica DIAGONAL ±1 ISOMETRY: flip a
    seeded random subset of dimensions per replica. Sign flips are
    exact in float arithmetic, so within-replica cosines (and the true
    pair set per replica) are preserved bit-for-bit, while cross-replica
    pairs see ~half their terms negated — expected cosine ~0, far below
    the 0.4 threshold. Output and candidates grow ~factor.

    LSH params are AUTO-SIZED per rung via lsh_params_for (bits per
    band grow with log2 of the corpus so bucket occupancy stays ~256):
    holding r fixed while the corpus grows re-quadratifies the
    per-bucket verify — measured 30x wall at 10x docs with r=4 pinned,
    vs near-linear with the sizing rule. The registry queries keep
    fixed params at driver SF because their oracles replicate the plane
    literals bit-for-bit; the sizing rule is the 100 TB knob."""
    return _ladder(factor, lambda f: embedding_cd_rung(spark, f))


def _cd_embeddings(spark, factor: int):
    """The constant-density embedding corpus (see embedding_cd_probe)."""
    emb = load(spark, SF_BASE, "embeddings").select("vec_id", "embedding")
    return _replicas(factor, lambda r: emb.select(
        (F.col("vec_id") + F.lit(r * SHIFT)).alias("vec_id"),
        F.expr(
            f"transform(embedding, (v, i) -> v * IF("
            f"xxhash64({r * 131}L, CAST(i AS BIGINT)) % 2 = 0,"
            f" CAST(1.0 AS FLOAT), CAST(-1.0 AS FLOAT)))"
        ).alias("embedding"),
    ))


def embedding_cd_rung(spark, f: int) -> dict[str, float]:
    """One constant-density rung for the embedding-LSH family, params
    auto-sized for the rung's corpus:

    - single-probe: (n_planes, r) = lsh_params_for(N) — occupancy ~256;
    - multi-probe: each vector probes (r+1) keys per band, amplifying
      per-bucket candidate volume (r+1)x, so its buckets must be ~(r+1)x
      SMALLER for the same verify cost: r_mp = r + ceil(log2(r+1)),
      8 bands (half the single-probe band count — the whole point of
      probing is the 2x-smaller signature). Holding the single-probe
      occupancy for the multiprobe path measured 58x wall at 30x docs;
      occupancy/probe-balanced sizing is the honest configuration."""
    import math

    from burst_db_spark.operators.similarity import (
        lsh_near_dup_pairs,
        lsh_near_dup_pairs_multiprobe,
        lsh_params_for,
    )

    n_base = load(spark, SF_BASE, "embeddings").count()
    c = _cd_embeddings(spark, f).repartition(parallelism(spark) * max(1, f // 4))
    n_planes, r = lsh_params_for(n_base * f)
    nn_s, _ = _timed(spark, "dd_embedding_nn_cd", lambda: lsh_near_dup_pairs(
        c, n_planes=n_planes, bits_per_band=r
    ))
    # QUERY-DIRECTED probing (Lv et al. 2007) above the base rung:
    # fixed T=3 probe budget per band (flip the 3 smallest-|margin|
    # bits), so probe rows stay b·4 per vector regardless of r.
    # The r9 flip-all measurement (probes ∝ r) came in 1.4x above
    # linear at 100x BECAUSE r grows with log2 N; the fixed budget
    # removes that term. Bucket width KEEPS the flip-all sizing
    # r_mp = r + ceil(log2(r+1)) — with a fixed budget the verify
    # volume probes×occupancy now SHRINKS as r grows instead of
    # holding constant. (A first attempt re-widened buckets to
    # r_mp = r+2 "to balance 4 probes"; at 100x that quadrupled
    # occupancy and the verify join's vector-pair spill filled the
    # disk — candidate volume, not probe volume, is the binding
    # term, so buckets stay small.)
    probe_t = 3
    r_mp = r + math.ceil(math.log2(r + 1))
    mp_s, _ = _timed(
        spark, "dd_embedding_nn_multiprobe_cd",
        lambda: lsh_near_dup_pairs_multiprobe(
            c,
            n_planes=8 * r_mp,
            bits_per_band=r_mp,
            max_probe_bits=probe_t if r_mp > probe_t else None,
        ),
    )
    return {"dd_embedding_nn_cd": nn_s, "dd_embedding_nn_multiprobe_cd": mp_s}


def minhash_inc_cd_probe(spark, factor: int) -> dict[str, float]:
    """Constant-density scaling for the INCREMENTAL cross-snapshot
    MinHash dedup (dd_minhash_incremental; VERDICT r9 item #5 named it
    the highest 10x ratio of the new rows). Same disjoint-token-space
    corpus as jaccard_cd_probe — cross-replica band matches are
    impossible, the new fraction stays 1/3 — so the new ⋈ old band
    probe's bucket occupancy is constant per replica and the manifest
    grows ~factor. Linear-ish wall is the proof the probe stays
    occupancy-bounded; superlinear would mean hot band buckets."""
    from burst_db_spark.operators.dedup import minhash_incremental_manifest

    def rung(f):
        corpus = _cd_corpus(spark, f)
        secs, _ = _timed(
            spark, "dd_minhash_incremental_cd",
            lambda: minhash_incremental_manifest(
                corpus, "doc_id", F.col("doc_id") % 3 == 0, threshold=0.5
            ),
        )
        return {"dd_minhash_incremental_cd": secs}

    return _ladder(factor, rung)


def embedding_inc_cd_probe(spark, factor: int) -> dict[str, float]:
    """Constant-density scaling for the INCREMENTAL embedding near-dup
    (dd_embedding_nn_incremental, r10): the ±1-isometry corpus of
    embedding_cd_probe (cross-replica cosines ~0, within-replica
    structure preserved), new fraction 1/3, LSH params auto-sized via
    lsh_params_for so band-bucket occupancy stays ~256 as the corpus
    grows — the same sizing law the batch embedding rungs proved
    necessary."""
    from burst_db_spark.operators.similarity import (
        lsh_near_dup_incremental,
        lsh_params_for,
    )

    n_base = load(spark, SF_BASE, "embeddings").count()

    def rung(f):
        c = _cd_embeddings(spark, f).repartition(parallelism(spark) * max(1, f // 4))
        n_planes, r = lsh_params_for(n_base * f)
        secs, _ = _timed(
            spark, "dd_embedding_nn_incremental_cd",
            lambda: lsh_near_dup_incremental(
                c, F.col("vec_id") % 3 == 0, n_planes=n_planes, bits_per_band=r
            ),
        )
        return {"dd_embedding_nn_incremental_cd": secs}

    return _ladder(factor, rung)


def cluster_inc_cd_probe(spark, factor: int) -> dict[str, float]:
    """Merge step of INCREMENTAL cluster maintenance
    (dd_cluster_incremental, reworked r14): FIXED snapshot (5k new docs,
    6k probe pairs) merged into a stored assignment that grows ~factor
    (50k·f old docs in clusters of 5). Production shape contracts old
    endpoints to their stored cluster reps and runs CC on the reduced
    graph (nodes = new docs ∪ touched reps, sizes joined from the label
    store) — flat wall under old-corpus growth is the proof the merge is
    snapshot-proportional. The retired r13 shape (one star edge per OLD
    doc through a full-spine CC) is timed alongside as the corpus-
    proportional control; both shapes return identical rows (pytest
    golden in tests/test_round10_ops.py)."""
    from burst_db_spark.operators.dedup import connected_components

    def synth(f: int):
        n_old = 50_000 * f
        stored = persist(spark.range(n_old).select(
            (F.col("id") * 3 + 1).alias("doc_id"),
            ((F.col("id") - F.col("id") % 5) * 3 + 1).alias("cluster_id"),
        ))
        new_docs = persist(spark.range(5_000).select(
            (F.col("id") * 3).alias("doc_id")
        ))
        new_pairs = persist(
            spark.range(5_000)
            .select(
                (F.col("id") * 3).alias("id_a"),
                ((F.col("id") * 7919 % n_old) * 3 + 1).alias("id_b"),
            )
            .unionByName(
                spark.range(1_000).select(
                    (F.col("id") * 6).alias("id_a"),
                    (F.col("id") * 6 + 3).alias("id_b"),
                )
            )
        )
        stored.count(), new_docs.count(), new_pairs.count()
        return stored, new_docs, new_pairs

    is_new = F.col("doc_id") % 3 == 0

    def per_cluster(labels, n_docs):
        return (
            labels.groupBy("cluster_id")
            .agg(
                n_docs.cast("bigint").alias("n_docs"),
                F.sum(is_new.cast("int")).cast("bigint").alias("n_new"),
            )
            .where(F.col("n_new") > 0)
            .orderBy("cluster_id")
        )

    def star(stored, new_docs, new_pairs):
        edges = stored.where(F.col("doc_id") != F.col("cluster_id")).select(
            F.col("doc_id").alias("id_a"), F.col("cluster_id").alias("id_b")
        )
        cc = connected_components(
            edges.unionByName(new_pairs),
            stored.select("doc_id").unionByName(new_docs),
            "doc_id",
        )
        return per_cluster(cc, F.count("*"))

    def reduced(stored, new_docs, new_pairs):
        lbl_a = stored.select(
            F.col("doc_id").alias("id_a"), F.col("cluster_id").alias("ca")
        )
        lbl_b = stored.select(
            F.col("doc_id").alias("id_b"), F.col("cluster_id").alias("cb")
        )
        mapped = (
            new_pairs.join(lbl_a, "id_a", "left")
            .join(lbl_b, "id_b", "left")
            .select(
                F.coalesce("ca", F.col("id_a")).alias("id_a"),
                F.coalesce("cb", F.col("id_b")).alias("id_b"),
            )
        )
        nodes = (
            new_docs.select("doc_id")
            .unionByName(mapped.select(F.col("id_a").alias("doc_id")))
            .unionByName(mapped.select(F.col("id_b").alias("doc_id")))
            .distinct()
        )
        cc = connected_components(mapped, nodes, "doc_id")
        sizes = stored.groupBy("cluster_id").agg(
            F.count("*").cast("bigint").alias("sz")
        )
        return per_cluster(
            cc.join(sizes.withColumnRenamed("cluster_id", "doc_id"), "doc_id", "left"),
            F.sum(F.coalesce(F.col("sz"), F.lit(1).cast("bigint"))),
        )

    def rung(f):
        with scope():
            inputs = synth(f)
            star_s, _ = _timed(spark, "cluster_inc_star_cd", lambda: star(*inputs))
            reduced_s, _ = _timed(
                spark, "cluster_inc_reduced_cd", lambda: reduced(*inputs)
            )
        return {"cluster_inc_star_cd": star_s, "cluster_inc_reduced_cd": reduced_s}

    return _ladder(factor, rung)


def dpp_cd_probe(spark, factor: int) -> dict[str, float]:
    """Does dynamic partition pruning still prune as the fact's date
    space AND the interval dim grow ``factor``x? (VERDICT r9 item #5,
    j18_point_in_interval_dpp.)

    Fact: events replicated ``factor``x shifted +45 days per replica,
    written date-partitioned — the partition COUNT grows ~factor.
    Two rungs over it, timing only the DPP-side aggregation (the
    in-interval count; the per-type totals side is linear by definition
    and would mask the pruning signal):

    - ``j18_dpp_fixed_iv``: the interval dim stays the ORIGINAL two
      blackout windows (first replica only). With DPP the scan touches
      ~7 date partitions regardless of factor → wall ratio ≈ 1 is the
      pruning proof; a broken DPP scans factor x the partitions.
    - ``j18_dpp_grown_iv``: one interval PAIR PER REPLICA (dim rows grow
      ~factor, still broadcast-sized). Covered partitions grow ~factor →
      wall ratio ≈ factor confirms the dim growth neither breaks the
      broadcast nor de-prunes the scan (cost tracks covered data, not
      total partitions)."""
    ev = load(spark, SF_BASE, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    d0 = ev.groupBy("event_type").agg(F.min(F.to_date("ts")).alias("d0"))

    def interval_dates(n_reps: int):
        iv_rows = [
            (rr * 45 * 24 + s, rr * 45 * 24 + e)
            for rr in range(n_reps)
            for s, e in ((78, 162), (312, 372))
        ]
        return d0.select(
            "event_type",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.expr(
                                f"CAST(d0 AS TIMESTAMP) + INTERVAL {s} HOUR"
                            ).alias("start_ts"),
                            F.expr(
                                f"CAST(d0 AS TIMESTAMP) + INTERVAL {e} HOUR"
                            ).alias("end_ts"),
                        )
                        for s, e in iv_rows
                    ]
                )
            ).alias("w"),
        ).select("event_type", "w.start_ts", "w.end_ts").withColumn(
            "event_date",
            F.explode(
                F.expr("sequence(CAST(start_ts AS DATE), CAST(end_ts AS DATE))")
            ),
        )

    def in_intervals(fact, ivd):
        return (
            fact.join(F.broadcast(ivd), ["event_type", "event_date"])
            .where((F.col("ts") >= F.col("start_ts")) & (F.col("ts") < F.col("end_ts")))
            .groupBy("event_type")
            .agg(F.count("*").cast("bigint").alias("n_in"))
        )

    def rung(f):
        out = {}
        with scope():
            fact_path = os.path.join(tmpdir(f"bds_dpp_{f}_"), "fact")
            _replicas(f, lambda rr: ev.select(
                (F.col("event_id") + F.lit(rr * SHIFT)).alias("event_id"),
                "event_type",
                (F.col("ts") + F.expr(f"INTERVAL {rr * 45} DAYS")).alias("ts"),
                "value",
            )).withColumn("event_date", F.to_date("ts")).write.mode(
                "overwrite"
            ).partitionBy("event_date").parquet(fact_path)
            fact = spark.read.parquet(fact_path)
            for key, n_reps in (("fixed_iv", 1), ("grown_iv", f)):
                ivd = interval_dates(n_reps)
                out[f"j18_dpp_{key}_cd"], _ = _timed(
                    spark, f"j18_dpp_{key}_cd", lambda: in_intervals(fact, ivd)
                )
        return out

    return _ladder(factor, rung)


def shuffle_cd_probe(spark, factor: int) -> dict[str, float]:
    """Scaling for the deterministic corpus shuffle + epoch sharding
    (t_epoch_shard_shuffle): docs replicated ``factor``x with shifted
    ids. The op is one hash exchange + per-range local sorts + a
    broadcast offsets join (plan-shape-pinned), so wall should track the
    scan ~linearly — this probe MEASURES that no hidden global sort or
    skew creeps in as N grows."""
    from burst_db_spark.operators.packing import epoch_shuffle

    base = load(spark, SF_BASE, "documents").select("doc_id")

    def rung(f):
        c = _replicas(f, lambda r: base.select(
            (F.col("doc_id") + F.lit(r * SHIFT)).alias("doc_id")
        ))
        secs, _ = _timed(
            spark, "t_epoch_shard_shuffle_cd",
            lambda: epoch_shuffle(c, "doc_id", "ep0", 8),
        )
        return {"t_epoch_shard_shuffle_cd": secs}

    return _ladder(factor, rung)


def fuzzy_cd_probe(spark, factor: int) -> dict[str, float]:
    """Constant-density scaling for the FastSS fuzzy name join (j14).
    Replicas get a per-replica 3-char suffix (pairwise Levenshtein
    distance 3 between any two suffixes, and appending a shared suffix
    leaves within-replica distances unchanged), so cross-replica pairs
    are impossible at threshold 2 and the TRUE pair set grows ~factor.
    The round-5 BNLJ form would grow the compare count ~factor²; the
    deletion-key equi-join should stay near-linear."""
    from burst_db_spark.operators.joins import fuzzy_string_self_join

    part = load(spark, SF_BASE, "part").select("p_name")

    def suffixed(r: int):
        # repeated 2-char code over DISJOINT alphabets per position:
        # any two distinct codes give LCS <= 3 over the 6 chars, so
        # cross-replica suffix distance >= 3 (no permutation shifts
        # can collide, unlike naive "aaa"/"baa" digit codes)
        code = chr(ord("a") + r % 26) + chr(ord("A") + (r // 26) % 26)
        return part.select(F.concat("p_name", F.lit(f" {code * 3}")).alias("p_name"))

    def rung(f):
        c = _replicas(f, suffixed)
        secs, _ = _timed(
            spark, "j14_fuzzy_cd",
            lambda: fuzzy_string_self_join(c, "p_name", max_dist=2),
        )
        return {"j14_fuzzy_cd": secs}

    return _ladder(factor, rung)


def graph_cd_probe(spark, factor: int) -> dict[str, float]:
    """Constant-DEGREE scaling for the graph family: the sf0.1
    customer→supplier edge set replicated into ``factor`` DISJOINT
    components (per-replica id suffix). Vertices and edges grow
    ~factor, per-vertex degree — and so per-reducer fold width — stays
    constant; the clone-style table probe instead multiplies parallel
    edges into the SAME keys. PageRank: g1's integer-mass operator, 3
    power steps on the replicated graph. BFS: g3's operator, 3
    relaxation rounds on the undirected graph from sparse seeds."""
    from burst_db_spark.operators.graph import bfs_hops, pagerank_int

    li = load(spark, SF_BASE, "lineitem")
    orders = load(spark, SF_BASE, "orders")
    with scope():
        base_edges = persist(
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .select(F.col("o_custkey").alias("ck"), F.col("l_suppkey").alias("sk"))
            .distinct()
        )
        base_edges.count()

        def rung(f):
            e = _replicas(f, lambda r: base_edges.select(
                F.concat(F.lit("c"), F.col("ck"), F.lit(f"_{r}")).alias("src"),
                F.concat(F.lit("s"), F.col("sk"), F.lit(f"_{r}")).alias("dst"),
            ))
            nodes = (
                e.select(F.col("src").alias("id"))
                .unionByName(e.select(F.col("dst").alias("id")))
                .distinct()
            )
            seeds = nodes.select(F.col("id").alias("v")).where(
                (F.substring("v", 1, 1) == "c") & (F.xxhash64("v") % 100 == 0)
            )
            with scope():
                e = persist(e)
                pagerank_s, _ = _timed(
                    spark, "g1_pagerank3_cd",
                    lambda: pagerank_int(e, nodes, iterations=3),
                )
                und = e.unionByName(
                    e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
                )
                bfs_s, _ = _timed(
                    spark, "g3_bfs_cd",
                    lambda: bfs_hops(und, seeds, rounds=3).groupBy("hop").count(),
                )
            return {"g1_pagerank3_cd": pagerank_s, "g3_bfs_cd": bfs_s}

        return _ladder(factor, rung)


def dsir_cd_probe(spark, factor: int) -> dict[str, float]:
    """Scaling for DSIR importance selection: replicate documents with
    per-replica token suffixes (vocabulary grows with the corpus, so the
    64-bucket hashed model absorbs genuinely new features, not clones).
    DSIR has NO pair join — cost is one explode + one (doc, bucket)
    reduce + a broadcast of the 64-row model — so wall should track
    corpus tokens ~linearly and the model frame stays 64 rows at any
    factor (the property that makes the fit a pure reduce at 100 TB)."""
    from burst_db_spark.operators.selection import dsir_scores

    def rung(f):
        corpus = _cd_corpus(spark, f, "lang")
        secs, _ = _timed(
            spark, "t_dsir_cd",
            lambda: dsir_scores(corpus, F.col("lang") == "en", top_n=50),
        )
        return {"t_dsir_cd": secs}

    return _ladder(factor, rung)


def ppjoin_cd_probe(spark, factor: int) -> dict[str, float]:
    """Constant near-dup-density scaling for the PPJoin positional-filter
    join (same disjoint-token-space corpus as jaccard_cd_probe) — run
    next to --probe jaccard to compare the positional filter's candidate
    pruning against the prefix-only join at the same rungs."""
    from burst_db_spark.operators.dedup import jaccard_ppjoin_pairs

    def rung(f):
        corpus = _cd_corpus(spark, f)
        secs, _ = _timed(
            spark, "dd_ppjoin_cd",
            lambda: jaccard_ppjoin_pairs(corpus, "doc_id", threshold=0.5),
        )
        return {"dd_ppjoin_cd": secs}

    return _ladder(factor, rung)


def splits_cd_probe(spark, factor: int) -> dict[str, float]:
    """End-to-end leakage-safe split pipeline (t_cluster_safe_splits):
    near-dup pairs at threshold 0.2 → connected components → cluster-id
    split hashing + leak audit, on the constant near-dup-density corpus
    (disjoint token spaces per replica — VERDICT r11 #4 names the
    near-dup EDGE VOLUME under the low 0.2 threshold as the term to
    watch: each replica contributes the same within-replica pair set,
    so the true edge count grows ~factor; anything superlinear in the
    wall is the shingle join's candidate stage or CC, not the data).
    ``n_chars`` is recomputed from the suffixed text so the rollup sums
    reflect the probe corpus, like the registered query's input. The
    edge count is taken after the timer stops."""
    from burst_db_spark.operators import dedup as dd
    from burst_db_spark.operators import selection as sel

    def rung(f):
        corpus = _cd_corpus(spark, f).withColumn(
            "n_chars", F.length("text").cast("bigint")
        )

        def build():
            pairs = dd.ngram_jaccard_pairs(corpus, "doc_id", threshold=0.2)
            labels = dd.connected_components(pairs, corpus, "doc_id")
            splits = sel.leakage_safe_splits(
                corpus, pairs.select("id_a", "id_b"), labels
            )
            return splits, pairs

        def act(built):
            splits, pairs = built
            noop_write(splits)
            return pairs

        secs, pairs = _timed(spark, "t_splits_cd", build, act)
        return {"t_splits_cd": secs, "t_splits_edges": pairs.count()}

    return _ladder(factor, rung)


def bootstrap_cd_probe(spark, factor: int) -> dict[str, float]:
    """Scaling for the deterministic Poisson-bootstrap CI (a43): events
    replicated ``factor``x with shifted event_ids (the md5 digest input,
    so every replica draws fresh weights). Expected FLAT-linear: the
    plan is 8 md5s/row hoisted before a ×32 explode and one
    (type, b) map-side-combined decimal reduce — no pair join, no
    window over the full frame; this probe PROVES the absence of a
    superlinear term rather than hunting one (VERDICT r11 #4)."""
    from burst_db_spark.queries.round13 import bootstrap_ci_frame

    ev0 = load(spark, SF_BASE, "events").select("event_id", "event_type", "value")

    def rung(f):
        ev = _replicas(f, lambda r: ev0.select(
            (F.col("event_id") + F.lit(r * SHIFT)).alias("event_id"),
            "event_type",
            "value",
        ))
        secs, _ = _timed(spark, "a43_bootstrap_cd", lambda: bootstrap_ci_frame(ev))
        return {"a43_bootstrap_cd": secs}

    return _ladder(factor, rung)


def _emb_replicated(spark, factor: int):
    """embeddings replicated ``factor``x with shifted ids and a
    per-replica deterministic ±1 SIGN PATTERN multiplied elementwise:
    within-replica cosines are EXACTLY preserved (signs cancel), while
    cross-replica cosines collapse to ~N(0, 1/64) noise — so near-dup
    density stays constant instead of every clone matching its source
    at cosine 1.0."""
    emb = load(spark, SF_BASE, "embeddings").select("vec_id", "embedding")

    def signed(r: int):
        sign = F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: F.when(
                F.xxhash64(i.cast("string"), F.lit(r)) % 2 == 0, F.lit(1.0)
            ).otherwise(F.lit(-1.0)),
        )
        return emb.select(
            (F.col("vec_id") + F.lit(r * SHIFT)).alias("vec_id"),
            F.zip_with("embedding", sign, lambda x, s: x.cast("double") * s).alias(
                "embedding"
            ),
        )

    return _replicas(factor, signed)


def d4_cd_probe(spark, factor: int) -> dict[str, float]:
    """Constant near-dup-density scaling for the D4 pipeline over
    TRAINED cells with k ∝ N (16·factor centroids, two unrolled Lloyd
    rounds — the registered query's structure).

    Trained cells are what keeps the within-cell pair join linear: the
    earlier data-blind-hyperplane design measured occupancy
    sum-of-squares growing 37x at 10x data (one cell held 62% of the
    corpus); trained cells hold max occupancy ~constant and Σ|cell|²
    exactly linear. The measured trade this probe prices: the broadcast
    ASSIGNMENT is k·N rows per round, so k ∝ N makes assignment the
    N²-ish term at extreme scale — past that point the assignment
    itself goes hierarchical (coarse-quantize the codebook; the IVF
    funnel rows are that machinery), while the dedup/prune stages stay
    linear. The probe reports the whole pipeline wall."""
    from pyspark.sql import Window

    from burst_db_spark.operators import similarity as sim
    from burst_db_spark.queries.round14 import _D4_TAU

    def d4(emb, k: int):
        # opt in to the funnel assignment past the threshold — the
        # k ∝ N rung prices exactly that route (the exact flat argmin
        # is the superlinear term this rung exists to avoid); library
        # default is now exact-always (r13 ADVICE)
        asg, cents = sim.kmeans_unrolled_state(
            emb, k=k, rounds=2, hier_threshold=sim.HIER_ASSIGN_THRESHOLD,
        )
        # norms hoisted out of the pair predicate (once per vector, not
        # per pair) — mirrors the registered query's shape
        a = asg.select(
            F.col("id").alias("id_a"),
            F.col("v").alias("va"),
            sim._norm(F.col("v")).alias("na"),
            "cell",
        )
        b = asg.select(
            F.col("id").alias("id_b"),
            F.col("v").alias("vb"),
            sim._norm(F.col("v")).alias("nb"),
            "cell",
        )
        sim_pairs = (
            a.join(b, "cell")
            .where(F.col("id_a") < F.col("id_b"))
            .where(
                sim._dot(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb"))
                >= F.lit(_D4_TAU)
            )
            .select("id_b")
            .distinct()
        )
        flags = asg.join(
            sim_pairs.withColumnRenamed("id_b", "id").withColumn(
                "__drop", F.lit(True)
            ),
            "id",
            "left",
        ).select(
            "id", "cell", F.coalesce("__drop", F.lit(False)).alias("dropped")
        )
        wr = Window.partitionBy("cell").orderBy("id")
        return flags.where(~F.col("dropped")).withColumn(
            "rn", F.row_number().over(wr)
        )

    def rung(f):
        emb = _emb_replicated(spark, f)
        secs, _ = _timed(spark, "dd_d4_cd", lambda: d4(emb, 16 * f))
        return {"dd_d4_cd": secs}

    return _ladder(factor, rung)


def kmeans_cd_probe(spark, factor: int) -> dict[str, float]:
    """Scaling for the oracle-checked unrolled k-means: k is the MODEL
    size knob and stays fixed (16), so per-round cost is the k·N
    broadcast-join assignment + one (cell, dim) decimal reduce — both
    linear in N. This probe proves the training loop itself has no
    superlinear term (the decimal sums are single-pass, never a
    window)."""
    from burst_db_spark.operators.similarity import kmeans_unrolled_stats

    def rung(f):
        emb = _emb_replicated(spark, f)
        secs, _ = _timed(
            spark, "knn_kmeans_cd", lambda: kmeans_unrolled_stats(emb, k=16, rounds=2)
        )
        return {"knn_kmeans_cd": secs}

    return _ladder(factor, rung)


def ntile_cd_probe(spark, factor: int) -> dict[str, float]:
    """Grouped exact ntile under GROUP SKEW — the scenario
    operators/text.grouped_ntile_scalable exists for: a synthetic
    corpus where ONE language holds 80% of the rows (the CCNet shape on
    a real crawl). A/B per rung: the plain
    ``Window.partitionBy(lang)`` ntile (funnels the dominant language
    through one task) vs the grouped global-rank pattern (range
    partitions + broadcast offsets — every partition ranks in
    parallel). Base N = 100k rows so the 100x rung is 10M."""
    from pyspark.sql import Window

    from burst_db_spark.operators.text import grouped_ntile_scalable

    w = Window.partitionBy("lang").orderBy("score", "id")

    def rung(f):
        with scope():
            df = persist(spark.range(100_000 * f).select(
                F.col("id"),
                F.when(F.col("id") % 10 < 8, F.lit("major"))
                .otherwise(
                    F.concat(F.lit("minor"), (F.col("id") % 19).cast("string"))
                )
                .alias("lang"),
                (F.xxhash64("id") % 1_000_000).alias("score"),
            ))
            df.count()
            grouped_s, _ = _timed(
                spark, "ntile_grouped_cd",
                lambda: grouped_ntile_scalable(
                    df, "lang", [F.col("score"), F.col("id")], n_buckets=3
                ),
            )
            window_s, _ = _timed(
                spark, "ntile_window_cd",
                lambda: df.withColumn("bucket", F.ntile(3).over(w)),
            )
        return {"ntile_grouped_cd": grouped_s, "ntile_window_cd": window_s}

    return _ladder(factor, rung)


def shorts_cd_probe(spark, factor: int) -> dict[str, float]:
    """Scaling for the Aho-Corasick multi-pattern shorts path of the
    substring-containment dedup (operators/multipattern.py — the
    de-BNLJ'd fallback, VERDICT r12 #2). Corpus replicated ``factor``x
    with disjoint token spaces; TWO rungs per scale:

    - fixed patterns (one base-corpus set of 8-char snippets): the scan
      must be LINEAR in corpus size — one automaton, one mapInPandas
      pass, O(len(text)) per doc independent of pattern count;
    - patterns ∝ N (snippets from every replica): cost is
      ceil(S/chunk)·N passes — still one pass here (S << 64k), so the
      measured growth isolates automaton size effects (AC lookup is
      O(1) per char regardless of S; only emit volume grows).

    The replaced broadcast nested-loop join was |shorts|·N instr probes
    — super-linear on BOTH axes by construction.
    """
    from burst_db_spark.operators.multipattern import contained_short_pairs

    def snippets(corpus, keep_first: bool):
        base = corpus.where(F.col("doc_id") % 7 == 0)
        if keep_first:
            base = base.where(F.col("doc_id") < SHIFT)
        return base.select(
            (F.col("doc_id") + F.lit(7 * SHIFT * 1000)).alias("a_id"),
            F.substring("text", 5, 8).alias("a_text"),
        )

    def rung(f):
        corpus = _cd_corpus(spark, f)
        out = {}
        for key, keep_first in (
            ("t_shorts_fixed_cd", True), ("t_shorts_grow_cd", False)
        ):
            pats = snippets(corpus, keep_first)
            out[key], _ = _timed(spark, key, lambda: contained_short_pairs(
                corpus, pats, id_col="doc_id", text_col="text"
            ))
        return out

    return _ladder(factor, rung)


def _hash_edges(spark, n: int):
    """Directed edges of a deterministic hash graph on ``n`` nodes:
    out-degree 2..4 per node from 3 multiplier/offset families, self
    loops dropped. Its degree DISTRIBUTION is scale-invariant."""
    ids = spark.range(n).select(F.col("id").alias("v"))
    outd = ids.select(
        "v", F.explode(F.sequence(F.lit(0), (F.col("v") % 3) + 1)).alias("i")
    )
    nbr = (
        (F.col("v") * (F.col("i") * 2 + 3) + F.col("i") * 17 + 1) % F.lit(n)
    ).alias("n")
    return (
        outd.select("v", nbr)
        .where(F.col("v") != F.col("n"))
        .select(F.col("v").alias("src"), F.col("n").alias("dst"))
    )


def kcore_cd_probe(spark, factor: int) -> dict[str, float]:
    """Constant-structure scaling for the k-core peel on the undirected
    hash graph of :func:`_hash_edges`: the peel runs the same number of
    rounds at every N and each round is one degree groupBy + two
    semi-joins on a strictly shrinking edge set — wall should scale
    with edge volume, not rounds. Prices the registered g6_kcore_peel
    machinery minus its audit-scale quadratic edge build (which is
    sf-pinned for exactly this reason)."""
    from burst_db_spark.operators.graph import kcore_peel

    def rung(f):
        n = 20_000 * f
        e = _hash_edges(spark, n)
        edges = e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
        secs, prof = _timed(
            spark, "kcore", lambda: kcore_peel(edges, k=5, max_rounds=24),
            DataFrame.collect,
        )
        rounds = max(r["round"] for r in prof)
        final = min(r["n_edges"] for r in prof)
        print(
            f"  kcore x{f}: n={n} rounds={rounds} final_edges={final}",
            file=sys.stderr,
        )
        return {"kcore": secs}

    return _ladder(factor, rung)


def nnd_cd_probe(spark, factor: int) -> dict[str, float]:
    """Constant near-dup-density scaling for NN-descent. The RIGHT
    configuration keeps n_blocks ∝ N (block size constant → the
    within-block init is O(N·block) = linear; descent rounds are
    O(N·k²) always). The WRONG configuration (fixed block count) makes
    the init the N² term — priced at small factors only (it is the
    mistake the operator docstring warns against; at 100x it would be
    the whole wall)."""
    from burst_db_spark.operators.similarity import nn_descent

    base_blocks = 16

    def rung(key: str, f: int, n_blocks: int):
        emb = _emb_replicated(spark, f)
        secs, _ = _timed(
            spark, key, lambda: nn_descent(emb, k=5, n_blocks=n_blocks, rounds=2),
            DataFrame.count,
        )
        return {key: secs}

    out = _ladder(factor, lambda f: rung("nnd", f, base_blocks * f))
    if factor <= 10:
        out.update(
            _ladder(factor, lambda f: rung("nnd_fixed_blocks", f, base_blocks))
        )
    else:
        print(
            "  nnd_fixed_blocks skipped at factor > 10 (the quadratic "
            "init this probe exists to warn about)",
            file=sys.stderr,
        )
    return out


def pca_cd_probe(spark, factor: int) -> dict[str, float]:
    """Scaling for the distributed gram aggregation behind
    knn_pca_power: per-partition numpy int64 partials (Q_p^T Q_p via
    mapInPandas) -> 4096 partial rows -> one groupBy sum. The
    eigensolve itself is 64x64 model state (driver, constant), so the
    whole operator should scale with the SCAN, not with rounds or k."""

    import numpy as np
    import pandas as pd

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            Q = np.floor(X * 256.0).astype(np.int64)
            G = Q.T @ Q
            ii, jj = np.indices(G.shape)
            yield pd.DataFrame(
                {"i": (ii + 1).ravel(), "j": (jj + 1).ravel(), "s": G.ravel()}
            )

    def rung(f):
        emb = _emb_replicated(spark, f)
        secs, _ = _timed(
            spark, "pca_gram",
            lambda: emb.select("embedding")
            .mapInPandas(partials, "i int, j int, s long")
            .groupBy("i", "j")
            .agg(F.sum("s").alias("s")),
            DataFrame.count,
        )
        return {"pca_gram": secs}

    return _ladder(factor, rung)


def pagerank_cd_probe(spark, factor: int) -> dict[str, float]:
    """Integer-mass PageRank (g1's operator: plain groupBy SUM, so
    map-side combine works) on the kcore probe's deterministic hash
    graph, directed; 3 iterations."""
    from burst_db_spark.operators.graph import pagerank_int

    def rung(f: int):
        e = _hash_edges(spark, 20_000 * f).distinct()
        nodes = (
            e.select(F.col("src").alias("id"))
            .union(e.select(F.col("dst").alias("id")))
            .distinct()
        )
        secs, _ = _timed(
            spark, "pagerank_int",
            lambda: pagerank_int(e, nodes, iterations=3), DataFrame.count,
        )
        return {"pagerank_int": secs}

    return _ladder(factor, rung)


_CD_PROBES = {
    "spatial": lambda spark, f: spatial_cd_probe(spark, n_small=100_000, factor=f),
    "jaccard": jaccard_cd_probe,
    "containment": containment_cd_probe,
    "int8": int8_cd_probe,
    "minhash": minhash_cd_probe,
    "winnow": winnow_cd_probe,
    "winnow_clusters": winnow_clusters_cd_probe,
    "minhash_inc": minhash_inc_cd_probe,
    "embedding": embedding_cd_probe,
    "embedding_inc": embedding_inc_cd_probe,
    "cluster_inc": cluster_inc_cd_probe,
    "dpp": dpp_cd_probe,
    "shuffle": shuffle_cd_probe,
    "fuzzy": fuzzy_cd_probe,
    "graph": graph_cd_probe,
    "dsir": dsir_cd_probe,
    "ppjoin": ppjoin_cd_probe,
    "splits": splits_cd_probe,
    "bootstrap": bootstrap_cd_probe,
    "d4": d4_cd_probe,
    "kmeans": kmeans_cd_probe,
    "ntile": ntile_cd_probe,
    "shorts": shorts_cd_probe,
    "kcore": kcore_cd_probe,
    "nnd": nnd_cd_probe,
    "pca": pca_cd_probe,
    "pagerank": pagerank_cd_probe,
}


# Single-JVM heap floors for the memory-bound top rungs (measured,
# SCALING.md): below these the run GC-thrashes or OOMs rather than
# finishing slow, so the probe refuses with the working command line
# instead of wasting the wall-clock. The constants are the SINGLE-JVM
# artifact — on a cluster the same state spreads across executors.
_HEAP_FLOORS_GB = {
    ("graph", 100): 32,        # BFS cached frontier + label frame
    ("containment", 100): 32,  # full probe-side inverted index
}

_HEAP_UNITS_GB = {"k": 1.0 / (1024 * 1024), "m": 1.0 / 1024, "g": 1.0, "t": 1024.0}


def _parse_heap_gb(mem: str) -> float | None:
    """Spark memory string → GB, or None if unparseable (plain bytes or
    a format we don't know — the caller WARNS and proceeds instead of
    spuriously refusing a rung the user provisioned another way)."""
    mem = mem.strip().lower()
    if not mem:
        return None
    unit = _HEAP_UNITS_GB.get(mem[-1])
    body = mem[:-1] if unit else mem
    try:
        val = float(body)
    except ValueError:
        return None
    return val * unit if unit else val / (1 << 30)  # bare number = bytes


def _require_heap(probe: str, factor: int) -> None:
    need = _HEAP_FLOORS_GB.get((probe, factor))
    if need is None:
        return
    mem = os.environ.get("SPARK_DRIVER_MEMORY", "8g")
    have = _parse_heap_gb(mem)
    if have is None:
        print(
            f"scale_probe: cannot parse SPARK_DRIVER_MEMORY={mem!r}; "
            f"the {probe} {factor}x rung needs >= {need} GB (SCALING.md) "
            f"— proceeding on your word.",
            file=sys.stderr,
        )
        return
    if have < need:
        sys.exit(
            f"scale_probe: the {probe} {factor}x rung needs a {need} GB "
            f"single-JVM heap (have SPARK_DRIVER_MEMORY={mem!r}; it OOMs "
            f"below that — SCALING.md). Reproduce with:\n"
            f"  SPARK_DRIVER_MEMORY={need}g python scale_probe.py {factor} "
            f"--probe {probe}"
        )


def main() -> None:
    args = [a for a in sys.argv[1:]]
    probe = None
    if "--probe" in args:
        i = args.index("--probe")
        if i + 1 >= len(args):
            sys.exit(
                f"--probe requires a family name; one of {sorted(_CD_PROBES)}"
            )
        probe = args[i + 1]
        del args[i:i + 2]
        if probe not in _CD_PROBES:
            sys.exit(f"unknown --probe {probe!r}; one of {sorted(_CD_PROBES)}")
    factor = int(args[0]) if args else 10

    if probe is not None:
        # single-family mode: the reproducible command behind each
        # SCALING.md rung row, e.g. the BFS/containment 100x rungs:
        #   SPARK_DRIVER_MEMORY=32g python scale_probe.py 100 --probe graph
        #   SPARK_DRIVER_MEMORY=32g python scale_probe.py 100 --probe containment
        _require_heap(probe, factor)
        spark = get_spark(app_name=f"scale_probe_{probe}")
        head = {
            "probe": probe,
            "factor": factor,
            "driver_memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        }
        cd = _CD_PROBES[probe](spark, factor)
    else:
        spark = get_spark(app_name="scale_probe")
        specs = all_queries()
        head = {"factor": factor}
        with scope():
            big = tmpdir("bds_sf1_")
            replicate(spark, SF_BASE, big, factor)
            cd = time_queries(spark, specs, SF_BASE)
            cd.update(
                {f"{k}_big": v for k, v in time_queries(spark, specs, big).items()}
            )
        for family in (
            "spatial", "jaccard", "containment", "int8", "minhash", "embedding",
            "fuzzy", "graph",
        ):
            cd.update(_CD_PROBES[family](spark, factor))
    small, large, ratio = split_ladder(cd)
    print(json.dumps(
        {**head, "sf0.1_sec": small, f"sf{factor / 10:g}_sec": large, "ratio": ratio}
    ))


if __name__ == "__main__":
    main()
