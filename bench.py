#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "headline_total", "value": <sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>}

Each query is forced end-to-end with the noop sink (full computation, no
write cost, no driver collect). The timer brackets build()+write: some
queries run driver-coordinated actions inside build() (iterative
connected components, BPE training rounds, streaming availableNow
drains) and timing only the final write would misstate them — so plan
construction and any in-build actions are part of every measurement.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from burst_db_spark.registry import all_queries
from burst_db_spark.session import get_spark

HEADLINE = [
    "q1_pricing_summary",
    "frame_lookup",
    "j2_fact_dim_broadcast",
    "j6_left_join_fillna",
    "p7_blackout_anti_join",
    "a9_count_per_day",
    "w2_sessionize",
    "w3_batch_labels",
    "ep2_burst_catalog",
    "j7_spatial_join",
    "a3_union_envelope",
    "dd_exact",
    "dd_minhash_lsh",
    "dd_ngram_jaccard",
    "dd_embedding_nn",
    "knn_cosine_brute",
    "t_quality_score",
    "q5_local_supplier_volume",
    "t_top_tfidf",
    "a3_dissolve_union_area",
    "t_pack_sequences",
    # round-3 operators
    "j_spatial_knn",
    "a3_union_polygon",
    "j12_asof_join",
    "t_curriculum_buckets",
    "s11_zarr_cube",
    "t_decontaminate_bloom",
    "t_repetition_stats",
    "knn_cosine_ivf_multiprobe",
    "mm_bmp_resize",
    "dd_embedding_nn_multiprobe",
    # round-4 operators
    "q3_shipping_priority",
    "q10_returned_items",
    "j13_range_interval_join",
    "t_ngram_lm_perplexity",
    "dd_lsh_cluster_dedup",
    "t_docs_minhash_pipeline",
    "a19_approx_percentile",
    "a20_heavy_hitters",
    "t_phrase_search",
    "a21_hopping_window",
    "a22_rollup",
    "w10_scd2_intervals",
    # in-build actions (BPE training rounds, availableNow stream drain)
    # are included in the timing bracket since round 5
    "t_bpe_encode",
    "stream_interval_counts",
    # round-5 operators
    "q4_order_priority",
    "q12_late_priority",
    "q16_supplier_cnt",
    "q17_small_qty_revenue",
    "q18_large_volume",
    "q20_part_shippers",
    "q21_suppliers_waiting",
    "q22_global_sales_opportunity",
    "t_bpe_reconstruction",
    "t_chunk_documents",
    "t_lm_quality_gate",
    "g2_triangle_stats",
    "w12_linear_interpolation",
    # round-5b: the ten TPC-H shapes completing all 22
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
    "f_array_gauntlet",
    "w13_ntile_quartiles",
    "u4_full_outer_reconcile",
    "s12_orc_roundtrip",
    "f_udtf_sentences",
    "w2c_dynamic_gap_sessions",
    "t_curation_mix_pipeline",
    "a26_bool_aggregates",
    "j14_fuzzy_name_join",
    # round-5c operators
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
    "stream_zarr_append_sink",
    "g4_cc_iterative",
    "f_arrow_udf_normalize",
    "mm_audio_windows",
    "t_weighted_sample",
    "a31_countmin_merge",
    "knn_ivf_learned_exhaustive",
    "f_recursive_cte_gapfill",
    "s15_schema_evolution",
    "j16_asof_tolerance",
    "stream_watermark_append",
    "stream_stream_join",
    # round-7 operators
    "a32_kmv_distinct",
    "t_paragraph_dedup",
    "t_containment_join",
    "knn_int8_quantized",
    "p12_dynamic_partition_pruning",
    "o6_range_partitioned_sort",
    "f_map_gauntlet",
    "mm_video_framesample",
    "t_containment_survivors",
    "stream_kmv_sketch",
    "a33_exact_median_2pass",
    "a34_grouped_ols",
    "w15_interval_coalesce",
    "f_try_arithmetic",
    "w16_resample_ohlc",
    "u6_dq_checks",
    "stream_ohlc_complete",
    "knn_ivf_int8_funnel",
    # round-8 operators
    "a35_tdigest_quantiles",
    "a36_theta_sketch_setops",
    "w17_mad_anomaly",
    "t_reservoir_per_group",
    "j17_bloom_prejoin",
    "t_substring_dedup",
    "f_lambda_gauntlet",
    "w18_seasonal_decompose",
    "stream_tdigest_quantiles",
    # round-9 operators (recall curve + exact-audit pinned to sf0.01)
    "dd_docs_cascade_pipeline",
    "j18_point_in_interval_dpp",
    "t_minhash_recall_curve",
    "dd_embedding_nn_exact_audit",
    "dd_minhash_incremental",
    "dd_source_overlap_matrix",
    "dd_source_overlap_exact_audit",
    "stream_decontaminate_bloom",
    "a38_sliding_kmv_distinct",
    "p13_late_materialization",
    "t_lsh_band_config_sweep",
    "dd_embedding_nn_directed",
    # round-10 operators
    "t_epoch_shard_shuffle",
    "dd_embedding_nn_incremental",
    "w5_reference_dates",
    "t_interleave_by_weight",
    "stream_minhash_incremental",
    "dd_delete_propagation",
    "w5b_reference_dates_events",
    "dd_snapshot_novelty",
    "t_padding_waste",
    "t_bpe_fertility_by_lang",
    "dd_cluster_incremental",
    # round-11 operators
    "t_winnow_fingerprints",
    "dd_winnow_overlap",
    "mm_image_dhash",
    "mm_image_neardup_pairs",
    "mm_audio_fingerprint",
    "mm_audio_neardup_pairs",
    "t_vocab_coverage",
    "a40_key_skew_report",
    "k8_compaction_plan",
    "mm_blob_byte_stats",
    "w19_event_transitions",
    "j19_join_cardinality_estimate",
    "f_pipe_syntax",
    "dd_winnow_clusters",
    "dd_simhash_neardup",
    # round-12-era operators
    "t_span_scrub",
    "t_dsir_importance",
    "t_cluster_safe_splits",
    "t_rrf_hybrid_search",
    "dd_hard_negatives",
    "w20_mean_shift_changepoint",
    "dd_ppjoin_positional",
    "t_dsir_bucket_audit",
    "t_select_curate_pipeline",
    "t_dsir_gumbel_sample",
    "mm_scene_cuts",
    "stream_mean_shift",
    "t_unimax_allocation",
    "a42_psi_drift",
    "dd_cluster_best_survivor",
    "t_pipeline_provenance",
    "knn_matryoshka_funnel",
    "a43_bootstrap_ci",
    "t_zipf_slope",
    "t_heaps_law",
    "t_pmi_collocations",
    "a44_ks_drift",
    "t_renyi_diversity",
    "t_mmr_rerank",
    "a45_mann_whitney",
    "t_good_turing",
    # round-13-era operators (build round 12)
    "dd_d4_diversify",
    "knn_kmeans_unrolled",
    "t_soft_dedup_weights",
    "t_hill_tail_index",
    "t_ccnet_buckets",
    "t_gopher_rules",
    "t_char_entropy",
    "dd_cluster_bcubed_audit",
    "a46_weighted_median",
    "w21_cusum_drift",
    "t_token_gini",
    "o7_hilbert_layout",
    "stream_cusum",
    # round-13 additions (build round 13)
    "knn_hier_assign",
    "t_substring_dedup_shorts",
    "a47_winsorized_mean",
    "a48_mad_outliers",
    "t_dup_ngram_spans",
    "t_doremi_weights",
    "o8_curve_sorted_roundtrip",
    "t_nb_domain_confusion",
    "t_moore_lewis_select",
    "g5_hits_unrolled",
    "w22_page_hinkley",
    "stream_page_hinkley",
    "t_gopher_ablation",
    "dd_dup_cluster_size_dist",
    # round-14 additions (build round 14)
    "knn_hier2_assign",
    "t_gopher_repetition",
    "t_bpe_fertility_by_lang",
    "g6_kcore_peel",
    "t_domain_jsd",
    "t_rake_keywords",
    "knn_pca_power",
    "dd_nn_descent",
    "g7_ktruss_peel",
    "dd_cluster_modularity",
    "t_nb_margin_calibration",
    "g8_label_propagation",
    "o9_zorder_range_query",
]

# Regression-signal curation (VERDICT r11 item #6): the headline suite
# grew 169→195 queries in r11 and the diffuse +6% median drift tracked
# SUITE SIZE (later queries run in a more contended/GC-pressured
# session), not plan changes. The fix is ordering + scoping: the ~40
# queries with cross-round driver history (present in ≥3 of the last 5
# driver bench records, r7-r11) run FIRST each session, so their
# timings are comparable round-over-round; new additions bench after
# and graduate into the pinned set as they accumulate history. The
# BENCH_DELTA suspect gate computes over the pinned set only —
# unpinned deltas stay in the record as informational.
#
# Headline swaps (each one breaks a row's cross-round comparability):
# - commit 59a824b: `t_tokenizer_fertility` left HEADLINE, replaced by
#   `t_bpe_fertility_by_lang` (VERDICT r14 item 6); the old row is
#   still registry-timed in BENCH_REGISTRY.json.
PINNED_HISTORY = (
    "dd_docs_cascade_pipeline",
    "dd_embedding_nn",
    "dd_embedding_nn_directed",
    "dd_embedding_nn_multiprobe",
    "dd_jaccard_prefix_join",
    "dd_lsh_cluster_dedup",
    "dd_minhash_lsh",
    "dd_ngram_jaccard",
    "f_recursive_cte_gapfill",
    "f_try_arithmetic",
    "frame_lookup",
    "g2_triangle_stats",
    "g3_bfs_hops",
    "g4_cc_iterative",
    "j17_bloom_prejoin",
    "j7_spatial_join",
    "j_spatial_knn",
    "knn_cosine_ivf_multiprobe",
    "knn_ivf_int8_funnel",
    "knn_ivf_learned_exhaustive",
    "mm_audio_windows",
    "s11_zarr_cube",
    "s14_zarr_py_writer",
    "stream_decontaminate_bloom",
    "stream_interval_counts",
    "stream_kmv_sketch",
    "stream_ohlc_complete",
    "stream_stream_join",
    "stream_tdigest_quantiles",
    "stream_watermark_append",
    "stream_zarr_append_sink",
    "t_bpe_encode",
    "t_bpe_reconstruction",
    "t_containment_join",
    "t_containment_survivors",
    "t_decontaminate_bloom",
    "t_docs_minhash_pipeline",
    "t_lsh_band_config_sweep",
    "t_repetition_stats",
    "t_substring_dedup",
    "w17_mad_anomaly",
)

# Audit-only quadratic baselines (they exist to VERIFY the sub-quadratic
# operators, not to race them): pinned to sf0.01 inside the headline so
# the intentionally O(n^2) exact pass doesn't eat headline budget at
# sf0.1 (VERDICT r7 item #7). Their timings stay in the record, marked
# by the pinned sf in BENCH_FULL.json.
PINNED_SF = {
    "dd_ngram_jaccard": "/root/testdata/sf0.01",
    "dd_embedding_nn_exact_audit": "/root/testdata/sf0.01",
    # τ=0.05 prefix ≈ the quadratic join it audits — slice-priced by design
    "t_minhash_recall_curve": "/root/testdata/sf0.01",
    "t_lsh_band_config_sweep": "/root/testdata/sf0.01",
    # exact pairwise shingle intersections — the quadratic self-join the
    # overlap sketches exist to avoid (r10 split of the audit column out
    # of the production dd_source_overlap_matrix row)
    "dd_source_overlap_exact_audit": "/root/testdata/sf0.01",
    # reuses the exact quadratic jaccard pair join (same reason as
    # dd_ngram_jaccard above)
    "dd_cluster_modularity": "/root/testdata/sf0.01",
}


def write_delta(
    timings: dict[str, object],
    spreads: dict[str, list[float]],
    sf_val: object,
) -> None:
    """BENCH_DELTA.json: this run vs the latest recorded round
    (BENCH_r{N}.json) on their common query subset, with each query's
    own run spread attached — so a 3x "regression" whose spread spans
    the delta reads as environment noise without a judge re-run
    (VERDICT r9 item #4; that round's j7_spatial_join cost exactly that
    investigation)."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    prior_files = sorted(
        glob.glob(os.path.join(here, "BENCH_r[0-9]*.json")),
        key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1)),
    )
    delta_path = os.path.join(here, "BENCH_DELTA.json")
    record: dict[str, object] = {"sf": sf_val, "prev_round": None, "common": {}}
    for path in reversed(prior_files):
        try:
            with open(path) as fh:
                prior = json.load(fh)
            prev_q = (prior.get("parsed") or prior).get("queries") or {}
        except (OSError, ValueError, AttributeError):
            continue
        prev_q = {
            k: v for k, v in prev_q.items() if isinstance(v, (int, float))
        }
        if not prev_q:
            continue
        record["prev_round"] = os.path.basename(path)
        common: dict[str, object] = {}
        cur_total = prev_total = 0.0
        pin_cur = pin_prev = 0.0
        suspects = []
        suspects_unpinned = []
        for name, prev in prev_q.items():
            cur = timings.get(name)
            if not isinstance(cur, (int, float)):
                continue
            cur_total += cur
            prev_total += prev
            pinned = name in PINNED_HISTORY
            if pinned:
                pin_cur += cur
                pin_prev += prev
            sp = spreads.get(name) or [cur]
            entry = {
                "cur": cur,
                "prev": prev,
                "ratio": round(cur / prev, 2) if prev else None,
                "spread": [min(sp), max(sp)],
            }
            # a real regression must hold across ALL runs: if even the
            # best-of-N is >1.5x prev but the spread floor is near prev,
            # it's contention; flag only consistent slowdowns. The
            # suspect GATE is scoped to the pinned cross-round set
            # (measured first in the session, so comparable); unpinned
            # flags are informational — they ran late in a session whose
            # size may differ from the previous round's.
            if prev and cur > 1.5 * prev:
                entry["suspect"] = True
                (suspects if pinned else suspects_unpinned).append(name)
            common[name] = entry
        record["common"] = common
        record["n_common"] = len(common)
        record["common_total_cur"] = round(cur_total, 3)
        record["common_total_prev"] = round(prev_total, 3)
        record["pinned_total_cur"] = round(pin_cur, 3)
        record["pinned_total_prev"] = round(pin_prev, 3)
        record["suspects"] = suspects
        record["suspects_unpinned_informational"] = suspects_unpinned
        break
    # cpu-keyed copy too (VERDICT r14 item 7) — see the BENCH_FULL note
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 0)
    for path in (delta_path, os.path.join(here, f"BENCH_DELTA_c{cpus}.json")):
        try:
            with open(path, "w") as fh:
                json.dump(record, fh, indent=1)
                fh.write("\n")
        except OSError as e:  # pragma: no cover - read-only checkout
            print(f"bench: could not write {path}: {e}", file=sys.stderr)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf

    spark = get_spark(app_name="burst_db_spark_bench")
    specs = all_queries()

    # warm up the JVM + parquet footer caches with a trivial action
    try:
        specs["p10_dedup_distinct"].build(spark, sf_dir).count()
    except Exception as e:  # noqa: BLE001
        print(f"bench: warmup failed: {e}", file=sys.stderr)

    timings: dict[str, object] = {}
    spreads: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    total = 0.0
    # best-of-3 with per-run spreads logged (VERDICT r9 item #4): the r9
    # driver record showed phantom 2-4x "regressions" (j7_spatial_join
    # 6.0s vs 1.1s uncontended) that burned judge time to disprove; the
    # spread makes environment noise self-identifying in the record.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    # SPARK_GRAFT_BENCH_SCOPE=registry sweeps EVERY registered query
    # (VERDICT r12 item #4 — no row may have zero timing evidence; a
    # silent 10x regression in an unbenched row is invisible). The sweep
    # writes BENCH_REGISTRY.json and skips the delta machinery; the
    # curated HEADLINE stays the per-round comparable record.
    scope = os.environ.get("SPARK_GRAFT_BENCH_SCOPE", "headline")
    # pinned cross-round queries first (comparable session position),
    # everything else after in registration order
    ordered = [n for n in PINNED_HISTORY if n in HEADLINE] + [
        n for n in HEADLINE if n not in PINNED_HISTORY
    ]
    if scope == "registry":
        ordered = ordered + [n for n in specs if n not in HEADLINE]
    for name in ordered:
        # failure isolation: one broken query must cost ONE entry, not the
        # whole round's perf record (round 3 lost all numbers to a single
        # AnalysisException at query 7)
        try:
            q_sf_dir = PINNED_SF.get(name, sf_dir)
            samples: list[float] = []
            for _ in range(runs):
                # isolate queries: drop persisted intermediates so timings
                # don't absorb eviction/GC pressure from earlier queries
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                df = specs[name].build(spark, q_sf_dir)
                df.write.format("noop").mode("overwrite").save()
                samples.append(time.perf_counter() - t0)
            best = min(samples)
            timings[name] = round(best, 3)
            spreads[name] = [round(s, 3) for s in samples]
            total += best
        except Exception as e:  # noqa: BLE001 - record and move on
            msg = f"{type(e).__name__}: {e}"
            timings[name] = {"err": msg[:300]}
            errors[name] = msg[:300]
            print(f"bench: {name} failed: {msg[:300]}", file=sys.stderr)

    from __spark_entry__ import engine_versions

    out = {
        "metric": "headline_total" if scope == "headline" else
        "registry_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "pinned_sf": {k: v for k, v in PINNED_SF.items() if k in timings},
        "engines": engine_versions(spark),
    }
    if errors:
        out["errors"] = len(errors)

    if scope == "registry":
        reg_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_REGISTRY.json"
        )
        # non-headline movers vs the PREVIOUS registry sweep (VERDICT
        # r13 #8): the full sweep closed the "bench-blind rows" gap in
        # r13; this keeps the ~100 non-headline rows in the per-round
        # DELTA record too, so a regression there can't hide behind
        # the curated headline comparison.
        movers: dict[str, dict[str, float]] = {}
        try:
            with open(reg_path) as fh:
                prev_q = json.load(fh).get("queries", {})
            for name, cur in timings.items():
                if name in HEADLINE or not isinstance(cur, (int, float)):
                    continue
                prv = prev_q.get(name)
                if isinstance(prv, (int, float)) and prv > 0.3:
                    ratio = cur / prv
                    if ratio > 1.3 or ratio < 0.7:
                        movers[name] = {
                            "prev": prv, "cur": cur,
                            "ratio": round(ratio, 2),
                        }
        except (OSError, ValueError):
            pass
        cpus_ = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 0)
        stem, ext = os.path.splitext(reg_path)
        for rp in (reg_path, f"{stem}_c{cpus_}{ext}"):
            try:
                with open(rp, "w") as fh:
                    json.dump(
                        {**out, "run_spread": spreads, "cpus": cpus_,
                         "nonheadline_movers_vs_prev": movers},
                        fh,
                    )
                    fh.write("\n")
            except OSError as e:  # pragma: no cover - read-only checkout
                print(f"bench: could not write {rp}: {e}", file=sys.stderr)
        print(json.dumps(
            {k: v for k, v in out.items() if k != "queries"}
            | {"nonheadline_movers_vs_prev": movers}
        ))
        spark.stop()
        return

    write_delta(timings, spreads, sf_val)

    # The driver captures only the TAIL (~2000 bytes) of stdout and parses
    # the JSON line out of it; with 100+ per-query entries the full line
    # blew past that in r3/r5/r6 (BENCH_r{N}.json "parsed": null). Emit the
    # FULL record to BENCH_FULL.json next to this script, and keep the
    # printed line under budget by trimming the per-query map to the
    # slowest entries (errors always included) when needed.
    here = os.path.dirname(os.path.abspath(__file__))
    full_path = os.path.join(here, "BENCH_FULL.json")
    # r15 record hygiene (VERDICT r14 item 7): ALSO write a copy keyed
    # on the cpu count, so a later sweep at a different core count (the
    # driver's 8-core scaling run) can no longer silently overwrite the
    # 32-core record a judge compares against. Additions-only: the
    # printed line and BENCH_FULL.json stay exactly as before.
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 0)
    for path in (full_path, os.path.join(here, f"BENCH_FULL_c{cpus}.json")):
        try:
            with open(path, "w") as fh:
                json.dump({**out, "run_spread": spreads, "cpus": cpus}, fh)
                fh.write("\n")
        except OSError as e:  # pragma: no cover - read-only checkout
            print(f"bench: could not write {path}: {e}", file=sys.stderr)

    line = json.dumps(out)
    budget = int(os.environ.get("SPARK_GRAFT_BENCH_LINE_BUDGET", "1800"))
    if len(line) > budget:
        def _key(item: tuple[str, object]) -> float:
            v = item[1]
            return float("inf") if isinstance(v, dict) else float(v)  # errors first

        kept: dict[str, object] = {}
        out_small = dict(out)
        out_small["n_queries"] = len(timings)
        out_small["queries_full"] = "BENCH_FULL.json"
        for name_, val in sorted(timings.items(), key=_key, reverse=True):
            trial = dict(out_small)
            trial["queries"] = {**kept, name_: val}
            if len(json.dumps(trial)) > budget:
                break
            kept[name_] = val
        out_small["queries"] = kept
        line = json.dumps(out_small)
    print(line)


if __name__ == "__main__":
    main()
