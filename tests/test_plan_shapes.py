"""Physical-plan regression tests: the plan properties the engine's
scale story depends on, asserted so they can't silently regress."""

from __future__ import annotations

import contextlib
import io
import re

import pytest

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


def _count_nodes(plan: str, node: str) -> int:
    """Count physical-plan NODES of a given type. Formatted explain
    prints each node twice (once in the tree as `+- Exchange (3)`, once
    as the detail header `(3) Exchange`), so `plan.count("Exchange")`
    double-counts; only the detail headers are counted here."""
    return len(re.findall(rf"^\(\d+\) {node}\b", plan, re.M))


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan("p2_filter_isin", spark)
    assert "In(l_returnflag, [A,R])" in plan
    # column pruning: only the 4 needed columns in ReadSchema
    rs = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert rs.count(":") == 4 + 1  # 4 columns + the line's own colon


def test_dim_joins_broadcast(spark):
    for name in ("j2_fact_dim_broadcast", "j1_region_rollup", "frame_lookup"):
        plan = _plan(name, spark)
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_interval_antijoin_is_hash_not_nested_loop(spark):
    plan = _plan("p7_blackout_anti_join", spark)
    assert "BroadcastHashJoin LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sessionize_label_single_exchange(spark):
    plan = _plan("w3_batch_labels", spark)
    assert _count_nodes(plan, "Exchange") <= 1, plan


def test_aggregates_have_partial_phase(spark):
    plan = _plan("q1_pricing_summary", spark)
    # two HashAggregate nodes around the Exchange = map-side combine
    n_agg = plan.count("HashAggregate (")
    assert n_agg >= 2, plan


def test_topk_plans_take_ordered(spark):
    plan = _plan("o1_topk_orders", spark)
    assert "TakeOrderedAndProject" in plan


def test_embedding_lsh_no_cartesian_pairs(spark):
    """The registered embedding near-dup must never plan a cartesian
    PAIR join: the only nested-loop join allowed is the 1-row broadcast
    of the plane matrix."""
    plan = _plan("dd_embedding_nn", spark)
    assert "CartesianProduct" not in plan
    # candidate generation is an equi-join on (band_idx, band_key)
    assert "band_key" in plan
    # the audit variant IS the cartesian baseline - and says so
    doc = SPECS["dd_embedding_nn_exact_audit"].doc
    assert "AUDIT" in doc or "audit" in doc


def test_dissolve_stays_per_group(spark):
    """Dissolve is one applyInPandas over grouped keys: exactly one
    exchange (the groupBy), no join, no collect."""
    plan = _plan("a3_dissolve_union_area", spark)
    n_exchanges = sum(
        1 for l in plan.splitlines() if l.strip().split(" ")[0].endswith("Exchange")
        and "Exchange" in l.split("(")[0]
    )
    assert "FlatMapGroupsInPandas" in plan or "ApplyInPandas" in plan
    assert "Join" not in plan


def test_pack_sequences_single_window_shuffle(spark):
    """Packing = one hash exchange (shard) + one window sort; no join,
    no global sort (Exchange SinglePartition would be the smell)."""
    plan = _plan("t_pack_sequences", spark)
    assert "SinglePartition" not in plan
    assert "Join" not in plan
    assert "Window" in plan


def test_split_assign_is_scan_plus_project(spark):
    """Split assignment never shuffles: scan -> project, nothing else."""
    plan = _plan("t_split_assign", spark)
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_asof_join_is_window_not_range_join(spark):
    """ASOF must plan as union + window (one hash exchange on the key),
    never a range/nested-loop join."""
    plan = _plan("j12_asof_join", spark)
    assert "Window" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_spatial_join_is_grid_cell_equi_join(spark):
    """J7 candidate generation must be an EQUI join on the grid-cell key
    (hash exchange / broadcast HASH join), never a nested-loop over a
    pure range condition — the shape that dies at 100x scale."""
    plan = _plan("j7_spatial_join", spark)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan  # Broadcast- or Shuffled-, both equi
    # the join key is the exploded cell id, not a raw coordinate
    assert "__lcx" in plan and "__rcx" in plan


def test_spatial_knn_is_grid_cell_equi_join(spark):
    """The NN join's heavy path is the 3x3-neighborhood cell equi-join;
    the exact fallback must also plan as a hash join (constant key),
    never nested-loop/cartesian."""
    plan = _plan("j_spatial_knn", spark)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan


def test_curriculum_buckets_no_single_partition_window(spark):
    """The scalable curriculum bucketing must never funnel rows through
    an Exchange SinglePartition (the global-ntile smell): ranks come from
    range partitions + broadcast offsets."""
    plan = _plan("t_curriculum_buckets", spark)
    assert "SinglePartition" not in plan
    assert "rangepartitioning" in plan.lower() or "RangePartitioning" in plan


def test_bucketed_join_has_no_exchange(spark):
    """Two tables bucketed on the join key with equal bucket counts must
    join bucket-to-bucket: no Exchange on either input — the write-time
    shuffle is the only shuffle the key ever pays."""
    import contextlib
    import io
    import uuid

    from burst_db_spark.catalog import load
    from burst_db_spark.sinks import write_bucketed

    tag = uuid.uuid4().hex[:8]
    orders = load(spark, SF_DIR, "orders").select("o_orderkey", "o_orderpriority")
    li = load(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(orders, f"po_{tag}", "o_orderkey", 4, sort_col="o_orderkey")
    write_bucketed(li, f"pl_{tag}", "l_orderkey", 4, sort_col="l_orderkey")
    bo, bl = spark.table(f"po_{tag}"), spark.table(f"pl_{tag}")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the shuffle-join path so the assertion is about bucketing,
        # not about one side being broadcast-small
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bo.join(bl, bo["o_orderkey"] == bl["l_orderkey"])
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS po_{tag}")
        spark.sql(f"DROP TABLE IF EXISTS pl_{tag}")
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    assert "Bucketed: true" in plan


def test_binned_interval_join_is_equi_join(spark):
    plan = _plan("j13_range_interval_join", spark)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the bin key carries the join; containment is only a residual
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_q3_q10_broadcast_dims_no_nested_loop(spark):
    for name in ("q3_shipping_priority", "q10_returned_items"):
        plan = _plan(name, spark)
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "BroadcastHashJoin" in plan, name
        # top-k plans as TakeOrdered, not a global Sort+Limit
        assert "TakeOrderedAndProject" in plan, name


def test_cume_dist_family_single_window_exchange(spark):
    plan = _plan("w9_cume_dist_family", spark)
    n_exchanges = sum(
        1 for l in plan.splitlines()
        if l.strip().startswith("Exchange") and "Broadcast" not in l
    )
    # one hashpartitioning exchange feeds all five window functions
    # (formatted mode prints tree + details, so each node appears twice)
    assert n_exchanges <= 2, plan


def test_user_sized_aggregates_not_statically_broadcast(spark):
    """w11_funnel / a23_cohort_retention join per-user aggregates back
    onto the event stream. Those tables grow with the user count, so the
    STATIC plan must not force a broadcast (at 100x users that is a
    driver/executor OOM) — the join stays an exchange and only AQE's
    runtime size measurement may upgrade it. Regression guard for the
    round-4 unconditional F.broadcast hints.

    A HINT forces broadcast regardless of spark.sql.autoBroadcastJoinThreshold;
    the cost model obeys it. So with the threshold disabled, any surviving
    BroadcastHashJoin proves an unconditional hint is back."""
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for name in ("w11_funnel", "a23_cohort_retention"):
            plan = _plan(name, spark)
            assert "BroadcastHashJoin" not in plan, (name, plan)
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, name
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)


def test_correlated_subqueries_decorrelate(spark):
    """q4/q17/q21 run the literal correlated SQL through spark.sql —
    Catalyst must decorrelate: EXISTS -> LeftSemi, NOT EXISTS ->
    LeftAnti, the correlated scalar avg -> one aggregate joined back.
    Any BroadcastNestedLoopJoin/CartesianProduct means a per-row
    re-scan shipped to a 100 TB table."""
    q4 = _plan("q4_order_priority", spark)
    assert "LeftSemi" in q4, q4
    q17 = _plan("q17_small_qty_revenue", spark)
    assert "HashAggregate" in q17
    q21 = _plan("q21_suppliers_waiting", spark)
    assert "LeftSemi" in q21, q21
    assert "LeftAnti" in q21, q21
    q16 = _plan("q16_supplier_cnt", spark)   # NOT IN -> null-aware anti
    assert "LeftAnti" in q16, q16
    q18 = _plan("q18_large_volume", spark)    # IN over HAVING -> semi
    assert "LeftSemi" in q18, q18
    q20 = _plan("q20_part_shippers", spark)   # nested IN -> stacked semis
    assert q20.count("LeftSemi") >= 2, q20
    q22 = _plan("q22_global_sales_opportunity", spark)
    assert "LeftAnti" in q22, q22
    for name, plan in (("q4", q4), ("q17", q17), ("q21", q21),
                       ("q16", q16), ("q18", q18), ("q20", q20),
                       ("q22", q22)):
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_chunking_is_map_only(spark):
    """RAG chunking must be a pure map: sequence+explode+substring, no
    Exchange, no Join, no UDF — it streams at scan speed."""
    plan = _plan("t_chunk_documents", spark)
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Generate" in plan  # the explode


def test_q6_all_predicates_pushed_single_agg(spark):
    """TPC-H Q6 is the canonical pushdown probe: every predicate (two
    timestamp bounds, the discount range, the quantity cap) must reach
    the parquet scan, and the plan is scan -> partial agg -> one
    exchange -> final agg."""
    plan = _plan("q6_forecast_revenue", spark)
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    for frag in (
        "GreaterThanOrEqual(l_shipdate,1997-01-01",
        "LessThan(l_shipdate,1998-01-01",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)",
    ):
        assert frag in pushed, (frag, pushed)
    assert plan.count("HashAggregate (") == 2  # partial + final


def test_q19_disjunction_decomposes_per_table(spark):
    """TPC-H Q19's cross-table OR can't push down whole, but Catalyst
    must derive the single-table residues: a quantity-bounds OR on the
    lineitem scan and a (brand,size) OR on the part scan. Losing either
    means scanning the full fact for a ~1% selection."""
    plan = _plan("q19_discounted_revenue", spark)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    li_push = next(l for l in pushed if "l_quantity" in l)
    assert "GreaterThanOrEqual(l_quantity,1.0)" in li_push
    assert "LessThanOrEqual(l_quantity,30.0)" in li_push
    p_push = next(l for l in pushed if "p_brand" in l)
    assert "EqualTo(p_brand,Brand#12)" in p_push
    assert "GreaterThanOrEqual(p_size,1)" in p_push
    assert "CartesianProduct" not in plan


def test_q13_outer_join_preserved_with_pushed_residual(spark):
    """Q13's priority predicate lives in the JOIN condition; it must
    (a) not turn the outer join inner and (b) still push to the orders
    scan (it references only the inner side)."""
    plan = _plan("q13_order_count_distribution", spark)
    assert "LeftOuter" in plan
    assert any(
        "Not(EqualTo(o_orderpriority,1-URGENT))" in l
        for l in plan.splitlines()
        if "PushedFilters" in l
    ), plan


def test_scalar_aggregate_broadcasts_one_row(spark):
    """q11/q15 compare per-group aggregates against a global scalar.
    The scalar must arrive as a 1-row broadcast (BNLJ build side is the
    1-row aggregate), never a CartesianProduct, and the fact side must
    not re-shuffle for it."""
    for name in ("q11_important_stock", "q15_top_supplier"):
        plan = _plan(name, spark)
        assert "CartesianProduct" not in plan, name
        assert "SortMergeJoin" not in plan, name


def test_q7_semi_reduces_before_fact_join(spark):
    """Q7's nation pair filter must reach supplier/customer BEFORE the
    fact joins (the data-dependent reduction Catalyst can't derive):
    both nation scans carry the 2-nation OR pushed filter, and the
    lineitem side joins the reduced supplier slice as a broadcast."""
    plan = _plan("q7_volume_shipping", spark)
    nation_pushes = [
        l
        for l in plan.splitlines()
        if "PushedFilters" in l and "n_name" in l
    ]
    assert len(nation_pushes) >= 2, plan
    for l in nation_pushes:
        assert "NATION_1" in l and "NATION_2" in l
    assert "BroadcastHashJoin" in plan


def test_u4_full_outer_preserved(spark):
    plan = _plan("u4_full_outer_reconcile", spark)
    assert "FullOuter" in plan, plan
    assert "CartesianProduct" not in plan


def test_w2c_dynamic_gap_single_user_exchange(spark):
    """Dynamic-gap sessionization must cost the same as fixed-gap: one
    hash exchange on user_id feeding the session-window aggregate (plus
    the output sort) — no extra shuffle for the per-event gap column."""
    plan = _plan("w2c_dynamic_gap_sessions", spark)
    # formatted mode puts partitioning on the Arguments line under the
    # numbered Exchange node
    hash_exchanges = [
        l for l in plan.splitlines()
        if l.startswith("Arguments: hashpartitioning")
    ]
    assert len(hash_exchanges) == 1, plan
    assert "user_id" in hash_exchanges[0]


def test_curation_pipeline_one_broadcast_no_cartesian(spark):
    """The composed curation chain: benchmark shingles are the only
    broadcast build, everything else exchanges on doc/source keys."""
    plan = _plan("t_curation_mix_pipeline", spark)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_fuzzy_name_join_is_deletion_key_equi_join(spark):
    """j14's round-5 form was an unconditional vocabulary broadcast into
    a Levenshtein BroadcastNestedLoopJoin — O(V^2) compares, unbounded
    broadcast at corpus scale. The FastSS rewrite must join candidates
    on the hashed deletion-variant key: an ordinary equi-join (hash or
    sort-merge under AQE), never a nested loop or cartesian, with
    levenshtein appearing only as a post-join filter/projection."""
    plan = _plan("j14_fuzzy_name_join", spark)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    # candidate generation keys on the 64-bit variant hash
    assert "xxhash64" in plan


def test_runtime_bloom_filter_join_pruning(spark):
    """Catalyst's runtime bloom-filter injection (the row-group-level
    sibling of DPP): a selective build side on a shuffled join makes the
    optimizer wrap the probe side's scan in bloom_filter_might_contain,
    so most lineitem rows die before the SortMergeJoin's exchange — the
    100 TB selective-join shape when the dim is too big to broadcast."""
    import io, contextlib

    from pyspark.sql import functions as F

    from burst_db_spark.catalog import load
    from tests.conftest import SF_DIR

    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
    ]
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "100MB",
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime."
            "bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        li = load(spark, SF_DIR, "lineitem")
        orders = load(spark, SF_DIR, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "might_contain" in plan.lower(), plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# ---------------------------------------------------------------------------
# round-7 plan properties


def test_p12_scan_has_dynamic_pruning(spark):
    """The date-partitioned fact scan must carry a runtime dynamicpruning
    partition filter fed by the broadcast dim — the 100 TB fact-scan
    reducer. A static plan (all partitions read) is the regression."""
    plan = _plan("p12_dynamic_partition_pruning", spark)
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    assert "BroadcastHashJoin" in plan


def test_o6_global_rank_no_single_partition_window(spark):
    """Global ranks must come from range partitions + per-partition
    row_number; a Window with a global (empty partitionBy) sort would
    funnel all rows through one task."""
    plan = _plan("o6_range_partitioned_sort", spark)
    assert "rangepartitioning" in plan.lower().replace(" ", "")
    # the window must be partitioned on pid, not global
    assert "partitionspec=[]" not in plan.lower().replace(" ", "")


def test_containment_join_no_cartesian(spark):
    """Candidate generation is an equi-join on shingle (prefix x inverted
    index) and the verify joins on ids — never a cartesian/BNLJ."""
    plan = _plan("t_containment_join", spark)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_int8_quantized_broadcasts_are_bounded(spark):
    """Only the one-row quant-params frame and the query subset are
    broadcast; the candidate table itself must stream (no SMJ needed,
    but also no broadcast of the full code table)."""
    plan = _plan("knn_int8_quantized", spark)
    assert "CartesianProduct" not in plan
    # the explicit broadcasts exist
    assert "BroadcastExchange" in plan


def test_kmv_sketch_has_partial_distinct(spark):
    """The shard-sketch distinct must partial-aggregate map-side (the
    mergeable-partials property the sketch exists for)."""
    plan = _plan("a32_kmv_distinct", spark)
    assert "partial_" in plan or "HashAggregate" in plan


def test_paragraph_dedup_no_python_in_path(spark):
    """Line windowing, first-occurrence filter, and reassembly are all
    JVM built-ins: no BatchEvalPython / ArrowEvalPython stage."""
    plan = _plan("t_paragraph_dedup", spark)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_ohlc_is_single_partial_aggregate(spark):
    """OHLC bars are fully algebraic (min_by/max_by/min/max/count): one
    partial-aggregating groupBy, no window, no second exchange."""
    plan = _plan("w16_resample_ohlc", spark)
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_interval_coalesce_single_exchange(spark):
    """Both window passes and the island groupBy share the user_id
    partitioning: exactly one shuffle in the whole plan."""
    plan = _plan("w15_interval_coalesce", spark)
    n_exchanges = sum(
        1
        for line in plan.splitlines()
        if "Exchange" in line and "Reused" not in line and "Output" not in line
        and line.strip().startswith(("(", "+", ":"))
        and "hashpartitioning" in line.lower()
    )
    assert n_exchanges <= 1, plan[:1500]


def test_dq_checks_referential_joins_are_anti(spark):
    """The referential checks must plan as anti-joins (broadcast for the
    small parent), never inner joins + filters."""
    plan = _plan("u6_dq_checks", spark)
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# round-9 plan properties


def test_j18_scan_has_dynamic_pruning(spark):
    """The date-partitioned fact scan of the point-in-interval join must
    carry a runtime dynamicpruning partition filter fed by the filtered
    interval dim, and the dim join must be a broadcast."""
    plan = _plan("j18_point_in_interval_dpp", spark)
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    assert "BroadcastHashJoin" in plan


def test_a36_sketch_build_is_sharded_two_phase(spark):
    """The theta-sketch build must never plan a per-tag global sort of
    the raw hash set: the first bottom-k window partitions on
    (tag, shard), and WindowGroupLimit pre-truncates before the
    shuffle. (The r8 plan's 2-hot-partition sort is the regression.)"""
    plan = _plan("a36_theta_sketch_setops", spark)
    squashed = plan.lower().replace(" ", "")
    assert "shard" in squashed, plan[:2000]
    assert "windowgrouplimit" in squashed, plan[:2000]


def test_w17_medians_have_no_rank_window(spark):
    """Both MAD lower-medians must run the two-pass histogram idiom —
    no row_number window over raw rows anywhere in the final plan (the
    only window is the cumulative sum over in-bucket value COUNTS)."""
    plan = _plan("w17_mad_anomaly", spark)
    assert "row_number" not in plan.lower(), plan[:2000]


def test_cascade_bloom_is_broadcast_no_bench_shuffle(spark):
    """The curation cascade's decontamination stage must test shingles
    map-side against the broadcast Bloom bitset — no join of survivor
    shingles against benchmark shingles."""
    plan = _plan("dd_docs_cascade_pipeline", spark)
    assert "CartesianProduct" not in plan
    # the bloom test is a pandas UDF (ArrowEvalPython), not a join
    assert "ArrowEvalPython" in plan or "BatchEvalPython" in plan


def test_p13_probe_scan_is_narrow(spark):
    """Late materialization: the probe side's parquet scan must read
    ONLY the narrow columns (no text), with both predicates pushed; the
    wide side joins via broadcast semi/inner, never a shuffle."""
    plan = _plan("p13_late_materialization", spark)
    assert "BroadcastHashJoin" in plan
    read_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert any("text" not in l for l in read_schemas), read_schemas
    assert "In(source, [src3,src7])" in plan, plan[:2000]


def test_a38_day_sketches_are_sharded(spark):
    """The per-day sketch build must run the two-phase shard->merge
    bottom-k (no single-partition sort of a day's raw hash set), and
    the window spine join must broadcast the k-sized sketches."""
    plan = _plan("a38_sliding_kmv_distinct", spark)
    squashed = plan.lower().replace(" ", "")
    assert "shard" in squashed
    assert "windowgrouplimit" in squashed
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_epoch_shuffle_no_global_sort_single_data_exchange(spark):
    """t_epoch_shard_shuffle: the permutation must NOT be a global sort
    (no rangepartitioning anywhere); the only data-sized movement is the
    ONE hash exchange on hash_shard (the exchange whose rows still carry
    the __rk permutation key) — the offsets side-pass moves only
    aggregated shard counts and joins back via broadcast."""
    plan = _plan("t_epoch_shard_shuffle", spark)
    assert "rangepartitioning" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    lines = plan.splitlines()
    data_exchanges = 0
    for i, line in enumerate(lines):
        if line.strip().startswith("(") and ") Exchange" in line:
            block = " ".join(lines[i : i + 3])
            if "__rk" in block:
                data_exchanges += 1
    # one per epoch (the query unions two epochs)
    assert data_exchanges == 2, plan


def test_interleave_no_per_source_hot_window(spark):
    """t_interleave_by_weight: per-source ranks come from the hash-range
    decomposition, so the data-sized window partitions on
    (source, __ghr_shard) — never on source alone (20 sources would mean
    20 hot sort partitions at corpus scale) and never single-partition;
    no rangepartitioning anywhere."""
    plan = _plan("t_interleave_by_weight", spark)
    assert "rangepartitioning" not in plan
    assert "SinglePartition" not in plan
    assert "hashpartitioning(source" in plan
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if line.strip().startswith("(") and ") Exchange" in line:
            block = " ".join(lines[i : i + 3])
            if "__ghr_rk" in block:
                # the one data-sized exchange must carry the shard key
                assert "__ghr_shard" in block, block


def test_winnow_fingerprints_is_map_only(spark):
    """The winnowing selection must stay a pure map: transform/least/
    array_distinct in codegen, no window operator, and the only
    exchange is the small-scan spread (round-robin/hash of the input,
    never a window sort partition)."""
    plan = _plan("t_winnow_fingerprints", spark)
    assert "Window" not in plan
    assert _count_nodes(plan, "Exchange") <= 1  # the single-file spread only
    assert "Generate" in plan  # the selected-fp explode


def test_vocab_coverage_topk_is_take_ordered(spark):
    """The vocabulary cut must be per-partition top-k (TakeOrdered),
    never a global single-partition sort; the vocab side joins
    broadcast."""
    plan = _plan("t_vocab_coverage", spark)
    assert "TakeOrderedAndProject" in plan
    # at most one single-partition exchange (the final 1-row agg only)
    single = len(re.findall(r"Arguments: SinglePartition", plan))
    assert single <= 1, plan
    assert "BroadcastHashJoin" in plan


def test_dhash_neardup_band_join_is_equi_hash(spark):
    for name in ("mm_image_neardup_pairs", "mm_audio_neardup_pairs",
                 "dd_simhash_neardup"):
        plan = _plan(name, spark)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_dsir_selection_is_take_ordered(spark):
    """DSIR's top-N cut must compile to TakeOrderedAndProject (per-
    partition heaps + driver merge) — a global row_number window over
    the whole raw pool is the plan that dies at 100 TB. The sel_rank
    window runs AFTER the N-row cut, so the only single-partition
    exchange feeds a frame of top_n rows."""
    plan = _plan("t_dsir_importance", spark)
    assert "TakeOrderedAndProject" in plan


def test_rrf_modality_lists_are_take_ordered(spark):
    """Both RRF modality lists (BM25 and cosine) must be cut with
    TakeOrderedAndProject before ranking — RRF fuses top-k LISTS, it
    never ranks the full corpus per modality. (Catalyst also folds the
    final fused top-20 into a third TakeOrdered — a bonus, not a
    requirement, so the assertion is >= 2.)"""
    plan = _plan("t_rrf_hybrid_search", spark)
    assert _count_nodes(plan, "TakeOrderedAndProject") >= 2


# ---------------------------------------------------------------------------
# round-14 operators


def test_ccnet_buckets_grouped_ntile_is_range_partitioned(spark):
    """The per-language exact ntile must use the grouped global-rank
    pattern: a RANGE partition on (lang, score, id) feeding windows
    partitioned by (__pid, lang) — never a one-task-per-language window
    and never a global rank. (The LM model's 1-ROW vocab aggregate is a
    legitimate SinglePartition — model state, not data — so the pin
    targets the window spec, not the whole plan.)"""
    plan = _plan("t_ccnet_buckets", spark)
    assert "rangepartitioning(lang" in plan
    assert "windowspecdefinition(__pid" in plan
    # no window partitioned by lang alone (the straggler shape)
    assert not re.search(r"windowspecdefinition\(lang#\d+, m", plan)


def test_soft_dedup_no_pair_join(spark):
    """SoftDeDup is reweighting, not pair-finding: the plan must carry
    NO join at all — one digest window + one rollup."""
    plan = _plan("t_soft_dedup_weights", spark)
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert _count_nodes(plan, node) == 0, node


def test_gopher_rules_map_plus_single_rollup(spark):
    """The rule battery is a pure map over docs + one aggregate: exactly
    one Exchange (the per-source rollup), no joins, no windows."""
    plan = _plan("t_gopher_rules", spark)
    assert _count_nodes(plan, "Exchange") == 1
    assert _count_nodes(plan, "Window") == 0
    for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert _count_nodes(plan, node) == 0, node


def test_kmeans_unrolled_broadcast_model_no_window_over_vectors(spark):
    """Every k-means assignment must ride a BROADCAST of the k-row
    centroid frame (the model), never shuffle the corpus against it;
    argmin is an aggregate, so the only Windows allowed are the k-row
    seed numbering."""
    plan = _plan("knn_kmeans_unrolled", spark)
    assert _count_nodes(plan, "BroadcastExchange") >= 2  # one per round
    assert _count_nodes(plan, "CartesianProduct") == 0
    assert _count_nodes(plan, "BroadcastNestedLoopJoin") >= 1  # k-row model join


def test_hilbert_layout_no_shuffle_before_filter(spark):
    """Curve coding is a pure map: the only exchanges in the layout
    query serve the two tiny aggregates, and no join is a cartesian over
    the grid."""
    plan = _plan("o7_hilbert_layout", spark)
    assert _count_nodes(plan, "CartesianProduct") == 0
    # run counting is an integer anti-join, never a sort-based window
    assert _count_nodes(plan, "Window") == 0


def test_cusum_two_window_passes_no_self_join(spark):
    """The CUSUM prefix-sum identity costs windows, not joins: no
    self-join of the daily series against itself."""
    plan = _plan("w21_cusum_drift", spark)
    assert _count_nodes(plan, "CartesianProduct") == 0
    assert _count_nodes(plan, "Window") >= 2  # prefix sum + running min
    assert _count_nodes(plan, "SortMergeJoin") == 0


def test_weighted_median_single_group_sort(spark):
    """Exact weighted median: one window pass over the per-group order,
    no joins."""
    plan = _plan("a46_weighted_median", spark)
    for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert _count_nodes(plan, node) == 0, node
    assert _count_nodes(plan, "Window") >= 1


def test_substring_dedup_shorts_no_bnlj(spark):
    """The sub-gram-width fallback is a chunked Aho-Corasick mapInPandas
    pass, not a broadcast nested-loop theta join (VERDICT r12 #2): even
    with short docs present, no BNLJ anywhere in the physical plan."""
    plan = _plan("t_substring_dedup_shorts", spark)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the AC pass is there (one mapInPandas scan over the corpus)
    assert "MapInPandas" in plan


def test_substring_dedup_plain_no_bnlj_no_python(spark):
    """With no short docs in the corpus the plan is byte-identical to
    the anchored-only path: no BNLJ, and no Python at all."""
    plan = _plan("t_substring_dedup", spark)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "MapInPandas" not in plan  # zero shorts -> no AC branch


def test_hier_assign_is_projection_after_broadcast(spark):
    """The funnel assignment (knn_hier_assign) never materializes a
    k-per-vector intermediate. Every nested-loop join in the plan is
    MODEL-sized by construction: the 1-row centers broadcast onto the
    vectors, and the k×g centroid→seed cross during group building
    (planned twice — the member frame feeds both the group-center means
    and the fine join). The data-sized joins are all broadcast-HASH
    (probe gids → members, result → codebook); no SortMergeJoin, no
    Python."""
    plan = _plan("knn_hier_assign", spark)
    assert "SortMergeJoin" not in plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert _count_nodes(plan, "BroadcastNestedLoopJoin") <= 3, plan
    assert _count_nodes(plan, "BroadcastHashJoin") >= 2, plan


def test_round16_text_rows_no_nested_loops(spark):
    """The wave-5 text/audit rows must stay on hash/equi paths: RAKE is
    window+groupBy only; JSD's pair term is an equi-join on word; the
    NB calibration's model joins ride broadcast — no BNLJ/Cartesian
    anywhere (the only sanctioned smalls-cross is JSD's 20x20 source
    pairing, which Spark plans as a broadcast nested loop over two
    20-row aggregates — node-bounded, so it is asserted bounded rather
    than absent)."""
    plan = _plan("t_rake_keywords", spark)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    plan = _plan("t_nb_margin_calibration", spark)
    assert "CartesianProduct" not in plan
    # exactly one BNLJ is sanctioned: the 1-row doc-count scalar riding
    # a broadcast cross join into the priors (the house scalar pattern)
    assert _count_nodes(plan, "BroadcastNestedLoopJoin") <= 1, plan
    assert "BroadcastHashJoin" in plan  # model + priors ride broadcast
    jsd = _plan("t_domain_jsd", spark)
    assert "CartesianProduct" not in jsd
    # the shared-word correction join is a real equi-join on word
    assert "SortMergeJoin" in jsd or "ShuffledHashJoin" in jsd


def test_nn_descent_candidate_joins_are_equi(spark):
    """NND's block init and candidate rerank must be hash equi-joins —
    an accidental theta-join here is the N^2 regression the operator
    exists to avoid."""
    from burst_db_spark.operators.similarity import nn_descent

    emb = load(spark, SF_DIR, "embeddings")
    df = nn_descent(emb, k=3, n_blocks=16, rounds=1)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    # the nbr2 self-join carries an inequality residual on top of its
    # equi key (x.n = y.v AND y.n <> x.v) — it must still plan as a
    # hash/sort-merge join, never a nested loop
    assert "BroadcastNestedLoopJoin" not in plan


def test_frame_partitioner_is_one_python_pass(spark):
    """Widening, run numbering and the DP are one applyInPandas per
    track: no Window, no second Python crossing. ``create``'s frames
    plan reads the partitioner twice (frames and the member-geometry
    bridge) plus the geometry union, so it has exactly three."""
    from burst_db_spark.plans import fixtures
    from burst_db_spark.plans.frame_db import (
        build_frames,
        enrich_frames,
        partition_frames,
    )

    def plan(df) -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    trip = fixtures.burst_triplets(spark, n_triplets=120, n_tracks=2)
    bursts = fixtures.burst_id_map(spark, n_triplets=120, n_tracks=2)
    p = plan(partition_frames(trip))
    assert _count_nodes(p, "FlatMapGroupsInPandas") == 1, p
    assert _count_nodes(p, "Window") == 0, p
    frames, bridge = build_frames(trip)
    member_geoms = bridge.join(bursts, "burst_id").select("frame_fid", "geom_wkt")
    p = plan(enrich_frames(frames, member_geoms=member_geoms))
    assert _count_nodes(p, "FlatMapGroupsInPandas") == 3, p
    assert _count_nodes(p, "Window") == 0, p
