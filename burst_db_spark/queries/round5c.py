"""Round-5c widening: the scalable EXACT similarity join (prefix
filtering), mergeable-sketch evidence (HLL union across partitions),
moment-based outlier flagging, a deterministic truncated EWMA, null-safe
join semantics, INTERSECT / EXCEPT ALL set operations, and equi-width
histogram profiling.

Determinism notes:
- the prefix-filter join is LOSSLESS (AllPairs/PPJoin prefix theorem),
  so its oracle is the plain quadratic Jaccard join — identical output,
  radically different candidate volume;
- EWMA uses half-life-one weights (powers of two, exact in binary),
  folded as decimals over the trailing 16 events — any fold order gives
  the same sum, and the single final double division is written
  identically on both engines;
- outlier z-scores reuse the decimal power-sum moments of
  ``a24_moment_stats`` so mean/std/z are bit-identical across engines.

Reference parity: extends the reference's dedup/summary surface
(reference src/burst_db/ dedup + utils summary queries) with the exact
similarity-join and profiling shapes a 100 TB curation pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from burst_db_spark.catalog import load
from burst_db_spark.operators import dedup as dd
from burst_db_spark.operators.graph import bfs_hops
from burst_db_spark.queries.textops import _SHINGLES_CTE
from burst_db_spark.registry import register
from burst_db_spark.runner import checkpoint, tmpdir

# ---------------------------------------------------------------------------
# DD: exact Jaccard join via prefix filtering (lossless — oracle is the
# quadratic baseline)


@register(
    "dd_jaccard_prefix_join",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
              FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(count(*) AS BIGINT) AS common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, common,
           sa.n_sh AS n_a, sb.n_sh AS n_b,
           common / (sa.n_sh + sb.n_sh - common) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE common / (sa.n_sh + sb.n_sh - common) >= 0.5
    ORDER BY id_a, id_b
    """,
    tags=("dedup", "jaccard", "prefix-filter", "ppjoin"),
)
def dd_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard ≥ 0.5 pairs via prefix filtering
    (operators/dedup.py jaccard_prefix_pairs): candidates come only from
    each doc's globally-rarest ``|S| - ceil(0.5|S|) + 1`` shingles, with
    100% recall by the prefix-filter theorem. The oracle is the plain
    quadratic shingle join — same rows, but the Spark plan's candidate
    volume is bounded by rare-token bucket occupancy instead of df²,
    which is what makes EXACT near-dup joins feasible at 100 TB."""
    docs = load(spark, sf_dir, "documents")
    return dd.jaccard_prefix_pairs(docs, "doc_id", threshold=0.5).orderBy(
        "id_a", "id_b"
    )


# ---------------------------------------------------------------------------
# A27: HLL sketches are MERGEABLE — build per (event_type, day), union up


@register(
    "a27_hll_union_merge",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
           CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days_merged,
           TRUE AS merged_within_5pct
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("A", "sketch", "hll", "mergeable"),
)
def a27_hll_union_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The property that makes sketches matter at 100 TB: per-partition
    HLL sketches (one per (event_type, day)) UNION losslessly into the
    global sketch — no re-scan, no distinct shuffle of the key set.
    Build DataSketches HLLs per day, ``hll_union_agg`` them per type,
    and pin the merged estimate within 5% of the exact distinct count
    (lgK=12 → RSE ≈ 0.8%, 5% ≈ 6σ): a broken merge fails the gate."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("__est"),
        F.count("*").alias("n_days_merged"),
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users_exact")
    )
    ok = (
        F.abs(F.col("__est") - F.col("n_users_exact"))
        <= 0.05 * F.col("n_users_exact")
    )
    return (
        exact.join(merged, "event_type")
        .select(
            "event_type",
            "n_users_exact",
            "n_days_merged",
            ok.alias("merged_within_5pct"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# A28: z-score outliers from decimal-exact group moments

_ZSTATS_SQL = """
        SELECT event_type,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(CAST(sum(CAST(value AS DECIMAL(18, 6)))
                    AS DECIMAL(28, 6)) AS DOUBLE) AS sx,
               CAST(CAST(sum(CAST(value * value AS DECIMAL(28, 10)))
                    AS DECIMAL(38, 10)) AS DOUBLE) AS sxx
        FROM events
        GROUP BY event_type
"""


@register(
    "a28_zscore_outliers",
    oracle=f"""
    WITH sums AS (
{_ZSTATS_SQL}
    ),
    stats AS (
        SELECT event_type,
               sx / n AS mean_v,
               sqrt(n * sxx - sx * sx) / n AS std_v
        FROM sums
    )
    SELECT e.event_id, e.event_type, e.value,
           (e.value - s.mean_v) / s.std_v AS z
    FROM events e JOIN stats s ON e.event_type = s.event_type
    WHERE abs((e.value - s.mean_v) / s.std_v) > 3.0
    ORDER BY e.event_id
    """,
    tags=("A28", "stats", "outliers", "zscore"),
)
def a28_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass outlier flag: per-type mean/std from decimal power sums
    (bit-exact, one partial-aggregated pass — the a24 idiom), then the
    type-count-sized stats frame joins back (AQE broadcasts it) and the
    z filter is a single identical double expression on both engines.
    At 100 TB: one fact scan per pass, stats side is O(|event types|)."""
    ev = load(spark, sf_dir, "events")

    def dsum(col: F.Column, p: str, w: str) -> F.Column:
        return F.sum(col.cast(f"decimal({p})")).cast(f"decimal({w})").cast("double")

    sums = ev.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        dsum(F.col("value"), "18,6", "28,6").alias("sx"),
        dsum(F.col("value") * F.col("value"), "28,10", "38,10").alias("sxx"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    stats = sums.select(
        "event_type",
        (sx / n).alias("mean_v"),
        (F.sqrt(n * sxx - sx * sx) / n).alias("std_v"),
    )
    z = (F.col("value") - F.col("mean_v")) / F.col("std_v")
    return (
        ev.join(stats, "event_type")
        .withColumn("z", z)
        .where(F.abs(F.col("z")) > 3.0)
        .select("event_id", "event_type", "value", "z")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# W14: deterministic truncated EWMA (half-life one, trailing 48 events)


@register(
    "w14_ewma_halflife",
    oracle="""
    WITH ordered AS (
        SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_used,
           CAST(sum(CAST(value AS DECIMAL(18, 6))
                    * CAST((CAST(1 AS BIGINT) << (16 - rn))
                           AS DECIMAL(18, 0)))
                AS DOUBLE) / 65536.0 AS ewma_16
    FROM ordered
    WHERE rn <= 16
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("W14", "ewma", "timeseries", "decimal-exact"),
)
def w14_ewma_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA with alpha = 1/2 over the trailing 16 events:
    ewma = Σ value_i · 2^(-i) (i = 1 newest). The 2^(16-i) weight is an
    INTEGER BIT-SHIFT (no power()/double anywhere on the route), so
    scaling by 2^16 turns every term into an exact decimal —
    the sum is order-independent across shuffles — and the unscaled sum
    stays under 2^53, so the final decimal→double cast plus the one
    division by 65536.0 are each correctly rounded IDENTICALLY on both
    engines (larger trailing windows push the unscaled value past 2^53,
    where DuckDB's hugeint→double→/10^scale double-rounding can drift a
    ulp from Java's BigDecimal path). Truncation at 16 also bounds the
    per-key state at scale. One hash exchange on user_id feeds both the
    row_number and the aggregate."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    contrib = F.col("value").cast("decimal(18,6)") * F.expr(
        "CAST(shiftleft(CAST(1 AS BIGINT), 16 - __rn) AS DECIMAL(18,0))"
    )
    return (
        ev.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= 16)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_used"),
            (F.sum(contrib).cast("double") / F.lit(65536.0)).alias("ewma_16"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# J15: null-safe equality join (NULL keys MATCH, unlike plain '=')


@register(
    "j15_null_safe_join",
    oracle="""
    WITH c AS (
        SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg
        FROM customer
    ),
    dim AS (
        SELECT DISTINCT seg, coalesce(seg, '(unsegmented)') AS seg_label
        FROM c
    )
    SELECT d.seg_label, CAST(count(*) AS BIGINT) AS n_customers
    FROM c JOIN dim d ON c.seg IS NOT DISTINCT FROM d.seg
    GROUP BY d.seg_label
    ORDER BY d.seg_label
    """,
    tags=("J15", "join", "null-safe"),
)
def j15_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): BUILDING is
    nulled out of the segment key, and the NULL rows still match the
    dim's NULL row — a plain '=' join would silently drop ~20% of
    customers. Catalyst rewrites `<=>` into a hashable key (coalesce +
    null flag), so this stays a broadcast/hash equi-join, never a
    nested-loop filter."""
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg")
    )
    dim = (
        cust.select(F.col("seg").alias("seg_d"))
        .distinct()
        .select(
            "seg_d",
            F.coalesce(F.col("seg_d"), F.lit("(unsegmented)")).alias("seg_label"),
        )
    )
    return (
        cust.join(dim, F.col("seg").eqNullSafe(F.col("seg_d")))
        .groupBy("seg_label")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("seg_label")
    )


# ---------------------------------------------------------------------------
# U5: INTERSECT (distinct) + EXCEPT ALL (multiset) in one tagged result


@register(
    "u5_intersect_except",
    oracle="""
    SELECT 'intersect' AS op, ck AS key FROM (
        SELECT o_custkey AS ck FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        INTERSECT
        SELECT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
    )
    UNION ALL
    SELECT 'except_all' AS op, pk AS key FROM (
        SELECT l_partkey AS pk FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-07-01'
        EXCEPT ALL
        SELECT l_partkey FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-07-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
    )
    ORDER BY op, key
    """,
    tags=("U5", "setops", "intersect", "except-all"),
)
def u5_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completes the set-operation family (U1 unpivot-union, U2
    reconcile, U3 union-all, U4 full-outer): INTERSECT collapses to a
    distinct semi shape (customers ordering in BOTH 1996 and 1997);
    EXCEPT ALL keeps MULTIPLICITY (each H1-1996 part shipment survives
    once per unmatched occurrence — Spark's exceptAll, not a distinct
    anti-join). Both push their date predicates to the parquet scans."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")

    def year_keys(lo: str, hi: str) -> DataFrame:
        return orders.where(
            (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
        ).select(F.col("o_custkey").alias("key"))

    inter = (
        year_keys("1996-01-01", "1997-01-01")
        .intersect(year_keys("1997-01-01", "1998-01-01"))
        .select(F.lit("intersect").alias("op"), "key")
    )

    def half_parts(lo: str, hi: str) -> DataFrame:
        return li.where(
            (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
        ).select(F.col("l_partkey").alias("key"))

    diff = (
        half_parts("1996-01-01", "1996-07-01")
        .exceptAll(half_parts("1996-07-01", "1997-01-01"))
        .select(F.lit("except_all").alias("op"), "key")
    )
    return inter.unionAll(diff).orderBy("op", "key")


# ---------------------------------------------------------------------------
# A29: equi-width histogram with data-driven bounds (profiling)


@register(
    "a29_value_histogram",
    oracle="""
    WITH bounds AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
    binned AS (
        SELECT CAST(least(19, CAST(floor((value - lo) * 20.0 / (hi - lo))
                                   AS BIGINT)) AS INTEGER) AS bucket,
               lo, hi
        FROM events CROSS JOIN bounds
    )
    SELECT bucket,
           lo + bucket * (hi - lo) / 20.0 AS bin_lo,
           lo + (bucket + 1) * (hi - lo) / 20.0 AS bin_hi,
           CAST(count(*) AS BIGINT) AS n
    FROM binned
    GROUP BY bucket, lo, hi
    ORDER BY bucket
    """,
    tags=("A29", "histogram", "profiling"),
)
def a29_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-bin equi-width histogram of event values with data-driven
    bounds: the (min, max) scalar is a ONE-ROW broadcast (the q11
    pattern — never a shuffle), bin assignment is a map-side floor
    expression written identically on both engines, and the count
    partial-aggregates before the single exchange on bucket id. The
    top edge folds into the last bin via least(19, ...)."""
    ev = load(spark, sf_dir, "events")
    bounds = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    lo, hi = F.col("lo"), F.col("hi")
    bucket = F.least(
        F.lit(19).cast("bigint"),
        F.floor((F.col("value") - lo) * F.lit(20.0) / (hi - lo)),
    ).cast("int")
    return (
        ev.crossJoin(F.broadcast(bounds))
        .select(bucket.alias("bucket"), "lo", "hi")
        .groupBy("bucket", "lo", "hi")
        .agg(F.count("*").alias("n"))
        .select(
            "bucket",
            (lo + F.col("bucket") * (hi - lo) / F.lit(20.0)).alias("bin_lo"),
            (lo + (F.col("bucket") + 1) * (hi - lo) / F.lit(20.0)).alias("bin_hi"),
            "n",
        )
        .orderBy("bucket")
    )

# ---------------------------------------------------------------------------
# S13: Spark 4 Python DataSource API — zarr store as a registered format


@register(
    "s13_zarr_python_datasource",
    oracle="""
    WITH cells AS (
        SELECT (year(l_shipdate) - 1995) * 12 + month(l_shipdate) - 1 AS t,
               l_suppkey % 8 AS si, l_partkey % 8 AS pi,
               CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS v
        FROM lineitem GROUP BY 1, 2, 3
    )
    SELECT CAST(si AS BIGINT) AS si,
           CAST(sum(v) AS BIGINT) AS total_qty,
           CAST(count(*) AS BIGINT) AS n_cells
    FROM cells
    WHERE t < 36 AND pi <= 4
    GROUP BY 1
    ORDER BY 1
    """,
    tags=("S13", "zarr", "datasource-api", "python-datasource"),
)
def s13_zarr_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python DataSource API (sources/pyds.py): the quantity
    cube is written through the distributed zarr sink, then read back
    via ``spark.read.format("zarr_py")`` — a REGISTERED source whose
    schema() is inferred from .zarray on the driver and whose
    partitions() declare one InputPartition per chunk (executors stream
    Arrow batches). Fill cells are dropped and a different subset than
    s11 is aggregated per supplier-cell, so this row proves the V2
    source path end-to-end against the relational oracle."""
    import os

    from burst_db_spark.sources.pyds import register_zarr_py
    from burst_db_spark.sources.zarr import write_zarr_cube

    store = os.path.join(tmpdir("bds_s13_"), "cube")
    li = load(spark, sf_dir, "lineitem")
    cells = (
        li.select(
            ((F.year("l_shipdate") - 1995) * 12 + F.month("l_shipdate") - 1).alias(
                "t"
            ),
            (F.col("l_suppkey") % 8).alias("si"),
            (F.col("l_partkey") % 8).alias("pi"),
            F.floor("l_quantity").cast("bigint").alias("q"),
        )
        .groupBy("t", "si", "pi")
        .agg(F.sum("q").cast("bigint").alias("v"))
    )
    write_zarr_cube(
        cells,
        store,
        ["t", "si", "pi"],
        "v",
        shape=(84, 8, 8),
        chunks=(12, 8, 8),
        compressor={"id": "zlib", "level": 6},
    )
    register_zarr_py(spark)
    back = (
        spark.read.format("zarr_py")
        .option("store", store)
        .option("dims", "t,si,pi")
        .load()
    )
    return (
        back.where(
            (F.col("t") < 36)
            & (F.col("pi") <= 4)
            & (F.col("value") != 0)
        )
        .groupBy("si")
        .agg(
            F.sum("value").cast("bigint").alias("total_qty"),
            F.count("*").cast("bigint").alias("n_cells"),
        )
        .orderBy("si")
    )

# ---------------------------------------------------------------------------
# F10: VARIANT semi-structured type (Spark 4) over events.props


@register(
    "f_variant_props",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_sum,
           CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_min,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_max,
           CAST(sum(CASE WHEN json_extract_string(props, '$.x') IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_x,
           CAST(sum(CAST(json_extract_string('{"w":' || props || '}',
                                             '$.w.k') AS BIGINT))
                AS BIGINT) AS nested_k_sum
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("F10", "variant", "semi-structured", "json"),
)
def f_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT type over the semi-structured props column:
    ``parse_json`` once into a variant, typed extraction via
    ``variant_get`` (JVM-side, no regex/JSON re-parse per path),
    ``try_variant_get`` returning NULL for a missing path instead of
    failing, and a nested path through a wrapped object. At 100 TB
    variant's binary encoding beats string-JSON re-parsing per
    expression — the shape every telemetry/props pipeline needs. The
    oracle recomputes every figure with DuckDB's JSON path functions."""
    ev = load(spark, sf_dir, "events")
    v = F.parse_json("props")
    nested = F.parse_json(F.concat(F.lit('{"w":'), F.col("props"), F.lit("}")))
    k = F.variant_get(v, "$.k", "bigint")
    return (
        ev.select(
            "event_type",
            k.alias("__k"),
            F.try_variant_get(v, "$.x", "bigint").alias("__x"),
            F.variant_get(nested, "$.w.k", "bigint").alias("__wk"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("__k").alias("k_sum"),
            F.min("__k").alias("k_min"),
            F.max("__k").alias("k_max"),
            F.sum(F.when(F.col("__x").isNull(), 1).otherwise(0)).alias(
                "n_missing_x"
            ),
            F.sum("__wk").alias("nested_k_sum"),
        )
        .orderBy("event_type")
    )

# ---------------------------------------------------------------------------
# G3: bounded multi-source BFS (hop distance <= 3) with an unrolled oracle

_BFS_EDGES_SQL = """
    dir_edges AS (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
               's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS (
        SELECT src, dst FROM dir_edges
        UNION ALL
        SELECT dst AS src, src AS dst FROM dir_edges
    ),
    seeds AS (
        SELECT DISTINCT src AS v FROM dir_edges
        WHERE CAST(substr(src, 2) AS BIGINT) % 100 = 0
    )
"""


def _bfs_level_sql(prev: str, cur: str) -> str:
    return f"""
    {cur} AS (
        SELECT v, CAST(min(hop) AS INTEGER) AS hop FROM (
            SELECT v, hop FROM {prev}
            UNION ALL
            SELECT e.dst AS v, p.hop + 1 AS hop
            FROM edges e JOIN {prev} p ON e.src = p.v
        ) GROUP BY v
    )"""


@register(
    "g3_bfs_hops",
    oracle=f"""
    WITH {_BFS_EDGES_SQL},
    d0 AS (SELECT v, CAST(0 AS INTEGER) AS hop FROM seeds),
    {_bfs_level_sql("d0", "d1")},
    {_bfs_level_sql("d1", "d2")},
    {_bfs_level_sql("d2", "d3")}
    SELECT hop, CAST(count(*) AS BIGINT) AS n_nodes,
           min(v) AS first_node, max(v) AS last_node
    FROM d3 GROUP BY hop ORDER BY hop
    """,
    tags=("graph", "bfs", "iterative", "shortest-path"),
)
def g3_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded multi-source BFS on the UNDIRECTED customer↔supplier
    purchase graph: hop-0 seeds are every 100th customer, and three
    relaxation rounds compute min-hop distances (the bounded-iteration
    sibling of connected components / PageRank). Each round is ONE
    join shuffle + one min-aggregate — dist_k = min(dist_{{k-1}},
    1 + min over in-neighbors), a deterministic integer fold, so the
    unrolled-CTE oracle is bit-exact. At 100 TB the frontier join is a
    hash equi-join on node id per round; nothing driver-side."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    # Optimization r14 (guide §2.3 — iterative lineage): each round
    # references dist TWICE (the union keep-branch and the frontier
    # join), so the uncached unrolled plan re-evaluated dist_{k-1} 2x,
    # dist_{k-2} 4x, ... (before-plan: 120 exchanges, the edge build
    # replicated ~8x). A lazy persist does NOT fix this — the branches
    # run as parallel stages of ONE job and race to materialize the
    # same cache, so each still computes the subtree. Eagerly
    # materialize the edge list here and each round's node-sized dist
    # in bfs_hops (the repo's standard iterative device: CC, k-truss
    # peeling); the min-hop integer fold is deterministic, so values
    # are identical.
    dir_edges = checkpoint(
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    edges = dir_edges.unionByName(
        dir_edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    seeds = (
        dir_edges.select(F.col("src").alias("v"))
        .where(F.substring("v", 2, 100).cast("bigint") % 100 == 0)
        .distinct()
    )
    dist = bfs_hops(edges, seeds, rounds=3)
    return (
        dist.groupBy("hop")
        .agg(
            F.count("*").alias("n_nodes"),
            F.min("v").alias("first_node"),
            F.max("v").alias("last_node"),
        )
        .orderBy("hop")
    )
