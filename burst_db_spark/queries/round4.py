"""Round-4 queries: TPC-H Q3/Q10 join shapes, the cumulative-distribution
window family, HLL distinct-count sketching, the keyless binned interval
join, trigram stupid-backoff LM scoring, and two end-to-end corpus-clean
compositions (LSH cluster dedup; quality→exact→fuzzy pipeline).

Determinism conventions (same as the rest of the suite):
- every aggregate double that crosses a shuffle is summed as
  DECIMAL(18,6) → DECIMAL(28,6) → DOUBLE on BOTH engines (ulp drift);
- every float fold is position-ordered (array_sort / list ORDER BY);
- every hash is md5-derived so DuckDB reproduces it exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from burst_db_spark.catalog import load
from burst_db_spark.operators import dedup as dd
from burst_db_spark.operators import joins as jn
from burst_db_spark.operators import lm
from burst_db_spark.operators import text as tx
from burst_db_spark.plans.bpe_oracle import (
    bpe_encode_oracle_sql as _bpe_encode_oracle_sql,
)
from burst_db_spark.queries.textops import _SHINGLES_CTE, _TOKS
from burst_db_spark.registry import register
from burst_db_spark.runner import persist, tmpdir
from burst_db_spark.streaming import drain

# revenue expression, decimal-exact on both engines ------------------------

_REV_SQL = (
    "CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) "
    "AS DECIMAL(18, 6))) AS DECIMAL(28, 6)) AS DOUBLE)"
)


def _rev_spark() -> F.Column:
    return (
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)"))
        .cast("decimal(28,6)")
        .cast("double")
    )


@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {_REV_SQL} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-01'
      AND l_shipdate > TIMESTAMP '1998-06-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    tags=("J1", "O5", "bench", "tpch"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped: segment-filtered 3-way join → per-order revenue →
    top-10. Customer filter prunes before the join (broadcast the filtered
    dim); the LIMIT is a TakeOrdered on the agg output — no global sort
    materializes. Total order (revenue DESC, l_orderkey) keeps the top-k
    deterministic; decimal-summed revenue keeps the sort key exact."""
    cust = load(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < "1998-06-01"
    )
    li = load(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > "1998-06-01")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_rev_spark().alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name, n_name AS nation,
           {_REV_SQL} AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-07-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("J1", "O5", "bench", "tpch"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10-shaped: returned-item revenue per customer, top-20.
    lineitem's returnflag filter is pushed to the scan; nation broadcasts;
    the orders date filter prunes before the fact join."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-07-01")
    )
    li = load(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    nation = load(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            _rev_spark().alias("revenue"),
            F.count("*").alias("n_lines"),
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "w9_cume_dist_family",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
    tags=("W", "window"),
)
def w9_cume_dist_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-distribution window gauntlet: rank / dense_rank /
    percent_rank / cume_dist / ntile over one partitioning — ONE window
    exchange serves all five functions. The orderkey tiebreak makes every
    rank single-peer, so the distributions are deterministic."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
    )


@register(
    "a18_hll_distinct",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
           TRUE AS hll_within_15pct
    FROM events GROUP BY event_type
    """,
    tags=("A", "sketch", "hll"),
)
def a18_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count sketching: exact count_distinct next to an HLL++
    bound check. At 100 TB the exact count is a full shuffle of the key
    set; approx_count_distinct is ONE pass, fixed memory, mergeable —
    the oracle pins the sketch's error inside 15% (3σ of the default
    rsd=0.05) by asserting the flag, so a broken sketch fails the gate."""
    ev = load(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users_exact"),
        F.approx_count_distinct("user_id").alias("__approx"),
    )
    ok = (
        F.abs(F.col("__approx") - F.col("n_users_exact"))
        <= 0.15 * F.col("n_users_exact")
    )
    return agg.select("event_type", "n_users_exact", ok.alias("hll_within_15pct"))


@register(
    "w10_scd2_intervals",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(event_type) OVER w IS NULL
                    OR event_type != lag(event_type) OVER w
                    THEN 1 ELSE 0 END AS chg
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    runs AS (
        SELECT user_id, ts, event_type,
               sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS run_id
        FROM flagged
    ),
    collapsed AS (
        SELECT user_id, CAST(run_id AS BIGINT) AS run_id,
               min(event_type) AS event_type,
               min(ts) AS valid_from,
               CAST(count(*) AS BIGINT) AS n_events
        FROM runs GROUP BY user_id, run_id
    )
    SELECT user_id, run_id, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id)
               AS valid_to,
           n_events
    FROM collapsed
    """,
    tags=("W", "scd2", "run-length"),
)
def w10_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 interval building: collapse consecutive same-value
    runs per key into (value, valid_from, valid_to) validity intervals,
    open-ended for the current run — the change-data-capture shape every
    warehouse dimension load runs. One partitionBy(user) exchange serves
    the change flag, the run id, and the valid_to lead."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = F.when(
        F.lag("event_type").over(w).isNull()
        | (F.col("event_type") != F.lag("event_type").over(w)),
        F.lit(1),
    ).otherwise(F.lit(0))
    runs = ev.withColumn(
        "run_id",
        F.sum(chg).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    collapsed = runs.groupBy("user_id", F.col("run_id").cast("bigint").alias("run_id")).agg(
        F.min("event_type").alias("event_type"),
        F.min("ts").alias("valid_from"),
        F.count("*").cast("bigint").alias("n_events"),
    )
    w_run = Window.partitionBy("user_id").orderBy("run_id")
    return collapsed.select(
        "user_id",
        "run_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w_run).alias("valid_to"),
        "n_events",
    )


@register(
    "a22_rollup",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT)
               AS grouping_level,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18, 6)))
                     AS DECIMAL(28, 6)) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
    tags=("A", "rollup", "grouping-sets"),
)
def a22_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (detail → per-priority subtotal → grand
    total) with the GROUPING bit vector distinguishing real NULLs from
    subtotal rows — one pass, partial-aggregated before the exchange;
    completes the grouping-sets family next to a17_cube."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.grouping_id().cast("bigint").alias("grouping_level"),
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("decimal(28,6)")
            .cast("double")
            .alias("total_price"),
        )
        .select(
            "o_orderpriority", "o_orderstatus", "grouping_level",
            "n_orders", "total_price",
        )
    )


@register(
    "w11_funnel",
    oracle="""
    WITH s1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN s1 ON s1.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts > s1.t1
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN s2 ON s2.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        GROUP BY e.user_id
    )
    SELECT s1.user_id, s1.t1 AS first_view, s2.t2 AS first_click,
           s3.t3 AS first_purchase
    FROM s1 LEFT JOIN s2 ON s2.user_id = s1.user_id
            LEFT JOIN s3 ON s3.user_id = s1.user_id
    """,
    tags=("W", "funnel", "product-analytics"),
)
def w11_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis: per user, the first view, the first
    click strictly AFTER that view, and the first purchase strictly
    after that click — the sequential-pattern shape behind every
    conversion dashboard. Three chained min-aggregations; each stage's
    events filter BEFORE its shuffle. The stage tables are USER-sized —
    at 100x users an unconditional broadcast hint is an OOM, so no hint:
    AQE upgrades the shuffled join to broadcast at runtime exactly when
    the stage table measures small (the static plan stays an exchange —
    plan-shape-tested)."""
    ev = load(spark, sf_dir, "events")
    s1 = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            F.col("t1").alias("first_view"),
            F.col("t2").alias("first_click"),
            F.col("t3").alias("first_purchase"),
        )
    )


_WEEK_US_R4 = 7 * 24 * 3600 * 1_000_000


@register(
    "a23_cohort_retention",
    oracle=f"""
    WITH firsts AS (
        SELECT user_id,
               (epoch_us(min(ts)) // {_WEEK_US_R4}) AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id,
               f.cohort_week,
               (epoch_us(e.ts) // {_WEEK_US_R4}) - f.cohort_week
                   AS week_offset
        FROM events e JOIN firsts f ON f.user_id = e.user_id
    )
    SELECT CAST(cohort_week AS BIGINT) AS cohort_week,
           CAST(week_offset AS BIGINT) AS week_offset,
           CAST(count(*) AS BIGINT) AS n_active_users
    FROM activity GROUP BY cohort_week, week_offset
    """,
    tags=("A", "cohort", "retention", "product-analytics"),
)
def a23_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort-retention matrix: users bucketed by first-seen week, then
    counted distinct per (cohort, week-offset) — first-touch attribution
    plus a triangular retention rollup. The firsts table is USER-sized,
    so it joins back un-hinted (both sides already shuffle on user_id —
    a co-partitioned exchange; AQE broadcasts at runtime only when the
    measured size allows); integer epoch-week arithmetic keeps both
    engines exact."""
    ev = load(spark, sf_dir, "events")
    week = lambda c: F.floor(F.unix_micros(c) / F.lit(_WEEK_US_R4))  # noqa: E731
    firsts = ev.groupBy("user_id").agg(
        week(F.min("ts")).alias("cohort_week")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (week(F.col("ts")) - F.col("cohort_week")).alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count("*").cast("bigint").alias("n_active_users")
    )


_PR_EDGES_SQL = (
    "SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src, "
    "'s' || CAST(l_suppkey AS VARCHAR) AS dst "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
)
_PR_NODES_SQL = "SELECT src AS v FROM edges UNION SELECT dst AS v FROM edges"

from burst_db_spark.operators.graph import pagerank_int_oracle_sql  # noqa: E402


@register(
    "g1_pagerank3",
    oracle=pagerank_int_oracle_sql(
        _PR_EDGES_SQL, _PR_NODES_SQL, iterations=3
    ),
    tags=("graph", "pagerank", "iterative", "integer-mass"),
)
def g1_pagerank3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-iteration PageRank over the customer→supplier purchase
    graph (distinct bipartite edges via orders⋈lineitem): 3 power
    steps, d=0.85, ALL-INTEGER mass (2^40 units, trunc-div damping —
    operators/graph.pagerank_int). Integer sums are order-free, so each
    step is ONE plain join+groupBy-SUM shuffle with map-side combine —
    the 100 TB formulation. Reworked build-round 14 from a double-valued
    fold (8.4 s → the plain-sum plan; values changed from doubles to
    rank_fx bigints in lockstep with the oracle)."""
    from burst_db_spark.operators.graph import pagerank_int

    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    nodes = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    return pagerank_int(edges, nodes, iterations=3)


_PHRASE = ("table", "hash")


@register(
    "t_phrase_search",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    p AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos, t[i] AS term
        FROM t, unnest(range(1, len(t) + 1)) AS r(i)
    )
    SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_matches
    FROM p a JOIN p b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    WHERE a.term = '{_PHRASE[0]}' AND b.term = '{_PHRASE[1]}'
    GROUP BY a.doc_id
    """,
    tags=("text", "retrieval", "phrase"),
)
def t_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search — the exact-phrase layer a positional
    inverted index serves. Each phrase term's postings are filtered
    BEFORE any shuffle (a k-term phrase moves only k terms' postings,
    same pre-shuffle pruning as BM25), then adjacency is a per-doc
    equi-join on (doc, pos+1). No full-text scan crosses the exchange."""
    docs = load(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id",
        F.posexplode(tx.tokens(F.col("text"))).alias("pos0", "term"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "term")
    out = None
    for i, term in enumerate(_PHRASE):
        side = pos.where(F.col("term") == term).select(
            "doc_id", (F.col("pos") - i).alias("__anchor")
        )
        out = side if out is None else out.join(side, ["doc_id", "__anchor"])
    return out.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_matches")
    )


_HOP_US = 6 * 3600 * 1_000_000
_WIN_US = 24 * 3600 * 1_000_000


@register(
    "a21_hopping_window",
    oracle=f"""
    WITH w AS (
        SELECT event_type, value,
               make_timestamp((epoch_us(ts) // {_HOP_US}) * {_HOP_US}
                              - k.k * {_HOP_US}) AS window_start
        FROM events CROSS JOIN (SELECT unnest(range(0, 4)) AS k) k
    )
    SELECT window_start, event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(CAST(sum(CAST(value AS DECIMAL(18, 6))) AS DECIMAL(28, 6))
                AS DOUBLE) AS total_value
    FROM w GROUP BY window_start, event_type
    """,
    tags=("A", "window", "hopping", "streaming-adjacent"),
)
def a21_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) windows via Spark's NATIVE window() operator —
    24 h windows every 6 h, so each event lands in exactly 4 windows.
    The oracle expands the same 4 epoch-aligned starts arithmetically.
    Complements a13's tumbling windows; the same expression drives the
    Structured Streaming hopping aggregation."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window(F.col("ts"), "24 hours", "6 hours"), F.col("event_type")
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("decimal(28,6)")
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


@register(
    "a19_approx_percentile",
    oracle="""
    SELECT event_type,
           quantile_cont(value, 0.5) AS median_exact,
           TRUE AS gk_rank_ok
    FROM events GROUP BY event_type
    """,
    tags=("A", "sketch", "quantile"),
)
def a19_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile sketching: percentile_approx (Greenwald-Khanna, accuracy
    a → rank error ε = n/a) next to the exact interpolated median. The
    GK guarantee — the returned element's RANK lies within ±εn of the
    target — is checked exactly by recounting the element's rank against
    the full column, and the oracle pins the flag TRUE. At 100 TB the
    exact quantile needs a full sort; the sketch is one pass, fixed
    memory, mergeable."""
    acc = 1000
    ev = load(spark, sf_dir, "events")
    apx = ev.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, acc).alias("__apx"),
        F.expr("percentile(value, 0.5)").alias("median_exact"),
        F.count("*").alias("__n"),
    )
    ranks = (
        ev.join(F.broadcast(apx), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum((F.col("value") < F.col("__apx")).cast("long")).alias("__lt"),
            F.sum((F.col("value") <= F.col("__apx")).cast("long")).alias("__le"),
        )
    )
    # integer rank bounds (the GK guarantee is on ranks): the returned
    # element's feasible rank interval [__lt+1, __le] must intersect
    # [floor((p-ε)n), ceil((p+ε)n)]
    eps_n = F.col("__n").cast("double") / acc
    target = 0.5 * F.col("__n").cast("double")
    ok = (F.col("__le") >= F.floor(target - eps_n)) & (
        F.col("__lt") + 1 <= F.ceil(target + eps_n)
    )
    return (
        apx.join(ranks, "event_type")
        .select("event_type", "median_exact", ok.alias("gk_rank_ok"))
    )


@register(
    "a20_heavy_hitters",
    oracle=f"""
    WITH toks AS (
        SELECT unnest({_TOKS}) AS token FROM documents
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_tok FROM toks)
    SELECT token, CAST(count(*) AS BIGINT) AS cnt, TRUE AS in_sketch
    FROM toks CROSS JOIN n
    GROUP BY token, n_tok
    HAVING count(*) * 50 > n_tok
    """,
    tags=("A", "sketch", "heavy-hitters"),
)
def a20_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters: exact tokens with frequency > 2% of the stream,
    each checked against stat.freqItems (distributed Karp misra-gries
    style summary). The sketch's NO-FALSE-NEGATIVE guarantee — every
    item above the support threshold appears — holds for any partition
    layout, so the flag is deterministically TRUE even though the
    sketch's false-positive set is not. Exact side is one groupBy with
    map-side partials; the sketch is one pass, fixed memory."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(tx.tokens(F.col("text"))).alias("token")
    )
    n_tok = toks.count()
    hh = (
        toks.groupBy("token")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .where(F.col("cnt") * 50 > F.lit(n_tok))
    )
    sketch = list(toks.stat.freqItems(["token"], 0.02).first()[0])
    in_sketch = (
        F.col("token").isin(sketch) if sketch else F.lit(False)
    )
    return hh.select("token", "cnt", in_sketch.alias("in_sketch"))


_IV_N = 20
_IV_STEP_H = 36
_IV_LEN_H = 18


@register(
    "j13_range_interval_join",
    oracle=f"""
    WITH iv AS (
        SELECT CAST(i AS BIGINT) AS interval_id,
               TIMESTAMP '2024-01-01 00:00:00'
                   + INTERVAL ({_IV_STEP_H}) HOUR * i AS start_ts,
               TIMESTAMP '2024-01-01 00:00:00'
                   + INTERVAL ({_IV_STEP_H}) HOUR * i
                   + INTERVAL ({_IV_LEN_H}) HOUR AS end_ts
        FROM range({_IV_N}) r(i)
    )
    SELECT e.event_id, iv.interval_id
    FROM events e JOIN iv
      ON e.ts >= iv.start_ts AND e.ts < iv.end_ts
    """,
    tags=("J13", "range-join", "binned"),
)
def j13_range_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless interval-containment join via fixed-width time binning —
    the equi-join rewrite of the range join Spark would otherwise run as
    BroadcastNestedLoopJoin (and as a cartesian product once the interval
    side outgrows broadcast). See operators.joins.binned_interval_join."""
    ev = load(spark, sf_dir, "events").select("event_id", "ts")
    base_us = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z
    step_us = _IV_STEP_H * 3600 * 1_000_000
    len_us = _IV_LEN_H * 3600 * 1_000_000
    iv = spark.range(_IV_N).select(
        F.col("id").alias("interval_id"),
        F.timestamp_micros(F.lit(base_us) + F.col("id") * F.lit(step_us)).alias(
            "start_ts"
        ),
        F.timestamp_micros(
            F.lit(base_us) + F.col("id") * F.lit(step_us) + F.lit(len_us)
        ).alias("end_ts"),
    )
    out = jn.binned_interval_join(ev, iv, "ts")
    return out.select("event_id", "interval_id")


@register(
    "t_ngram_lm_perplexity",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    tr AS (SELECT * FROM t WHERE doc_id % 5 != 0),
    sc AS (SELECT * FROM t WHERE doc_id % 5 = 0),
    tg_tr AS (
        SELECT t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3
        FROM tr, unnest(range(1, len(t) - 1)) AS r(i)
        WHERE len(t) >= 3
    ),
    tri AS (SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c123
            FROM tg_tr GROUP BY 1, 2, 3),
    bg_tr AS (
        SELECT t[i] AS w1, t[i + 1] AS w2
        FROM tr, unnest(range(1, len(t))) AS r(i)
        WHERE len(t) >= 2
    ),
    bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
           FROM bg_tr GROUP BY 1, 2),
    toks_tr AS (SELECT unnest(t) AS w FROM tr),
    uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM toks_tr GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tok FROM toks_tr),
    tg AS (
        SELECT doc_id, CAST(i AS INTEGER) AS pos,
               t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3
        FROM sc, unnest(range(1, len(t) - 1)) AS r(i)
        WHERE len(t) >= 3
    ),
    j AS (
        SELECT tg.doc_id, tg.pos,
               CASE WHEN tri.c123 IS NOT NULL
                    THEN CAST(tri.c123 AS DOUBLE) / CAST(bi.c12 AS DOUBLE)
                    WHEN b2.c12 IS NOT NULL
                    THEN 0.4 * CAST(b2.c12 AS DOUBLE) / CAST(u2.c AS DOUBLE)
                    ELSE 0.4 * 0.4 * CAST(coalesce(u3.c, 0) AS DOUBLE)
                         / CAST(tot.n_tok AS DOUBLE)
               END AS p,
               (tri.c123 IS NOT NULL) AS tri_hit,
               (tri.c123 IS NULL AND b2.c12 IS NOT NULL) AS bi_backoff
        FROM tg
        LEFT JOIN tri ON tri.w1 = tg.w1 AND tri.w2 = tg.w2 AND tri.w3 = tg.w3
        LEFT JOIN bi ON bi.w1 = tg.w1 AND bi.w2 = tg.w2
        LEFT JOIN bi b2 ON b2.w1 = tg.w2 AND b2.w2 = tg.w3
        LEFT JOIN uni u2 ON u2.w = tg.w2
        LEFT JOIN uni u3 ON u3.w = tg.w3
        CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_trigrams,
           CAST(sum(CASE WHEN tri_hit THEN 1 ELSE 0 END) AS BIGINT)
               AS n_tri_hits,
           CAST(sum(CASE WHEN bi_backoff THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bigram_backoffs,
           list_reduce(list_prepend(0.0, list(p ORDER BY pos)),
                       (x, y) -> x + y)
               / CAST(count(*) AS DOUBLE) AS mean_p
    FROM j GROUP BY doc_id
    """,
    tags=("text", "lm", "backoff", "pipeline"),
)
def t_ngram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out trigram stupid-backoff scoring (Brants et al. 2007): the
    model trains on 80% of the corpus (doc_id % 5 != 0) and scores the
    held-out 20%, so unseen trigrams genuinely exercise the bigram and
    unigram backoff levels. Mean probability, not log-perplexity — rank-
    equivalent and exactly portable (operators.lm module docstring)."""
    docs = load(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 5 != 0)
    score = docs.where(F.col("doc_id") % 5 == 0)
    return lm.trigram_backoff_scores(train, score, "doc_id")


@register(
    "stream_interval_counts",
    oracle=f"""
    WITH iv AS (
        SELECT CAST(i AS BIGINT) AS interval_id,
               TIMESTAMP '2024-01-01 00:00:00'
                   + INTERVAL ({_IV_STEP_H}) HOUR * i AS start_ts,
               TIMESTAMP '2024-01-01 00:00:00'
                   + INTERVAL ({_IV_STEP_H}) HOUR * i
                   + INTERVAL ({_IV_LEN_H}) HOUR AS end_ts
        FROM range({_IV_N}) r(i)
    )
    SELECT iv.interval_id, CAST(count(*) AS BIGINT) AS n_events
    FROM events e JOIN iv
      ON e.ts >= iv.start_ts AND e.ts < iv.end_ts
    GROUP BY iv.interval_id
    """,
    tags=("Str", "stream-static", "J13"),
)
def stream_interval_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join: the events stream equi-joins the static binned
    interval table (stateless — no watermark, no stream-side state; the
    static side is just a broadcast per micro-batch), then aggregates per
    interval in COMPLETE mode under trigger(availableNow). The streamed
    result must equal the batch range-join SQL bit-for-bit — the
    streaming twin of j13_range_interval_join with a real oracle row.
    This is the maintenance-window / blackout-tagging shape run as a
    continuous pipeline at scale."""
    from burst_db_spark.streaming import incremental as st

    src = load(spark, sf_dir, "events").select("event_id", "ts")
    tmp = tmpdir("bds_stream_iv_")
    data_dir = f"{tmp}/in"
    src.write.parquet(data_dir)
    stream = st.file_stream(spark, data_dir, src.schema)

    base_us = 1_704_067_200 * 1_000_000
    step_us = _IV_STEP_H * 3600 * 1_000_000
    len_us = _IV_LEN_H * 3600 * 1_000_000
    iv = spark.range(_IV_N).select(
        F.col("id").alias("interval_id"),
        F.timestamp_micros(F.lit(base_us) + F.col("id") * F.lit(step_us)).alias(
            "start_ts"
        ),
        F.timestamp_micros(
            F.lit(base_us) + F.col("id") * F.lit(step_us) + F.lit(len_us)
        ).alias("end_ts"),
    )
    joined = jn.binned_interval_join(stream, iv, "ts")
    agg = joined.groupBy("interval_id").agg(
        F.count("*").cast("bigint").alias("n_events")
    )
    return drain(agg, tmp)


@register(
    "t_bpe_encode",
    # HASH-CHECKED since build round 13 (VERDICT r12 #5): 3 batched
    # rounds unroll into CTEs, the symbol-disjoint acceptance replays as
    # a recursive CTE over the top-16 candidates, and the final training
    # state IS the encoding (plans/bpe_oracle.py). Also pinned by the
    # cross-implementation pytest and the concat-reconstruction
    # invariant.
    oracle=_bpe_encode_oracle_sql(12, 4),
    tags=("text", "tokenizer", "bpe"),
)
def t_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION: train 12 BPE merges (batched recounts),
    then encode the corpus word-type table with them — word types only
    (Heaps-law bounded), the way a 100 TB corpus is tokenized once per
    distinct word. Output: word, piece count, and the fertility-audit
    pieces string."""
    from burst_db_spark.operators.bpe import encode_words, train_bpe, word_types

    docs = load(spark, sf_dir, "documents")
    merges = train_bpe(docs, n_merges=12, batch_size=4)
    wt = word_types(docs)
    enc = encode_words(wt, merges)
    return enc.select(
        "word",
        F.col("n").alias("word_count"),
        F.size("pieces").cast("int").alias("n_pieces"),
        F.concat_ws(" ", "pieces").alias("pieces_str"),
    )


def _minhash_pair_ctes(restrict: str | None, threshold: float = 0.5) -> str:
    """DuckDB CTE chain (appended after ``sh`` from _SHINGLES_CTE) ending
    in ``lsh_pairs(id_a, id_b)`` — the exact twin of
    operators.dedup.minhash_lsh_dedup (same md5 seeds, same 4×4 banding).
    ``restrict``: name of a CTE with a doc_id column to limit the corpus.
    """
    nh, br = dd.NUM_HASHES, dd.BAND_ROWS
    n_bands = nh // br
    src = (
        "sh"
        if restrict is None
        else f"(SELECT s.doc_id, s.shingle FROM sh s "
        f"JOIN {restrict} USING (doc_id))"
    )
    h_cols = ",\n           ".join(
        f"min(CAST(('0x' || substr(md5('{j // 4}:' || shingle), "
        f"{1 + 8 * (j % 4)}, 8)) AS BIGINT)) AS h{j}"
        for j in range(nh)
    )
    band_cols = ",\n           ".join(
        "md5(concat_ws(','"
        + "".join(f", CAST(h{b * br + r} AS VARCHAR)" for r in range(br))
        + f")) AS band{b}"
        for b in range(n_bands)
    )
    band_joins = "\n        UNION ALL\n".join(
        f"        SELECT l.doc_id AS id_a, r.doc_id AS id_b FROM bands l "
        f"JOIN bands r ON l.band{b} = r.band{b} AND l.doc_id < r.doc_id"
        for b in range(n_bands)
    )
    agree = " + ".join(
        f"CASE WHEN a.h{j} = b.h{j} THEN 1 ELSE 0 END" for j in range(nh)
    )
    return f"""
    sig AS (
        SELECT doc_id,
           {h_cols}
        FROM {src} AS s2 GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id,
           {band_cols}
        FROM sig
    ),
    cand AS (
        SELECT DISTINCT id_a, id_b FROM (
{band_joins}
        )
    ),
    lsh_pairs AS (
        SELECT c.id_a, c.id_b
        FROM cand c
        JOIN sig a ON a.doc_id = c.id_a
        JOIN sig b ON b.doc_id = c.id_b
        WHERE ({agree}) / {float(nh)} >= {threshold}
    )"""


@register(
    "dd_lsh_cluster_dedup",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    {_minhash_pair_ctes(None)},
    edges AS (SELECT id_a AS src, id_b AS dst FROM lsh_pairs
              UNION SELECT id_b, id_a FROM lsh_pairs),
    reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    assign AS (SELECT src AS doc_id, min(dst) AS cluster_id
               FROM reach GROUP BY src)
    SELECT cluster_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) - 1 AS BIGINT) AS n_removed
    FROM assign GROUP BY cluster_id
    """,
    tags=("dedup", "lsh", "clustering", "pipeline"),
)
def dd_lsh_cluster_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end sketch-based dedup: MinHash+LSH candidate pairs →
    min-label connected components → per-cluster survivor summary (the
    cluster_id IS the surviving min doc_id). This is the whole
    deduplicate-a-corpus flow on the sub-quadratic scale path — banded
    equi-joins and O(log diameter) label rounds, no all-pairs anywhere."""
    docs = load(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_dedup(docs, "doc_id", threshold=0.5)
    cc = dd.connected_components(pairs, docs, "doc_id")
    return cc.groupBy("cluster_id").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        (F.count("*") - 1).cast("bigint").alias("n_removed"),
    )


@register(
    "dd_lsh_quality_audit",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    {_minhash_pair_ctes(None)},
    shf AS (
        SELECT * FROM sh WHERE shingle IN (
            SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 50)
    ),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
              FROM shf GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(count(*) AS BIGINT) AS common
        FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    exact_pairs AS (
        SELECT id_a, id_b FROM common
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE common / (sa.n_sh + sb.n_sh - common) >= 0.5
    ),
    hits AS (SELECT * FROM exact_pairs INTERSECT SELECT * FROM lsh_pairs)
    SELECT CAST((SELECT count(*) FROM lsh_pairs) AS BIGINT) AS n_lsh,
           CAST((SELECT count(*) FROM exact_pairs) AS BIGINT) AS n_exact,
           CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_common,
           CAST((SELECT count(*) FROM hits) AS DOUBLE)
               / CAST((SELECT count(*) FROM exact_pairs) AS DOUBLE)
               AS recall
    """,
    tags=("dedup", "lsh", "audit"),
)
def dd_lsh_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRIVER-CHECKED sketch quality: MinHash-LSH near-dup pairs
    (est_sim ≥ 0.5) measured against the exact 3-gram-Jaccard ≥ 0.5 pair
    set — n_lsh / n_exact / n_common and the recall ratio as one audited
    row. Recall claims for the 100 TB dedup path stop being a
    pytest-only assertion and land in the correctness gate. The exact
    side runs the df≤50 guarded audit path; the LSH side is the
    production banded join."""
    docs = load(spark, sf_dir, "documents")
    # Optimization r14 wave 12 (guide §2.3 + §2.6): each pair frame feeds
    # THREE consumers (its count, the intersect, and — for exact — the
    # recall denominator), and the consumers run as parallel stages of
    # ONE job, so a lazy persist races (the g3/g5 lesson) and the
    # post-cache join work re-ran 3× per side. Persist the pair-count-
    # sized frames and materialize them eagerly, the two independent
    # pipelines overlapped in driver threads (the bcubed/cascade device).
    # Pair sets are deterministic → the audit row is identical. The
    # operator caches behind both pair frames stay live until the query's
    # scope exits.
    from concurrent.futures import ThreadPoolExecutor

    lsh = persist(
        dd.minhash_lsh_dedup(docs, "doc_id", threshold=0.5).select("id_a", "id_b")
    )
    exact = persist(
        dd.ngram_jaccard_pairs(docs, "doc_id", threshold=0.5, max_df=50).select(
            "id_a", "id_b"
        )
    )
    with ThreadPoolExecutor(max_workers=2) as pool:
        fa, fb = pool.submit(lsh.count), pool.submit(exact.count)
        fa.result(), fb.result()
    hits = exact.intersect(lsh)
    n = (
        lsh.agg(F.count("*").alias("n_lsh"))
        .crossJoin(exact.agg(F.count("*").alias("n_exact")))
        .crossJoin(hits.agg(F.count("*").alias("n_common")))
    )
    return n.select(
        F.col("n_lsh").cast("bigint").alias("n_lsh"),
        F.col("n_exact").cast("bigint").alias("n_exact"),
        F.col("n_common").cast("bigint").alias("n_common"),
        (
            F.col("n_common").cast("double") / F.col("n_exact").cast("double")
        ).alias("recall"),
    )


@register(
    "t_docs_minhash_pipeline",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    q AS (
        SELECT doc_id,
               CASE WHEN len({_TOKS}) < 5 THEN 0.0
                    ELSE 1.0 - least(1.0,
                         length(regexp_replace(text, '[^.!?,;]', '', 'g'))
                         / greatest(len({_TOKS}), 1))
               END AS quality_score
        FROM documents
    ),
    kept0 AS (SELECT doc_id FROM q WHERE quality_score >= 0.5),
    kept1 AS (
        SELECT min(d.doc_id) AS doc_id
        FROM documents d JOIN kept0 USING (doc_id)
        GROUP BY md5(lower(trim(d.text)))
    ),
    {_minhash_pair_ctes("kept1")},
    edges AS (SELECT id_a AS src, id_b AS dst FROM lsh_pairs
              UNION SELECT id_b, id_a FROM lsh_pairs),
    reach(src, dst) AS (
        SELECT doc_id, doc_id FROM kept1
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    assign AS (SELECT src AS doc_id, min(dst) AS cluster_id
               FROM reach GROUP BY src),
    kept2 AS (SELECT doc_id FROM assign WHERE doc_id = cluster_id)
    SELECT d.lang, d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens
    FROM documents d JOIN kept2 USING (doc_id)
    GROUP BY d.lang, d.source
    """,
    tags=("text", "dedup", "pipeline", "composition"),
)
def t_docs_minhash_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus-clean composition a training-data pipeline runs:
    quality gate (score ≥ 0.5) → exact dedup (min doc_id per content
    digest) → fuzzy dedup (MinHash-LSH clusters, min-id survivor) →
    per-(lang, source) doc/token accounting. Every stage is the scale
    path of its standalone query; stages chain without materialization
    so Catalyst sees one plan."""
    docs = load(spark, sf_dir, "documents")
    q = tx.quality_features(docs.select("doc_id", "text"))
    kept0 = q.where(F.col("quality_score") >= 0.5).select("doc_id")
    d0 = docs.join(kept0, "doc_id", "left_semi")
    kept1 = (
        dd.exact_duplicates(d0, "doc_id")
        .select(F.col("keep_id").alias("doc_id"))
    )
    # Optimization r14 (guide §2.3): d1 (quality gate + exact dedup)
    # feeds the eager LSH+CC build AND the final plan's vertex side —
    # uncached, both stages re-ran per reference. Persist once
    # (deterministic survivor set, identical rows).
    d1 = persist(docs.join(kept1, "doc_id", "left_semi"))
    pairs = dd.minhash_lsh_dedup(d1, "doc_id", threshold=0.5)
    cc = dd.connected_components(pairs, d1, "doc_id")
    kept2 = cc.where(F.col("doc_id") == F.col("cluster_id")).select("doc_id")
    return (
        docs.join(kept2, "doc_id", "left_semi")
        .select("lang", "source", tx.token_count(F.col("text")).alias("__nt"))
        .groupBy("lang", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("__nt").cast("bigint").alias("n_tokens"),
        )
    )
