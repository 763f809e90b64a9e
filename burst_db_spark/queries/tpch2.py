"""Round-5b: the ten TPC-H query shapes the suite was still missing
(Q2, Q6, Q7, Q8, Q9, Q11, Q13, Q14, Q15, Q19), completing all 22.

The synthetic star schema (TESTDATA.md) has no ``partsupp`` table and no
``l_commitdate`` / ``p_container`` / ``p_mfgr`` columns, so the flavors
adapt while keeping each query's SHAPE — the thing the optimizer
evidence is about:

- Q2/Q11/Q20 family: the part↔supplier relation is derived from the
  fact table (``SELECT DISTINCT l_partkey, l_suppkey FROM lineitem``),
  and ``s_acctbal`` / line revenue stand in for supply cost.
- Q9's supply cost proxy is ``0.9 * p_retailprice * l_quantity``.
- Date predicates use the synthetic 1995–2001 order-date range.

Unlike the round-5 correlated trio (run via ``spark.sql`` for
decorrelation evidence), these are written DataFrame-first: windows
instead of correlated scalars where the window is the better physical
plan, explicit broadcast of filtered dims, conditional aggregation via
``F.when``.

Determinism: money sums cross shuffles as DECIMAL(18,6)→DECIMAL(28,6)
on both engines; ratios divide the exact decimal sums only after the
final cast to double (identical IEEE ops both sides); every ORDER BY
carries a unique tie-break.

Reference parity: the reference has no TPC-H suite — these extend the
analytics surface the same way its query helpers
(reference src/burst_db/utils.py, historical_bursts.py) compose scans,
joins, and aggregates over its star-ish tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from burst_db_spark.catalog import load
from burst_db_spark.queries.round4 import _REV_SQL, _rev_spark
from burst_db_spark.registry import register

# decimal-exact money fold (suite-wide convention) -------------------------


def _dec_sum_sql(expr: str) -> str:
    return (
        f"CAST(CAST(sum(CAST({expr} AS DECIMAL(18, 6))) "
        "AS DECIMAL(28, 6)) AS DOUBLE)"
    )


def _dec_sum(col: F.Column) -> F.Column:
    return F.sum(col.cast("decimal(18,6)")).cast("decimal(28,6)").cast("double")


# ---------------------------------------------------------------------------
# Q2 flavor: best supplier per part — derived supply dim + per-part max


@register(
    "q2_min_cost_supplier",
    oracle="""
    WITH supply AS (
        SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    ), euro AS (
        SELECT s_suppkey, s_acctbal, s_name, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name
    FROM part, supply, euro
    WHERE p_partkey = l_partkey
      AND s_suppkey = l_suppkey
      AND p_size = 15
      AND s_acctbal = (
          SELECT max(e2.s_acctbal)
          FROM supply s2, euro e2
          WHERE s2.l_partkey = p_partkey
            AND e2.s_suppkey = s2.l_suppkey
      )
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
    tags=("TPCH", "Q2", "window-vs-correlated", "derived-dim"),
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 flavor: for each size-15 part, the EUROPE supplier(s)
    with the best (max) account balance among its suppliers. The supply
    relation is derived from lineitem (one distinct = one shuffle); the
    oracle's correlated scalar max is expressed as a window max over
    partkey — same partitioning the part join already needs, so the
    window adds no extra exchange. Supplier⋈nation⋈region stays a
    broadcast chain (dims)."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").where(F.col("p_size") == 15)
    sup = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")

    euro = (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    # Both dim filters semi-reduce the fact BEFORE the distinct, so the
    # dedup exchange moves ~2% of the (part, supplier) pairs instead of
    # every lineitem row; the window max then replaces the oracle's
    # correlated subquery without a self-join.
    supply = (
        li.select("l_partkey", "l_suppkey")
        .join(F.broadcast(part.select("p_partkey")), F.col("l_partkey") == F.col("p_partkey"))
        .drop("p_partkey")
        .join(F.broadcast(euro.select("s_suppkey")), F.col("l_suppkey") == F.col("s_suppkey"))
        .drop("s_suppkey")
        .distinct()
    )
    joined = supply.join(
        F.broadcast(euro), supply.l_suppkey == euro.s_suppkey
    ).join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
    w = Window.partitionBy("l_partkey")
    return (
        joined.withColumn("__max_bal", F.max("s_acctbal").over(w))
        .where(F.col("s_acctbal") == F.col("__max_bal"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Q6 flavor: single-scan predicate aggregate


@register(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT {_dec_sum_sql('l_extendedprice * l_discount')} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("TPCH", "Q6", "scan-agg", "pushdown"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan→filter→agg. Every predicate (two timestamp
    bounds, a double range, a quantity cap) must reach the parquet
    PushedFilters; the plan is a single WholeStageCodegen with a partial
    HashAggregate before the one exchange."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _dec_sum(F.col("l_extendedprice") * F.col("l_discount")).alias(
                "revenue"
            )
        )
    )


# ---------------------------------------------------------------------------
# Q7 flavor: bidirectional nation-pair trade volume by year


@register(
    "q7_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           {_dec_sum_sql('volume')} AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INTEGER) AS l_year,
               l_extendedprice * (1 - l_discount) AS volume
        FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    tags=("TPCH", "Q7", "multi-join", "disjunctive-dim-filter"),
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: trade volume between two nations, both directions, by
    ship year. The join ORDER is the optimization Catalyst can't derive
    on its own (the nation membership is data-dependent): suppliers and
    customers semi-reduce against the 2-nation dim FIRST (each to ~2/25
    of their rows), orders semi-reduces through the filtered customers,
    and only then does the date-pruned fact join — so every exchange
    moves pre-reduced rows. The residual pair disjunction trims the
    (N1,N1)/(N2,N2) combos after both nations are attached. No hint on
    the orders join: AQE broadcasts the reduced side at small SF and
    degrades to a shuffle join at scale."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    sup = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    n1 = nat.select(
        F.col("n_nationkey").alias("__n1key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nat.select(
        F.col("n_nationkey").alias("__n2key"), F.col("n_name").alias("cust_nation")
    )
    sup_f = sup.join(F.broadcast(n1), sup.s_nationkey == F.col("__n1key")).select(
        "s_suppkey", "supp_nation"
    )
    cust_f = cust.join(F.broadcast(n2), cust.c_nationkey == F.col("__n2key")).select(
        "c_custkey", "cust_nation"
    )
    # no broadcast hint on cust_f: customers are user-sized; AQE
    # broadcasts the 2-nation slice while it's small, degrades to a
    # shuffle join at scale (the r4-verdict w11/a23 rule).
    orders_f = orders.join(
        cust_f, orders.o_custkey == cust_f.c_custkey
    ).select("o_orderkey", "cust_nation")
    pair = (F.col("supp_nation") == "NATION_1") & (
        F.col("cust_nation") == "NATION_2"
    ) | (F.col("supp_nation") == "NATION_2") & (
        F.col("cust_nation") == "NATION_1"
    )
    return (
        li.join(F.broadcast(sup_f), li.l_suppkey == sup_f.s_suppkey)
        .join(orders_f, li.l_orderkey == orders_f.o_orderkey)
        .where(pair)
        .withColumn("l_year", F.year("l_shipdate").cast("int"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(_rev_spark().alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# ---------------------------------------------------------------------------
# Q8 flavor: national market share within a region


@register(
    "q8_market_share",
    oracle=f"""
    SELECT o_year,
           {_dec_sum_sql('nation_volume')} / {_dec_sum_sql('volume')}
               AS mkt_share
    FROM (
        SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
               l_extendedprice * (1 - l_discount) AS volume,
               CASE WHEN n2.n_name = 'NATION_3'
                    THEN l_extendedprice * (1 - l_discount)
                    ELSE 0.0 END AS nation_volume
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'ASIA'
          AND p_type = 'PROMO'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
    tags=("TPCH", "Q8", "conditional-agg", "market-share"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: NATION_3's share of PROMO-part revenue sold into ASIA,
    per order year. Share = ratio of two decimal-exact sums divided
    after the cast to double (identical IEEE division on both engines).
    part/supplier/nation/region all broadcast; the conditional numerator
    is an F.when inside the same aggregate — one pass, one exchange."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    sup = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    )
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n1 = nat.select(
        F.col("n_nationkey").alias("__c_nkey"),
        F.col("n_regionkey").alias("__c_rkey"),
    )
    n2 = nat.select(
        F.col("n_nationkey").alias("__s_nkey"),
        F.col("n_name").alias("supp_nation"),
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("__c_nkey"))
        .join(F.broadcast(reg), F.col("__c_rkey") == reg.r_regionkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(n2), sup.s_nationkey == F.col("__s_nkey"))
        .withColumn("o_year", F.year("o_orderdate").cast("int"))
        .groupBy("o_year")
        .agg(
            (
                _dec_sum(
                    F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(
                        F.lit(0.0)
                    )
                )
                / _dec_sum(vol)
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# ---------------------------------------------------------------------------
# Q9 flavor: product-line profit by supplier nation and year


@register(
    "q9_product_profit",
    oracle=f"""
    SELECT nation, o_year, {_dec_sum_sql('amount')} AS sum_profit
    FROM (
        SELECT n_name AS nation,
               CAST(year(o_orderdate) AS INTEGER) AS o_year,
               l_extendedprice * (1 - l_discount)
                   - 0.9 * p_retailprice * l_quantity AS amount
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%widget%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
    tags=("TPCH", "Q9", "profit", "like-filter"),
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 flavor: profit on widget parts by supplier nation and
    order year. Supply cost proxies as 0.9·p_retailprice·l_quantity
    (no partsupp table). The LIKE filter prunes part before its
    broadcast; profit arithmetic runs in double with the identical
    expression tree on both engines, then folds decimal-exact."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").where(F.col("p_name").like("%widget%"))
    sup = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders")
    nat = load(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(
        0.9
    ) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(_dec_sum(F.col("amount")).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


# ---------------------------------------------------------------------------
# Q11 flavor: important stock — HAVING vs an uncorrelated scalar subquery


@register(
    "q11_important_stock",
    oracle=f"""
    WITH natline AS (
        SELECT l_partkey, l_extendedprice, l_quantity
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_5'
    )
    SELECT l_partkey AS partkey,
           {_dec_sum_sql('l_extendedprice * l_quantity')} AS stock_value
    FROM natline
    GROUP BY l_partkey
    HAVING {_dec_sum_sql('l_extendedprice * l_quantity')} > (
        SELECT 0.001 * {_dec_sum_sql('l_extendedprice * l_quantity')}
        FROM natline
    )
    ORDER BY stock_value DESC, partkey
    """,
    tags=("TPCH", "Q11", "scalar-subquery", "having"),
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 flavor: parts whose NATION_5 line value exceeds 0.1% of
    the national total. The global total is ONE scalar (cross-join
    broadcast of a 1-row aggregate — Catalyst's decorrelation of the
    uncorrelated subquery), not a per-group recompute; the per-part agg
    and the total agg share the same filtered input."""
    li = load(spark, sf_dir, "lineitem")
    sup = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_5")
    natline = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .select("l_partkey", "l_extendedprice", "l_quantity")
    )
    value = F.col("l_extendedprice") * F.col("l_quantity")
    per_part = natline.groupBy(F.col("l_partkey").alias("partkey")).agg(
        _dec_sum(value).alias("stock_value")
    )
    total = natline.agg((F.lit(0.001) * _dec_sum(value)).alias("__thresh"))
    return (
        per_part.join(F.broadcast(total))
        .where(F.col("stock_value") > F.col("__thresh"))
        .select("partkey", "stock_value")
        .orderBy(F.desc("stock_value"), "partkey")
    )


# ---------------------------------------------------------------------------
# Q13 flavor: customer order-count distribution (outer join + double agg)


@register(
    "q13_order_count_distribution",
    oracle="""
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
        SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        FROM customer
        LEFT OUTER JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    tags=("TPCH", "Q13", "outer-join", "distribution"),
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 flavor: how many customers placed k non-urgent orders,
    including k=0 (the LEFT OUTER is the point — customers with no
    orders survive with count 0). The priority predicate lives in the
    join condition, not a WHERE (a WHERE would turn the outer join
    inner). Two aggregations: per-customer (shuffles on custkey, same
    key as the join — AQE coalesces), then the tiny distribution."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# ---------------------------------------------------------------------------
# Q14 flavor: promo revenue share in a window


@register(
    "q14_promo_revenue",
    oracle=f"""
    SELECT 100.0 * {_dec_sum_sql(
        "CASE WHEN p_type = 'PROMO' "
        "THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END"
    )} / {_dec_sum_sql('l_extendedprice * (1 - l_discount)')}
        AS promo_revenue
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01'
      AND l_shipdate < TIMESTAMP '1997-04-01'
    """,
    tags=("TPCH", "Q14", "conditional-agg", "ratio"),
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: percent of one month's revenue from PROMO parts.
    Part broadcasts (unfiltered dim, still tiny vs the fact); the
    month filter pushes to the lineitem scan; numerator and denominator
    fold in the same single aggregate pass."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-03-01")
        & (F.col("l_shipdate") < "1997-04-01")
    )
    part = load(spark, sf_dir, "part")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * _dec_sum(
                    F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0.0))
                )
                / _dec_sum(vol)
            ).alias("promo_revenue")
        )
    )


# ---------------------------------------------------------------------------
# Q15 flavor: top supplier(s) by quarterly revenue — scalar max


@register(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue0 AS (
        SELECT l_suppkey AS supplier_no,
               {_REV_SQL} AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier
    JOIN revenue0 ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue0)
    ORDER BY s_suppkey
    """,
    tags=("TPCH", "Q15", "scalar-max", "view"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the maximum one-quarter revenue.
    The per-supplier revenue aggregates once; the scalar max is a 1-row
    broadcast joined back (not a global sort, not a second scan of the
    fact). Equality on the max is exact: both sides carry the identical
    decimal-folded double. s_suppkey orders the (rare) ties."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1997-04-01")
    )
    sup = load(spark, sf_dir, "supplier")
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        _rev_spark().alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("__max_rev"))
    return (
        rev.join(F.broadcast(mx))
        .where(F.col("total_revenue") == F.col("__max_rev"))
        .join(F.broadcast(sup), F.col("supplier_no") == sup.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Q19 flavor: disjunctive multi-attribute predicate


@register(
    "q19_discounted_revenue",
    oracle=f"""
    SELECT {_REV_SQL} AS revenue
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
           AND l_quantity >= 20 AND l_quantity <= 30)
    """,
    tags=("TPCH", "Q19", "disjunction", "pushdown"),
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: revenue matching any of three (brand, size, quantity)
    conjunct groups. The cross-table disjunction can't fully push down,
    but its single-table residues can: Catalyst derives
    `l_quantity BETWEEN 1 AND 30` for lineitem and
    `p_brand IN (...) AND p_size BETWEEN 1 AND 35`-ish bounds for part
    from the OR (constraint propagation); the join stays a broadcast
    equi-join with the disjunction as a post-join filter."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    q = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & q.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & q.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 35)
            & q.between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .where(cond)
        .agg(_rev_spark().alias("revenue"))
    )
