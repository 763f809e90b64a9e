"""Composite + remaining relational queries: the EP2 pipeline shape,
dissolve-style multi-agg, GROUP BY ALL, pivot, per-key missing-date
expansion (the F4 UDTF collapses to sequence+anti-join), JSON props.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from burst_db_spark.catalog import load
from burst_db_spark.operators import filters as flt
from burst_db_spark.registry import register


@register(
    "ep2_burst_catalog",
    oracle="""
    WITH dedup AS (
        SELECT user_id, event_type, CAST(ts AS DATE) AS day,
               max(event_id) AS event_id,
               max_by(ts, event_id) AS ts,
               max_by(value, event_id) AS value
        FROM events GROUP BY user_id, event_type, CAST(ts AS DATE)
    ),
    dim AS (SELECT c_custkey, c_mktsegment FROM customer),
    joined AS (
        SELECT d.*, m.c_mktsegment
        FROM dedup d JOIN dim m ON d.user_id = m.c_custkey
        WHERE m.c_mktsegment IN ('MACHINERY', 'BUILDING', 'AUTOMOBILE')
    ),
    per_day AS (
        SELECT user_id, day,
               date_trunc('second', min(ts)) AS first_ts,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(CAST(sum(CAST(value AS DECIMAL(18, 6))) AS DECIMAL(28, 6))
                    AS DOUBLE) AS total_value
        FROM joined GROUP BY user_id, day
    ),
    iv AS (
        SELECT user_id, min(day) + 7 AS bl_start, min(day) + 13 AS bl_end
        FROM per_day GROUP BY user_id
    )
    SELECT p.user_id, p.day, p.first_ts, p.n_events, p.total_value
    FROM per_day p
    WHERE NOT EXISTS (
        SELECT 1 FROM iv WHERE iv.user_id = p.user_id
          AND p.day >= iv.bl_start AND p.day <= iv.bl_end
    )
    """,
    tags=("EP2", "pipeline", "flagship"),
)
def ep2_burst_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The make-burst-catalog pipeline shape end-to-end
    (create_cslc_burst_catalog.py:355-395): dedup-latest → broadcast dim
    join + fetch filter → per-(key,day) earliest + floor-to-second →
    blackout anti-join. Events play the CMR survey; customers the frame
    dim; a derived per-user window plays the blackout table."""
    ev = load(spark, sf_dir, "events")
    cust = load(spark, sf_dir, "customer")

    dedup = (
        ev.withColumn("day", F.to_date("ts"))
        .groupBy("user_id", "event_type", "day")
        .agg(
            F.max("event_id").alias("event_id"),
            F.max_by("ts", F.col("event_id")).alias("ts"),
            F.max_by("value", F.col("event_id")).alias("value"),
        )
    )
    dim = cust.select("c_custkey", "c_mktsegment")
    joined = dedup.join(
        F.broadcast(dim), dedup.user_id == dim.c_custkey
    ).where(F.col("c_mktsegment").isin("MACHINERY", "BUILDING", "AUTOMOBILE"))
    # decimal sum: the input rows come out of a prior shuffle, so a DOUBLE
    # sum would be order-dependent across engines (last-ulp drift); decimal
    # addition is associative. The FINAL value is cast to double on both
    # engine sides — the exact decimal rounds to the same double bits, and
    # double survives the driver's pandas-level hasher (Decimal objects
    # canonicalize differently between Spark and DuckDB).
    per_day = joined.groupBy("user_id", "day").agg(
        F.date_trunc("second", F.min("ts")).alias("first_ts"),
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("decimal(28,6)")
        .cast("double")
        .alias("total_value"),
    )
    iv = per_day.groupBy("user_id").agg(
        F.date_add(F.min("day"), 7).alias("bl_start"),
        F.date_add(F.min("day"), 13).alias("bl_end"),
    )
    return flt.anti_join_intervals(
        per_day, iv, "user_id", "day", "bl_start", "bl_end"
    ).select("user_id", "day", "first_ts", "n_events", "total_value")


@register(
    "a2_dissolve_multiagg",
    oracle="""
    SELECT l_partkey,
           min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok,
           string_agg(DISTINCT l_returnflag, ',' ORDER BY l_returnflag) AS flags,
           max_by(l_suppkey, l_orderkey * 100 + l_linenumber) AS last_supp,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_partkey
    """,
    tags=("A2", "F2"),
)
def a2_dissolve_multiagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dissolve-style multi-agg: min/max ids + sorted distinct concat +
    value-at-max (build_frame_db.py:63-89 minus the geometry union, which
    lives in the geo kernel)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_partkey").agg(
        F.min("l_orderkey").alias("min_ok"),
        F.max("l_orderkey").alias("max_ok"),
        F.concat_ws(",", F.sort_array(F.collect_set("l_returnflag"))).alias("flags"),
        F.max_by(
            "l_suppkey", F.col("l_orderkey") * 100 + F.col("l_linenumber")
        ).alias("last_supp"),
        F.count("*").alias("n"),
    )


@register(
    "group_by_all",
    oracle="""
    SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY ALL
    """,
    tags=("A-groupbyall",),
)
def group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL (example-queries.sql:76-79) via Spark SQL (3.4+)."""
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
               count(*) AS n
        FROM {lineitem} GROUP BY ALL
        """,
        lineitem=load(spark, sf_dir, "lineitem"),
    )


@register(
    "pivot_by_type",
    oracle="""
    SELECT user_id,
           CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
           CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
           CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
           CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
    FROM events GROUP BY user_id
    """,
    tags=("pivot",),
)
def pivot_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide counts). Explicit value list so Spark skips the
    extra distinct-values job and the output schema is deterministic."""
    ev = load(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
        .na.fill(0)
    )
    return out


@register(
    "f4_missing_dates",
    oracle="""
    WITH span AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
        FROM events GROUP BY user_id
    ),
    expected AS (
        SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        FROM span
    ),
    observed AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
    SELECT e.user_id, e.day AS missing_day
    FROM expected e
    WHERE NOT EXISTS (
        SELECT 1 FROM observed o WHERE o.user_id = e.user_id AND o.day = e.day
    )
    """,
    tags=("F4", "UDTF"),
)
def f4_missing_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The missing-data-options UDTF collapses relationally: per key,
    expected calendar = sequence(min,max), missing = anti-join observed
    (create_cslc_burst_catalog.py:241-265's core question)."""
    ev = load(spark, sf_dir, "events")
    span = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    expected = span.select(
        "user_id",
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day"),
    )
    observed = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    return expected.join(observed, ["user_id", "day"], "left_anti").select(
        "user_id", F.col("day").alias("missing_day")
    )


@register(
    "f_json_props",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS INTEGER) AS k,
           CAST(json_extract(props, '$.k') AS INTEGER) // 10 AS k_bucket
    FROM events
    """,
    tags=("F-json",),
)
def f_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON document traversal as columns (utils.py:11-24 /
    query_historical_bursts.py:33-36 family): extract + derive."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.select(
        "event_id",
        k.alias("k"),
        F.floor(k / 10).cast("bigint").alias("k_bucket"),
    )
