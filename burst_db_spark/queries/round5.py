"""Round-5 queries: correlated-subquery shapes (TPC-H Q4/Q17/Q21
flavors — EXISTS, scalar subquery, EXISTS + NOT EXISTS), the derived
BPE-reconstruction oracle, watermarked append-mode streaming, and the
K6/K4 sink round-trips promoted to driver-checkable rows.

The TPC-H flavors run through ``spark.sql`` with the IDENTICAL
correlated SQL the DuckDB oracle executes (one ``{table}`` template,
formatted with frames for Spark and with plain table names for DuckDB) — the point is decorrelation
evidence: Catalyst must rewrite the correlated EXISTS / NOT EXISTS /
scalar subquery into semi/anti/aggregate joins with no nested-loop or
cartesian fallback (plan-shape-tested in tests/test_plan_shapes.py).
The synthetic lineitem has no commitdate/receiptdate, so "late" is
l_shipdate > o_orderdate + a fixed interval (same spirit, same shape).

Determinism: l_quantity is integer-valued in the synthetic data, so
sums/averages of it are exact in doubles on both engines; money sums
cross shuffles as DECIMAL(18,6) → DECIMAL(28,6) per the suite-wide
convention; top-k orderings always carry a unique tie-break column.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from burst_db_spark.catalog import TABLES, load
from burst_db_spark.registry import register
from burst_db_spark.runner import tmpdir
from burst_db_spark.streaming import drain, run_drain


def _sql(spark: SparkSession, sf_dir: str, template: str) -> DataFrame:
    """``template`` over the ``{table}`` tables it names: ``spark.sql``
    views each loaded frame under a unique name and drops the views
    before it returns, so the query leaves no view behind."""
    used = [t for t in TABLES if f"{{{t}}}" in template]
    return spark.sql(template, **{t: load(spark, sf_dir, t) for t in used})


def _oracle(template: str) -> str:
    """``template`` over the plain table names, for DuckDB."""
    return template.format(**{t: t for t in TABLES})


# ---------------------------------------------------------------------------
# TPC-H Q4 flavor: EXISTS → left-semi join


_Q4_SQL = """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM {orders}
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (
          SELECT 1 FROM {lineitem}
          WHERE l_orderkey = o_orderkey
            AND l_shipdate > o_orderdate + INTERVAL 30 DAY
      )
    GROUP BY o_orderpriority
"""


@register(
    "q4_order_priority",
    oracle=_oracle(_Q4_SQL),
    tags=("TPCH", "Q4", "exists", "subquery"),
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 flavor: orders in one quarter having at least one line
    item shipped >30 days after the order date, counted per priority.
    The correlated EXISTS (with a NON-equality correlated conjunct on
    o_orderdate) must decorrelate to a LeftSemi hash join — the filter
    on orders pushes to the scan, the semi join shuffles on orderkey."""
    return _sql(spark, sf_dir, _Q4_SQL)


# ---------------------------------------------------------------------------
# TPC-H Q17 flavor: correlated scalar subquery → aggregate + join


_Q17_SQL = """
    SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18, 6)))
                AS DECIMAL(28, 6)) AS DOUBLE) / 7.0 AS avg_yearly
    FROM {lineitem}, {part}
    WHERE p_partkey = l_partkey
      AND p_brand = 'Brand#23'
      AND l_quantity < (
          SELECT 0.2 * avg(l_quantity) FROM {lineitem} l2
          WHERE l2.l_partkey = p_partkey
      )
"""


@register(
    "q17_small_qty_revenue",
    oracle=_oracle(_Q17_SQL),
    tags=("TPCH", "Q17", "scalar-subquery"),
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 flavor: revenue lost to small-quantity orders of one
    brand. The correlated scalar subquery (per-part average quantity)
    must decorrelate into ONE aggregate over lineitem joined back on
    partkey — not a per-row re-scan. l_quantity is integer-valued so
    the avg is double-exact on both engines."""
    return _sql(spark, sf_dir, _Q17_SQL)


# ---------------------------------------------------------------------------
# TPC-H Q21 flavor: EXISTS + NOT EXISTS → semi + anti join


_Q21_SQL = """
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM {supplier}, {lineitem} l1, {orders}, {nation}
    WHERE s_suppkey = l1.l_suppkey
      AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
          SELECT 1 FROM {lineitem} l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM {lineitem} l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
      AND s_nationkey = n_nationkey
      AND n_name = 'NATION_7'
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 10
"""


@register(
    "q21_suppliers_waiting",
    oracle=_oracle(_Q21_SQL),
    tags=("TPCH", "Q21", "exists", "not-exists", "anti-join"),
)
def q21_suppliers_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 flavor: suppliers in one nation who were the SOLE late
    shipper on a multi-supplier finalized order. EXISTS → left-semi,
    NOT EXISTS → left-anti, both on orderkey with non-equality residual
    conjuncts; the top-k carries s_name as the tie-break so LIMIT is
    deterministic across engines."""
    return _sql(spark, sf_dir, _Q21_SQL)


# ---------------------------------------------------------------------------
# BPE: derived reconstruction oracle (closes the t_bpe_* no_oracle gap)


@register(
    "t_bpe_reconstruction",
    oracle=r"""
    WITH wt AS (
        SELECT word, CAST(count(*) AS BIGINT) AS n
        FROM (
            SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
                AS word
            FROM documents
        )
        WHERE len(word) > 0
        GROUP BY word
    )
    SELECT CAST(least(len(word), 12) AS BIGINT) AS len_bucket,
           CAST(count(*) AS BIGINT) AS n_word_types,
           CAST(sum(n) AS BIGINT) AS corpus_occurrences,
           CAST(sum(len(word)) AS BIGINT) AS total_chars
    FROM wt GROUP BY len_bucket
    """,
    tags=("text", "tokenizer", "bpe", "invariant"),
)
def t_bpe_reconstruction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable BPE invariant: train 12 merges, encode the
    word-type table, then aggregate over the RECONSTRUCTED words
    (concat of pieces) — length-bucket counts, corpus occurrences, and
    total characters. The oracle recomputes the same aggregates from
    the raw word table: they match iff every word's pieces concatenate
    back to exactly the word (no piece lost, duplicated, or mangled by
    training or encoding). This turns the non-SQL-expressible iterative
    trainer into a hash-checkable derived query — the evidence gap
    VERDICT r4 flagged for t_bpe_merges/t_bpe_encode."""
    from burst_db_spark.operators.bpe import encode_words, train_bpe, word_types

    docs = load(spark, sf_dir, "documents")
    merges = train_bpe(docs, n_merges=12, batch_size=4)
    wt = word_types(docs)
    enc = encode_words(wt, merges)
    recon = enc.select(F.concat_ws("", "pieces").alias("w"), "n")
    return recon.groupBy(
        F.least(F.length("w"), F.lit(12)).cast("bigint").alias("len_bucket")
    ).agg(
        F.count("*").cast("bigint").alias("n_word_types"),
        F.sum("n").cast("bigint").alias("corpus_occurrences"),
        F.sum(F.length("w")).cast("bigint").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# §2.9: watermarked APPEND-mode streaming (late rows dropped)


@register(
    "stream_watermark_append",
    oracle="""
    WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
           CAST(count(*) AS BIGINT) AS n
    FROM events, wm
    GROUP BY day_start, wm.w
    HAVING day_start + INTERVAL 1 DAY <= wm.w
    """,
    tags=("Str", "watermark", "append", "oracle-checked"),
)
def stream_watermark_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark + APPEND-mode tumbling aggregation with a DERIVED batch
    oracle (the t_bpe_reconstruction trick): windows are emitted exactly
    once, when the watermark passes their end, and late rows are dropped
    instead of reopening emitted state. Three mtime-ordered single-file
    micro-batches make the emission deterministic:
      b0 = events before the cutoff; b1 = the tail (advances the
      watermark to max(ts) - 1h, flushing every closed window); b2 = a
      REPLAY of early rows that is provably late (their day-windows
      closed when b1's watermark passed) and must be dropped.
    One file per logical batch matters: watermark advancement lags one
    micro-batch, so multi-file batches would close windows against a
    partial-file maximum and emit partial counts (the reason this row
    was rows-only in round 5). With single files, every window holds its
    complete row set when it closes, b1 rows are all on-time (newer than
    b0's watermark), and the b2 replays all fall in long-closed windows.
    The emitted relation is therefore exactly the batch aggregation of
    the ORIGINAL events with window_end <= max(ts) - 1h — which is the
    oracle, making the drop path hash-checked: if any replayed row leaked
    into a count, or any closed window failed to emit, the hash breaks.
    Per-batch emission order is pinned by
    tests/test_streaming.py::test_watermark_append_drops_late_rows.
    State is bounded by the watermark horizon — the 100 TB always-on
    shape."""
    src = load(spark, sf_dir, "events").select("event_id", "ts", "value")
    tmp = tmpdir("bds_stream_wm_")
    cutoff = "2024-01-28 00:00:00"
    late_cut = "2024-01-10 00:00:00"
    main = src.where(F.col("ts") < F.lit(cutoff).cast("timestamp"))
    tail = src.where(F.col("ts") >= F.lit(cutoff).cast("timestamp"))
    # replayed rows: a deterministic early subset, re-delivered after the
    # watermark has passed their windows -> MUST be dropped
    replay = src.where(
        (F.col("ts") < F.lit(late_cut).cast("timestamp"))
        & (F.col("event_id") % 7 == 0)
    )
    main.coalesce(1).write.parquet(f"{tmp}/in/b0")
    tail.coalesce(1).write.parquet(f"{tmp}/in/b1")
    replay.coalesce(1).write.parquet(f"{tmp}/in/b2")
    # file-source batch order follows modification time: pin it
    now = 1_700_000_000
    for i, sub in enumerate(("b0", "b1", "b2")):
        d = f"{tmp}/in/{sub}"
        for fn in os.listdir(d):
            os.utime(os.path.join(d, fn), (now + i * 3600,) * 2)

    stream = (
        spark.readStream.format("parquet")
        .schema(src.schema)
        .option("maxFilesPerTrigger", "1")
        .load(f"{tmp}/in/*")
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day"))
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(F.col("window.start").alias("day_start"), "n")
    )
    return drain(stream, tmp, mode="append")


# ---------------------------------------------------------------------------
# K6: metadata-table sink round-trip, promoted to an oracle row


@register(
    "k6_metadata_roundtrip",
    oracle="""
    SELECT 'max_shipdate' AS param,
           CAST(CAST(max(l_shipdate) AS DATE) AS VARCHAR) AS value
    FROM lineitem
    UNION ALL
    SELECT 'min_orderdate',
           CAST(CAST(min(o_orderdate) AS DATE) AS VARCHAR) FROM orders
    UNION ALL
    SELECT 'n_lineitem', CAST(count(*) AS VARCHAR) FROM lineitem
    UNION ALL
    SELECT 'n_orders', CAST(count(*) AS VARCHAR) FROM orders
    """,
    tags=("K6", "sink", "metadata"),
)
def k6_metadata_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K6 (build_frame_db.py:548-573 analog): provenance params —
    derived from the actual inputs, as the reference embeds its run
    parameters — written as a one-row parquet metadata table next to an
    output, read back, and unpivoted to (param, value) rows the oracle
    recomputes straight from the sources. Dates round-trip as ISO
    strings (DATE → VARCHAR on both engines)."""
    from burst_db_spark.sinks import write_metadata_table

    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    row = (
        li.agg(
            F.count("*").alias("n_lineitem"),
            F.max(F.col("l_shipdate").cast("date")).alias("max_shipdate"),
        )
        .crossJoin(
            orders.agg(
                F.count("*").alias("n_orders"),
                F.min(F.col("o_orderdate").cast("date")).alias("min_orderdate"),
            )
        )
        .first()
    )
    params = {
        "max_shipdate": row["max_shipdate"],
        "min_orderdate": row["min_orderdate"],
        "n_lineitem": row["n_lineitem"],
        "n_orders": row["n_orders"],
    }
    out = os.path.join(tmpdir("bds_k6_"), "meta.parquet")
    write_metadata_table(spark, params, out)
    got = spark.read.parquet(out)
    stack_expr = ", ".join(f"'{c}', `{c}`" for c in got.columns)
    return got.select(
        F.expr(f"stack({len(got.columns)}, {stack_expr}) AS (param, value)")
    )


# ---------------------------------------------------------------------------
# K4: simplified-GeoJSON export, promoted to an oracle row


@register(
    "k4_geojson_simplified",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
           CAST((n_nationkey * 7) % 40 AS DOUBLE) AS gxmin,
           CAST((n_nationkey * 7) % 40 + 4 AS DOUBLE) AS gxmax,
           CAST(5 AS BIGINT) AS n_points
    FROM nation
    """,
    tags=("K4", "geojson", "simplify"),
)
def k4_geojson_simplified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 (simplified GeoJSON export): rectangles with a redundant
    COLLINEAR midpoint on the bottom edge go through the simplifying
    FeatureCollection writer and back. The oracle pins both fidelity
    (the envelope survives) and the simplification itself: the ring
    must come back with exactly 5 coordinates — 6 would mean the
    collinear vertex survived, i.e. simplify never ran."""
    from burst_db_spark.geo.udfs import envelope_udf
    from burst_db_spark.sources.geojson import read_geojson, write_geojson

    out = os.path.join(tmpdir("bds_k4_"), "nations.geojson")
    nation = load(spark, sf_dir, "nation")
    x0 = (F.col("n_nationkey") * 7) % 40
    rects = nation.select(
        F.col("n_nationkey").cast("bigint").alias("n_nationkey"),
        F.format_string(
            "POLYGON ((%d 0, %d 0, %d 0, %d 6, %d 6, %d 0))",
            x0.cast("int"),
            (x0 + 2).cast("int"),  # collinear midpoint — simplify removes
            (x0 + 4).cast("int"),
            (x0 + 4).cast("int"),
            x0.cast("int"),
            x0.cast("int"),
        ).alias("geom_wkt"),
    )
    write_geojson(rects, out, properties=["n_nationkey"], simplify_tolerance=0.1)
    got = read_geojson(spark, out)
    env = envelope_udf(F.col("geom_wkt"))
    return got.select(
        F.col("n_nationkey").cast("bigint").alias("n_nationkey"),
        env["xmin"].alias("gxmin"),
        env["xmax"].alias("gxmax"),
        F.size(F.split(F.col("geom_wkt"), ",")).cast("bigint").alias("n_points"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q12 flavor: join + conditional (CASE) aggregation


@register(
    "q12_late_priority",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 45 DAY
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY l_returnflag
    """,
    tags=("TPCH", "Q12", "conditional-agg"),
)
def q12_late_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 flavor (no l_shipmode in the synthetic schema, so the
    class is lateness x priority): late-shipped line items split into
    high/low-priority counts per return flag — the join + CASE-pivot
    aggregation shape. Year filter pushes to the orders scan; the CASE
    terms fold into map-side partial sums."""
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 45 DAY"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("bigint").alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q16 flavor: NOT IN subquery → null-aware anti join


_Q16_SQL = """
    SELECT p_brand, p_type,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM {part} JOIN {lineitem} ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5'
      AND p_size IN (1, 4, 7)
      AND l_suppkey NOT IN (
          SELECT s_suppkey FROM {supplier} WHERE s_acctbal < 0
      )
    GROUP BY p_brand, p_type
"""


@register(
    "q16_supplier_cnt",
    oracle=_oracle(_Q16_SQL),
    tags=("TPCH", "Q16", "not-in", "null-aware-anti-join"),
)
def q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 flavor: distinct supplier counts per (brand, type) for
    selected sizes, excluding complained-about suppliers via NOT IN —
    the null-aware anti-join shape (NOT IN must treat a NULL in the
    subquery as 'exclude everything', which Spark plans as a null-aware
    BroadcastHashJoin LeftAnti, never a nested loop)."""
    return _sql(spark, sf_dir, _Q16_SQL)


# ---------------------------------------------------------------------------
# TPC-H Q18 flavor: IN over a grouped HAVING subquery (semi join on agg)


_Q18_SQL = """
    SELECT c_name, CAST(o_orderkey AS BIGINT) AS o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(sum(l_quantity) AS BIGINT) AS total_qty
    FROM {customer}
    JOIN {orders} ON c_custkey = o_custkey
    JOIN {lineitem} ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM {lineitem}
        GROUP BY l_orderkey HAVING sum(l_quantity) > 250
    )
    GROUP BY c_name, o_orderkey, o_totalprice
    ORDER BY total_qty DESC, o_orderkey
    LIMIT 20
"""


@register(
    "q18_large_volume",
    oracle=_oracle(_Q18_SQL),
    tags=("TPCH", "Q18", "in-subquery", "having"),
)
def q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 flavor: customers holding the largest-volume orders.
    The IN over a grouped HAVING subquery plans as a semi join against
    the aggregate (one extra pass over lineitem, shuffled on orderkey —
    the same key the main join uses, so AQE can reuse the exchange).
    l_quantity is integer-valued, so the sums are double-exact; the
    top-k carries o_orderkey as the tie-break."""
    return _sql(spark, sf_dir, _Q18_SQL)


# ---------------------------------------------------------------------------
# TPC-H Q20 flavor: nested IN subqueries → stacked semi joins


_Q20_SQL = """
    SELECT s_name, CAST(s_acctbal AS DOUBLE) AS s_acctbal
    FROM {supplier}
    WHERE s_suppkey IN (
        SELECT l_suppkey FROM {lineitem}
        WHERE l_partkey IN (
            SELECT p_partkey FROM {part} WHERE p_name LIKE 'blue%'
        )
        GROUP BY l_suppkey
        HAVING sum(l_quantity) > 400
    )
    ORDER BY s_name
"""


@register(
    "q20_part_shippers",
    oracle=_oracle(_Q20_SQL),
    tags=("TPCH", "Q20", "nested-in"),
)
def q20_part_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 flavor: suppliers who moved serious volume of a named
    part family — IN nested inside IN, planning as two stacked semi
    joins (part filter semi-joins lineitem BEFORE its groupBy, so the
    aggregate only sees matching rows; the outer semi join then prunes
    supplier). The LIKE prefix filter pushes to the part scan as a
    StartsWith."""
    return _sql(spark, sf_dir, _Q20_SQL)


# ---------------------------------------------------------------------------
# TPC-H Q22 flavor: NOT EXISTS + uncorrelated scalar subqueries


_Q22_SQL = """
    SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
           CAST(count(*) AS BIGINT) AS numcust,
           CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18, 6)))
                AS DECIMAL(28, 6)) AS DOUBLE) AS totacctbal
    FROM {customer}
    WHERE c_acctbal * (
            SELECT count(*) FROM {customer} WHERE c_acctbal > 0.0
          ) > (
            SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18, 6))) AS DOUBLE)
            FROM {customer} WHERE c_acctbal > 0.0
          )
      AND NOT EXISTS (
            SELECT 1 FROM {orders}
            WHERE o_custkey = c_custkey
              AND o_orderdate >= TIMESTAMP '2001-01-01'
          )
    GROUP BY c_nationkey
"""


@register(
    "q22_global_sales_opportunity",
    oracle=_oracle(_Q22_SQL),
    tags=("TPCH", "Q22", "not-exists", "scalar-subquery"),
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 flavor: well-funded customers with NO RECENT orders
    (every synthetic customer has some order, so the dormancy window
    keeps the anti-join non-trivially selective), rolled up per nation. The above-average test avoids cross-engine
    avg division (a boundary ulp could flip membership) by comparing
    balance x count > decimal-exact sum — bit-identical on both
    engines. NOT EXISTS decorrelates to a left-anti join on custkey;
    the two uncorrelated scalars are one-row broadcasts."""
    return _sql(spark, sf_dir, _Q22_SQL)


# ---------------------------------------------------------------------------
# P6: non-zero sentinel filter, promoted to an oracle row


_P6_ZONE_SQL = """CASE
         WHEN lat >= 56 AND lat < 64 AND lon >= 3 AND lon < 12 THEN 32
         WHEN lat >= 72 AND lat <= 84 AND lon >= 0 AND lon < 9 THEN 31
         WHEN lat >= 72 AND lat <= 84 AND lon >= 9 AND lon < 21 THEN 33
         WHEN lat >= 72 AND lat <= 84 AND lon >= 21 AND lon < 33 THEN 35
         WHEN lat >= 72 AND lat <= 84 AND lon >= 33 AND lon < 42 THEN 37
         ELSE least(greatest(CAST(floor((lon + 180) / 6) AS INTEGER) + 1,
                             1), 60)
       END"""


@register(
    "p6_epsg_sentinel_filter",
    oracle=f"""
    WITH pts AS (
        SELECT s_suppkey,
               CAST((s_suppkey * 13) % 400 - 200 + 0.5 AS DOUBLE) AS lon,
               CAST((s_suppkey * 17) % 160 - 80 + 0.5 AS DOUBLE) AS lat
        FROM supplier
    ),
    coded AS (
        SELECT s_suppkey,
               CAST(CASE
                 WHEN lon < -180 OR lon >= 180 THEN 0
                 WHEN lat > 75 THEN 3413
                 WHEN lat < -60 THEN 3031
                 WHEN lat >= 0 THEN 32600 + {_P6_ZONE_SQL}
                 ELSE 32700 + {_P6_ZONE_SQL}
               END AS INTEGER) AS epsg
        FROM pts
    )
    SELECT epsg, CAST(count(*) AS BIGINT) AS n_frames
    FROM coded WHERE epsg != 0 GROUP BY epsg
    """,
    tags=("P6", "filter", "sentinel", "geo"),
)
def p6_epsg_sentinel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 (build_frame_db.py:429 `WHERE epsg != 0`): frames whose
    geometry couldn't be classified carry the 0 sentinel instead of a
    NULL, and every consumer filters them out before zone rollups. Here
    ~45 % of the synthetic points land outside the valid longitude
    domain and take the sentinel; the filter (which pushes to the
    projection, no shuffle before the aggregate) must drop exactly
    those."""
    from burst_db_spark.geo.bbox import utm_epsg_expr

    supp = load(spark, sf_dir, "supplier")
    lon = ((F.col("s_suppkey") * 13) % 400 - 200 + 0.5).cast("double")
    lat = ((F.col("s_suppkey") * 17) % 160 - 80 + 0.5).cast("double")
    coded = supp.select(
        "s_suppkey",
        F.when((lon < -180) | (lon >= 180), F.lit(0))
        .otherwise(utm_epsg_expr(lon, lat))
        .cast("int")
        .alias("epsg"),
    )
    return (
        coded.where(F.col("epsg") != 0)
        .groupBy("epsg")
        .agg(F.count("*").cast("bigint").alias("n_frames"))
    )


# ---------------------------------------------------------------------------
# RAG-style document chunking (map-only, no exchange)


_CHUNK_SIZE, _CHUNK_STRIDE = 200, 150


@register(
    "t_chunk_documents",
    oracle=f"""
    SELECT doc_id,
           CAST(i AS INTEGER) AS chunk_idx,
           CAST(len(substr(text, CAST(i * {_CHUNK_STRIDE} + 1 AS INTEGER),
                           {_CHUNK_SIZE})) AS INTEGER) AS chunk_len,
           md5(substr(text, CAST(i * {_CHUNK_STRIDE} + 1 AS INTEGER),
                      {_CHUNK_SIZE})) AS chunk_md5
    FROM documents,
         unnest(range(0, ((greatest(len(text), 1) - 1)
                          // {_CHUNK_STRIDE}) + 1)) AS r(i)
    """,
    tags=("text", "rag", "chunking"),
)
def t_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-prep chunking: overlapping character windows (size 200,
    stride 150) per document — every char covered, consecutive chunks
    overlap by 50. Pure sequence+explode map (no UDF, no shuffle —
    plan-tested); md5 stands in for the chunk payload so the driver
    compare hashes fixed-width values."""
    from burst_db_spark.operators.text import chunk_documents

    docs = load(spark, sf_dir, "documents")
    chunks = chunk_documents(
        docs, "doc_id", size=_CHUNK_SIZE, stride=_CHUNK_STRIDE
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.length("chunk").cast("int").alias("chunk_len"),
        F.md5("chunk").alias("chunk_md5"),
    )


# ---------------------------------------------------------------------------
# LM-score quality gate: model-based corpus filtering composition


_LM_GATE_THRESHOLD = 0.0339  # ≈ corpus median mean_p — keeps ~half


def _lm_gate_oracle() -> str:
    from burst_db_spark.operators import lm
    from burst_db_spark.queries.retrieval import _TOKS

    return f"""
    WITH scores AS ({lm.bigram_lm_oracle_sql(_TOKS)})
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs_kept,
           CAST(sum(s.n_bigrams) AS BIGINT) AS total_bigrams
    FROM documents d JOIN scores s ON s.doc_id = d.doc_id
    WHERE s.mean_p >= {_LM_GATE_THRESHOLD}
    GROUP BY d.source
    """


@register(
    "t_lm_quality_gate",
    oracle=_lm_gate_oracle(),
    tags=("text", "lm", "quality", "pipeline"),
)
def t_lm_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style model-based filtering: score every doc with the
    corpus-trained bigram LM, keep docs at/above the median-ish
    threshold, roll survivors up per source. The score is a
    position-ordered fold (bit-identical across engines), so the
    threshold comparison — normally a cross-engine hazard — is exact
    by construction. At 100 TB this is score-broadcast + map-side
    filter; the only exchange is the final per-source rollup."""
    from burst_db_spark.operators import lm

    docs = load(spark, sf_dir, "documents")
    scores = lm.bigram_lm_scores(docs, "doc_id")
    kept = scores.where(F.col("mean_p") >= _LM_GATE_THRESHOLD)
    return (
        docs.join(kept, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs_kept"),
            F.sum("n_bigrams").cast("bigint").alias("total_bigrams"),
        )
    )


# ---------------------------------------------------------------------------
# §2.9: STREAM-STREAM windowed join (two watermarked sides)


@register(
    "stream_stream_join",
    oracle="""
    WITH ev AS (SELECT event_id, ts, user_id, event_type FROM events)
    SELECT v.user_id AS user_id,
           v.event_id AS view_id,
           b.event_id AS buy_id
    FROM (SELECT * FROM ev WHERE event_type = 'view') v
    JOIN (SELECT * FROM ev WHERE event_type = 'purchase') b
      ON v.user_id = b.user_id
     AND b.ts >= v.ts
     AND b.ts <= v.ts + INTERVAL 1 HOUR
    """,
    tags=("Str", "stream-stream", "interval-join", "oracle-checked"),
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM inner join with a DERIVED batch-twin oracle — the
    §2.9 shape none of the suite's stream-static queries exercise:
    views and purchases arrive as two independent watermarked streams
    and join on user within a 1-hour event-time range (purchase after
    the view, within an hour). State on both sides is bounded by
    watermark + range — the always-on attribution pipeline at 100 TB.
    Determinism of the emitted set: no maxFilesPerTrigger is set, so the
    availableNow drain takes both directories in the FIRST micro-batch,
    during which the watermark is still at its initial value — no row is
    late, both sides buffer fully, and every matched pair is emitted in
    that batch exactly once. The emitted relation therefore equals the
    batch interval join, which is the oracle; the equivalence is
    additionally pinned by
    tests/test_streaming.py::test_stream_stream_join_matches_batch."""
    ev = load(spark, sf_dir, "events").select("event_id", "ts", "user_id",
                                              "event_type")
    tmp = tmpdir("bds_ss_join_")
    views = ev.where(F.col("event_type") == "view")
    buys = ev.where(F.col("event_type") == "purchase")
    views.coalesce(2).write.parquet(f"{tmp}/in/views")
    buys.coalesce(2).write.parquet(f"{tmp}/in/buys")
    schema = "event_id long, ts timestamp, user_id long, event_type string"

    vs = (
        spark.readStream.format("parquet").schema(schema)
        .load(f"{tmp}/in/views")
        .withWatermark("ts", "2 hours")
        .select(F.col("event_id").alias("view_id"),
                F.col("ts").alias("view_ts"), "user_id")
    )
    bs = (
        spark.readStream.format("parquet").schema(schema)
        .load(f"{tmp}/in/buys")
        .withWatermark("ts", "2 hours")
        .select(F.col("event_id").alias("buy_id"),
                F.col("ts").alias("buy_ts"),
                F.col("user_id").alias("buyer_id"))
    )
    joined = vs.join(
        bs,
        (F.col("user_id") == F.col("buyer_id"))
        & (F.col("buy_ts") >= F.col("view_ts"))
        & (F.col("buy_ts") <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("user_id", "view_id", "buy_id")

    return drain(joined, tmp, mode="append")


# ---------------------------------------------------------------------------
# Graph: degree-oriented triangle counting


@register(
    "g2_triangle_stats",
    oracle="""
    WITH li AS (
        SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
        WHERE l_orderkey % 20 = 0
    ),
    e AS (
        SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
        FROM li x JOIN li y
          ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey
    ),
    deg AS (
        SELECT v, CAST(count(*) AS BIGINT) AS d
        FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY v
    )
    SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_vertices,
           CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
           CAST((SELECT sum(d * (d - 1) // 2) FROM deg) AS BIGINT)
               AS n_wedges,
           CAST((SELECT count(*)
                 FROM e e1
                 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
                 JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b) AS BIGINT)
               AS n_triangles
    """,
    tags=("graph", "triangles", "clustering-coefficient"),
)
def g2_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the supplier co-occurrence graph (suppliers
    linked when they ship in the same sampled order). Spark counts with
    the degree-ORIENTED wedge join (each wedge enumerated only at its
    minimum-(degree,id) vertex, out-degree bounded by O(sqrt E)) — the
    skew-proof formulation; the oracle counts naively. Triangle count
    is orientation-invariant, so the integers match exactly. n_wedges
    with n_triangles gives the global clustering coefficient without
    materializing wedges."""
    from burst_db_spark.operators.graph import triangle_stats

    li = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 20 == 0)
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    x = li.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("a"))
    y = li.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("b"))
    edges = (
        x.join(y, "k")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    return triangle_stats(edges)


# ---------------------------------------------------------------------------
# W12: calendar gap-fill + linear interpolation (time-series repair)


@register(
    "w12_linear_interpolation",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(ts AS DATE) AS day,
               CAST(CAST(sum(CAST(value AS DECIMAL(18, 6)))
                    AS DECIMAL(28, 6)) AS DOUBLE) AS val
        FROM events
        WHERE user_id % 53 = 0
        GROUP BY event_type, CAST(ts AS DATE)
    ),
    cal AS (
        SELECT t.event_type, CAST(d.day AS DATE) AS day
        FROM (SELECT DISTINCT event_type FROM daily) t
        CROSS JOIN (SELECT unnest(generate_series(DATE '2024-01-01',
                                DATE '2024-01-30', INTERVAL 1 DAY)) AS day) d
    ),
    joined AS (
        SELECT c.event_type, c.day, daily.val
        FROM cal c LEFT JOIN daily
          ON daily.event_type = c.event_type AND daily.day = c.day
    ),
    ctx AS (
        SELECT event_type, day, val,
               last_value(val IGNORE NULLS) OVER w_prev AS pv,
               last_value(CASE WHEN val IS NOT NULL THEN day END
                          IGNORE NULLS) OVER w_prev AS pd,
               first_value(val IGNORE NULLS) OVER w_next AS nv,
               first_value(CASE WHEN val IS NOT NULL THEN day END
                           IGNORE NULLS) OVER w_next AS nd
        FROM joined
        WINDOW w_prev AS (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               w_next AS (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, day,
           CASE
             WHEN val IS NOT NULL THEN val
             WHEN pv IS NULL THEN nv
             WHEN nv IS NULL THEN pv
             ELSE pv + (nv - pv)
                  * (CAST(datediff('day', pd, day) AS DOUBLE)
                     / CAST(datediff('day', pd, nd) AS DOUBLE))
           END AS filled,
           (val IS NULL) AS was_gap
    FROM ctx
    """,
    tags=("W12", "timeseries", "interpolation", "gap-fill"),
)
def w12_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series repair: a sparse per-type daily series (a thin user
    cohort leaves missing days) is joined onto the full calendar and
    gaps are LINEARLY interpolated between the nearest observed
    neighbors (edges extend the nearest value). Two windows per key —
    running last-non-null backward and first-non-null forward — give
    prev/next anchors in one partition pass each; the weight is an
    exact integer-day ratio, so the doubles match the oracle
    bit-for-bit."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").where(F.col("user_id") % 53 == 0)
    daily = (
        ev.groupBy(
            "event_type", F.col("ts").cast("date").alias("day")
        )
        .agg(
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("decimal(28,6)")
            .cast("double")
            .alias("val")
        )
    )
    types = daily.select("event_type").distinct()
    cal = types.crossJoin(
        spark.sql(
            "SELECT explode(sequence(DATE '2024-01-01', DATE '2024-01-30', "
            "INTERVAL 1 DAY)) AS day"
        )
    )
    joined = cal.join(daily, ["event_type", "day"], "left")
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("val").isNotNull(), F.col("day"))
    ctx = joined.select(
        "event_type",
        "day",
        "val",
        F.last("val", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(obs_day, ignorenulls=True).over(w_prev).alias("pd"),
        F.first("val", ignorenulls=True).over(w_next).alias("nv"),
        F.first(obs_day, ignorenulls=True).over(w_next).alias("nd"),
    )
    frac = F.datediff("day", "pd").cast("double") / F.datediff(
        "nd", "pd"
    ).cast("double")
    return ctx.select(
        "event_type",
        "day",
        F.when(F.col("val").isNotNull(), F.col("val"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(F.col("pv") + (F.col("nv") - F.col("pv")) * frac)
        .alias("filled"),
        F.col("val").isNull().alias("was_gap"),
    )


# ---------------------------------------------------------------------------
# §2.9: foreachBatch keyed upsert (SCD1 streaming MERGE) — oracle-checked


@register(
    "stream_upsert_snapshot",
    oracle="""
    SELECT user_id,
           CAST(max(event_id) AS BIGINT) AS version,
           arg_max(event_type, event_id) AS payload
    FROM events GROUP BY user_id
    """,
    tags=("Str", "upsert", "merge", "foreachBatch"),
)
def stream_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE (SCD1): per-user event deliveries arrive as two
    mtime-ordered micro-batches and foreachBatch-upsert into a parquet
    snapshot — highest version (the unique event_id) wins per key. The
    final snapshot must equal the batch per-key arg-max over ALL
    deliveries, which IS the DuckDB oracle — so the streaming merge
    path gets a real hash-checked row, not just a pytest."""
    from burst_db_spark.streaming.upsert import upsert_stream_to_parquet

    ev = load(spark, sf_dir, "events").select(
        F.col("user_id"),
        F.col("event_id").alias("version"),
        F.col("event_type").alias("payload"),
    )
    tmp = tmpdir("bds_upsert_")
    ev.where(F.col("version") % 2 == 0).coalesce(2).write.parquet(f"{tmp}/in/b0")
    ev.where(F.col("version") % 2 == 1).coalesce(2).write.parquet(f"{tmp}/in/b1")
    now = 1_700_000_000
    for sub, t in (("b0", now), ("b1", now + 3600)):
        d = f"{tmp}/in/{sub}"
        for fn in os.listdir(d):
            os.utime(os.path.join(d, fn), (t, t))

    stream = (
        spark.readStream.format("parquet")
        .schema("user_id long, version long, payload string")
        .option("maxFilesPerTrigger", "1")
        .load(f"{tmp}/in/*")
    )
    snap = f"{tmp}/snapshot"
    run_drain(
        spark,
        upsert_stream_to_parquet(stream, snap, key="user_id", version_col="version"),
        tmp,
    )
    return spark.read.parquet(snap).select(
        "user_id",
        F.col("version").cast("bigint").alias("version"),
        "payload",
    )
