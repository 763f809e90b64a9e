"""Round-5b widening: moment statistics from decimal-exact power sums,
explicit GROUPING SETS, training-data-pipeline operators (token-budget
mixture sampling, n-gram-overlap contamination scoring, and the
end-to-end curation composition), the higher-order array gauntlet,
NTILE quartiles, FULL OUTER reconciliation, the ORC round-trip, a real
Python UDTF, and dynamic-gap sessionization.

Determinism notes (the reason these shapes look the way they do):
- corr/variance are NOT computed with the engines' native stddev/corr
  aggregates — those fold doubles in shuffle order and drift by ulps
  between engines (and between runs). Instead the power sums
  (n, Σx, Σx², Σy, Σy², Σxy) are folded as decimals (exact, any
  order), and the moments come out of ONE double expression written
  identically on both engines. This is also the scalable plan: six
  partial-aggregated sums in one pass, no second scan, no sort.
- the mixture sampler's keep decision is a salted-md5 order + running
  token cumsum — a pure function of (salt, doc_id), so re-runs and
  engines agree bit-for-bit (same convention as operators/packing.py).

Reference parity: extends the reference's summary-stats surface
(reference src/burst_db/utils.py summary queries) the way a Spark
engine should — power sums, grouping sets, windowed budgets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from burst_db_spark.catalog import load
from burst_db_spark.operators import dedup as dd
from burst_db_spark.operators.text import token_count
from burst_db_spark.queries.textops import _TOKS
from burst_db_spark.registry import register
from burst_db_spark.runner import tmpdir

# ---------------------------------------------------------------------------
# A24: moment statistics (variance / stddev / correlation) via power sums


_MOMENTS_FINAL = """
    SELECT event_type,
           n_events,
           sx / n AS mean_v,
           (n * sxx - sx * sx) / (n * n) AS var_pop_v,
           sqrt(n * sxx - sx * sx) / n AS std_pop_v,
           (n * sxy - sx * sy)
               / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
               AS corr_vh
    FROM sums
    ORDER BY event_type
"""


@register(
    "a24_moment_stats",
    oracle=f"""
    WITH sums AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(CAST(sum(CAST(value AS DECIMAL(18, 6)))
                    AS DECIMAL(28, 6)) AS DOUBLE) AS sx,
               CAST(CAST(sum(CAST(value * value AS DECIMAL(28, 10)))
                    AS DECIMAL(38, 10)) AS DOUBLE) AS sxx,
               CAST(sum(CAST(hour(ts) AS BIGINT)) AS DOUBLE) AS sy,
               CAST(sum(CAST(hour(ts) * hour(ts) AS BIGINT)) AS DOUBLE)
                   AS syy,
               CAST(CAST(sum(CAST(value * hour(ts) AS DECIMAL(18, 6)))
                    AS DECIMAL(28, 6)) AS DOUBLE) AS sxy
        FROM events
        GROUP BY event_type
    )
    {_MOMENTS_FINAL}
    """,
    tags=("A24", "stats", "moments", "corr", "stddev"),
)
def a24_moment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type mean / population variance / stddev / corr(value,
    hour-of-day) from decimal-exact power sums: one scan, one exchange,
    six partially-aggregated sums, and a single identical double
    expression on both engines for the final moments. Native
    stddev/corr would shuffle-order-drift; this is exact."""
    ev = load(spark, sf_dir, "events")
    hr = F.hour("ts")

    def dsum(col: F.Column, p: str = "18,6", w: str = "28,6") -> F.Column:
        return (
            F.sum(col.cast(f"decimal({p})")).cast(f"decimal({w})").cast("double")
        )

    sums = ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.count("*").cast("double").alias("n"),
        dsum(F.col("value")).alias("sx"),
        dsum(F.col("value") * F.col("value"), "28,10", "38,10").alias("sxx"),
        F.sum(hr.cast("bigint")).cast("double").alias("sy"),
        F.sum((hr * hr).cast("bigint")).cast("double").alias("syy"),
        dsum(F.col("value") * hr).alias("sxy"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sy, syy, sxy = F.col("sy"), F.col("syy"), F.col("sxy")
    return (
        sums.select(
            "event_type",
            "n_events",
            (sx / n).alias("mean_v"),
            ((n * sxx - sx * sx) / (n * n)).alias("var_pop_v"),
            (F.sqrt(n * sxx - sx * sx) / n).alias("std_pop_v"),
            (
                (n * sxy - sx * sy)
                / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
            ).alias("corr_vh"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# A25: explicit GROUPING SETS (completes ROLLUP / CUBE / GROUP BY ALL)


@register(
    "a25_grouping_sets",
    oracle="""
    SELECT r_name, o_orderpriority,
           CAST(GROUPING(r_name, o_orderpriority) AS BIGINT)
               AS grouping_level,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18, 6)))
                AS DECIMAL(28, 6)) AS DOUBLE) AS total_price
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY GROUPING SETS ((r_name, o_orderpriority), (r_name), ())
    """,
    tags=("A25", "grouping-sets", "rollup-family"),
)
def a25_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS — (region, priority) detail, per-region
    subtotal, grand total in one pass (an Expand node feeding ONE
    partial-aggregated exchange, not three scans). The GROUPING bit
    vector disambiguates subtotal NULLs; nation/region broadcast."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region")
    joined = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    )
    return (
        joined.groupingSets(
            [["r_name", "o_orderpriority"], ["r_name"], []],
            "r_name",
            "o_orderpriority",
        )
        .agg(
            F.grouping_id().cast("bigint").alias("grouping_level"),
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("decimal(28,6)")
            .cast("double")
            .alias("total_price"),
        )
        .select(
            "r_name", "o_orderpriority", "grouping_level",
            "n_orders", "total_price",
        )
    )


# ---------------------------------------------------------------------------
# T: token-budget mixture sampling (per-domain budgets in TOKENS)


_MIX_SALT = "mix5"
_MIX_BUDGET = 1200


@register(
    "t_token_budget_mix",
    oracle=f"""
    WITH toks AS (
        SELECT source, doc_id,
               CAST(len({_TOKS}) AS BIGINT) AS n_tok,
               md5(concat('{_MIX_SALT}:', CAST(doc_id AS VARCHAR))) AS h
        FROM documents
    ), cum AS (
        SELECT source, doc_id, n_tok,
               sum(n_tok) OVER (
                   PARTITION BY source ORDER BY h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_tok
        FROM toks
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS kept_docs,
           CAST(sum(n_tok) AS BIGINT) AS kept_tokens
    FROM cum
    WHERE cum_tok <= {_MIX_BUDGET}
    GROUP BY source
    ORDER BY source
    """,
    tags=("pipeline", "sampling", "token-budget", "mixture"),
)
def t_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling under a TOKEN budget (the unit that
    matters for a training run, not doc counts): docs are ordered by a
    salted md5 (deterministic shuffle), a per-source running token
    cumsum admits docs while the budget lasts. One window per source
    partition (range-partitioned by the window key — no global sort,
    no skew: budgets bound each partition's useful prefix), then a tiny
    per-source rollup. The keep decision is a pure function of
    (salt, doc_id) — re-runs and engines agree exactly."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        "doc_id",
        token_count(F.col("text")).cast("bigint").alias("n_tok"),
        F.md5(
            F.concat_ws(":", F.lit(_MIX_SALT), F.col("doc_id").cast("string"))
        ).alias("h"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        toks.withColumn("cum_tok", F.sum("n_tok").over(w))
        .where(F.col("cum_tok") <= _MIX_BUDGET)
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("kept_docs"),
            F.sum("n_tok").cast("bigint").alias("kept_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# T: n-gram-overlap contamination scoring (graded, not just member/not)


_BENCH_SOURCES = ("src0", "src1")


@register(
    "t_ngram_overlap_score",
    oracle=f"""
    WITH toks AS (SELECT doc_id, source, {_TOKS} AS t FROM documents),
    sh AS (SELECT doc_id, source,
                  unnest(list_distinct(list_transform(range(1, len(t) - 1),
                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
           FROM toks),
    bench AS (
        SELECT DISTINCT shingle FROM sh
        WHERE source IN {_BENCH_SOURCES!r}
    )
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(count(b.shingle) AS BIGINT) AS n_matched,
           CAST(count(b.shingle) AS DOUBLE) / CAST(count(*) AS DOUBLE)
               AS overlap_frac
    FROM sh s
    LEFT JOIN bench b ON s.shingle = b.shingle
    WHERE s.source NOT IN {_BENCH_SOURCES!r}
    GROUP BY s.doc_id
    ORDER BY overlap_frac DESC, s.doc_id
    LIMIT 100
    """,
    tags=("pipeline", "decontamination", "ngram-overlap"),
)
def t_ngram_overlap_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded contamination score: for every training doc, the fraction
    of its distinct trigram shingles that appear anywhere in the
    held-out benchmark sources — the graded sibling of t_decontaminate's
    binary verdict (thresholding is then a policy choice, not baked in).
    The benchmark shingle set is eval-suite-sized by nature, so its
    broadcast is a legitimate dim broadcast (same design as the Bloom
    decontaminator); the per-doc aggregate runs on the training side's
    existing (doc, shingle) partitioning. overlap_frac is an int/int
    division in double — exact on both engines."""
    docs = load(spark, sf_dir, "documents")
    # The source filter splits BEFORE shingling (pushed to the scan) —
    # no doc-cardinality lookup join is ever needed.
    bench = (
        dd.doc_shingles(
            docs.where(F.col("source").isin(*_BENCH_SOURCES)), "doc_id", n=3
        )
        .select("shingle")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    train = dd.doc_shingles(
        docs.where(~F.col("source").isin(*_BENCH_SOURCES)), "doc_id", n=3
    )
    return (
        train.join(F.broadcast(bench), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.count("__hit").cast("bigint").alias("n_matched"),
            (
                F.count("__hit").cast("double") / F.count("*").cast("double")
            ).alias("overlap_frac"),
        )
        .orderBy(F.desc("overlap_frac"), "doc_id")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# F: higher-order array-function gauntlet over the embedding column


@register(
    "f_array_gauntlet",
    oracle="""
    WITH el AS (
        SELECT vec_id,
               CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e10)
                    AS BIGINT) AS sq
        FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
    ), sums AS (
        SELECT vec_id,
               CAST(sum(sq) AS DOUBLE) / 1e10 AS l2sq
        FROM el GROUP BY vec_id
    ), pairs AS (
        SELECT vec_id,
               unnest(embedding) AS a,
               unnest(list_reverse(embedding)) AS b
        FROM embeddings
    ), rev AS (
        SELECT vec_id,
               CAST(sum(CAST(floor(
                   CAST(a AS DOUBLE) * CAST(b AS DOUBLE) * 1e10
               ) AS BIGINT)) AS DOUBLE) / 1e10 AS dot_rev
        FROM pairs
        GROUP BY vec_id
    )
    SELECT e.vec_id,
           CAST(len(embedding) AS INTEGER) AS dim,
           CAST(embedding[1] AS DOUBLE) AS first_v,
           CAST(embedding[-1] AS DOUBLE) AS last_v,
           CAST(list_min(embedding) AS DOUBLE) AS min_v,
           CAST(list_max(embedding) AS DOUBLE) AS max_v,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos,
           sums.l2sq,
           rev.dot_rev
    FROM embeddings e
    JOIN sums ON e.vec_id = sums.vec_id
    JOIN rev ON e.vec_id = rev.vec_id
    ORDER BY e.vec_id
    """,
    tags=("F-array", "higher-order", "lambda"),
)
def f_array_gauntlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions staying entirely JVM-side (the fast
    path for vector columns — no UDF, no Arrow hop): transform + filter
    + aggregate + zip_with/reverse over array<float>. The float sums
    are quantized PER ELEMENT with floor(x*1e10) -> BIGINT — one IEEE
    multiply + floor, bit-identical on both engines — then folded as
    exact integer sums, so l2sq and the reversed-self dot product are
    order-independent and shuffle-safe. (An earlier draft folded
    through a DECIMAL accumulator; per-element double->decimal casts
    take different routes on the two engines — Spark exact-BigDecimal
    vs DuckDB double-multiply-round — the r7-red fragility class.)
    All map-only: zero exchanges except the output sort."""
    emb = load(spark, sf_dir, "embeddings")
    v = F.col("embedding")

    def int_fold(arr: F.Column) -> F.Column:
        # exact BIGINT sum of the quantized elements; /1e10 is the same
        # IEEE divide on both engines. |sum| < 64 * max|x|^2 * 1e10
        # stays far under 2^63 for unit-scale embeddings.
        return F.aggregate(
            arr,
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).cast("double") / F.lit(1e10)

    sq = F.transform(
        v,
        lambda x: F.floor(x.cast("double") * x.cast("double") * F.lit(1e10)).cast(
            "bigint"
        ),
    )
    pr = F.zip_with(
        v,
        F.reverse(v),
        lambda a, b: F.floor(a.cast("double") * b.cast("double") * F.lit(1e10)).cast(
            "bigint"
        ),
    )
    return (
        emb.select(
            "vec_id",
            F.size(v).alias("dim"),
            F.element_at(v, 1).cast("double").alias("first_v"),
            F.element_at(v, -1).cast("double").alias("last_v"),
            F.array_min(v).cast("double").alias("min_v"),
            F.array_max(v).cast("double").alias("max_v"),
            F.size(F.filter(v, lambda x: x > 0)).alias("n_pos"),
            int_fold(sq).alias("l2sq"),
            int_fold(pr).alias("dot_rev"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# W13: NTILE bucketing (completes the rank-family windows)


@register(
    "w13_ntile_quartiles",
    oracle="""
    WITH ranked AS (
        SELECT c_mktsegment,
               c_acctbal,
               ntile(4) OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY c_acctbal, c_custkey
               ) AS quartile
        FROM customer
    )
    SELECT c_mktsegment, CAST(quartile AS INTEGER) AS quartile,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18, 6)))
                AS DECIMAL(28, 6)) AS DOUBLE) AS balance_sum,
           min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal
    FROM ranked
    GROUP BY c_mktsegment, quartile
    ORDER BY c_mktsegment, quartile
    """,
    tags=("W13", "ntile", "window-rank-family"),
)
def w13_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE(4) balance quartiles per market segment, rolled up to
    per-bucket counts/sums. The window partitions by segment (5 keys —
    acceptable width per partition here because the downstream agg
    shares the same partitioning: one exchange total; for a
    high-cardinality frame the range-partitioned rank in
    t_curriculum_buckets is the scale path). c_custkey tie-break makes
    bucket edges deterministic across engines."""
    cust = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        cust.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("c_mktsegment", "quartile")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,6)"))
            .cast("decimal(28,6)")
            .cast("double")
            .alias("balance_sum"),
            F.min("c_acctbal").alias("min_bal"),
            F.max("c_acctbal").alias("max_bal"),
        )
        .orderBy("c_mktsegment", "quartile")
    )


# ---------------------------------------------------------------------------
# U4: FULL OUTER reconciliation (completes the join-type family)


@register(
    "u4_full_outer_reconcile",
    oracle="""
    WITH a AS (
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1999-01-01'
    ), b AS (
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate < TIMESTAMP '2001-01-01'
    )
    SELECT CASE WHEN a.o_orderkey IS NULL THEN 'added'
                WHEN b.o_orderkey IS NULL THEN 'dropped'
                ELSE 'common' END AS delta_class,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(CAST(sum(CAST(coalesce(a.o_totalprice, b.o_totalprice)
                AS DECIMAL(18, 6))) AS DECIMAL(28, 6)) AS DOUBLE)
               AS total_price
    FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
    GROUP BY delta_class
    ORDER BY delta_class
    """,
    tags=("U4", "full-outer", "reconcile"),
)
def u4_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation via FULL OUTER join — the join type the
    suite hadn't demonstrated (U2 does the same workflow with
    inner+anti forms): two overlapping order windows, rows classified
    added/dropped/common by null side. The full outer shuffles both
    sides on orderkey once; the classification and rollup ride the
    join's partitioning."""
    orders = load(spark, sf_dir, "orders")
    a = orders.where(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1999-01-01")
    ).select(
        F.col("o_orderkey").alias("a_key"), F.col("o_totalprice").alias("a_price")
    )
    b = orders.where(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "2001-01-01")
    ).select(
        F.col("o_orderkey").alias("b_key"), F.col("o_totalprice").alias("b_price")
    )
    return (
        a.join(b, a.a_key == b.b_key, "full_outer")
        .select(
            F.when(F.col("a_key").isNull(), "added")
            .when(F.col("b_key").isNull(), "dropped")
            .otherwise("common")
            .alias("delta_class"),
            F.coalesce("a_price", "b_price").alias("price"),
        )
        .groupBy("delta_class")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.col("price").cast("decimal(18,6)"))
            .cast("decimal(28,6)")
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("delta_class")
    )


# ---------------------------------------------------------------------------
# S12: ORC round-trip (columnar format breadth next to parquet/CSV/zarr)


@register(
    "s12_orc_roundtrip",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18, 6)))
                AS DECIMAL(28, 6)) AS DOUBLE) AS price_sum
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1997-07-01'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("S12", "orc", "roundtrip", "sink"),
)
def s12_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source round-trip: a half-year lineitem slice is
    written to ORC (zlib, Spark-native writer) and aggregated from the
    ORC scan — the oracle recomputes from the original parquet, so the
    row proves the round-trip is lossless including the NTZ timestamp
    normalization. ORC predicate pushdown works like parquet's
    (min/max stripes); the slice filter is applied pre-write so the
    on-disk file is the pruned data."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1997-07-01")
    ).select("l_returnflag", "l_extendedprice", "l_shipdate")
    out = tmpdir("bds_orc_") + "/slice.orc"
    li.write.format("orc").mode("overwrite").save(out)
    back = spark.read.orc(out)
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,6)"))
            .cast("decimal(28,6)")
            .cast("double")
            .alias("price_sum"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# F9b: a REAL Python UDTF (table function API surface, Spark 4)


@register(
    "f_udtf_sentences",
    oracle=r"""
    WITH s AS (
        SELECT doc_id,
               list_filter(
                   list_transform(
                       string_split_regex(text, '[.!?]+'),
                       x -> trim(x, ' ' || chr(9) || chr(10) || chr(13))
                   ),
                   x -> x <> ''
               ) AS sents
        FROM documents
    )
    SELECT doc_id,
           CAST(generate_subscripts(sents, 1) AS INTEGER) AS sent_idx,
           unnest(sents) AS sentence
    FROM s
    ORDER BY doc_id, sent_idx
    LIMIT 500
    """,
    tags=("F9", "udtf", "lateral"),
)
def f_udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (the @udtf table-function API, used via LATERAL in
    SQL): sentence-splits every document into (sent_idx, sentence)
    rows. This row exists to exercise the UDTF API surface itself — the
    engine's fast path for this job is the relational explode
    (t_chunk_documents: sequence+explode, zero Python) — so the
    docstring's scale advice is 'use the explode twin'; the UDTF is for
    logic that genuinely needs per-row Python. The regex/trim semantics
    are pinned to match DuckDB's RE2 split + explicit whitespace trim
    exactly."""
    import re

    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, sent_idx int, sentence string")
    class SentenceSplit:
        def eval(self, doc_id, text):  # noqa: ANN001 - UDTF protocol
            idx = 0
            for piece in re.split(r"[.!?]+", text or ""):
                piece = piece.strip(" \t\n\r")
                if piece:
                    idx += 1
                    yield doc_id, idx, piece

    spark.udtf.register("sentence_split", SentenceSplit)
    return spark.sql(
        """
        SELECT t.doc_id, t.sent_idx, t.sentence
        FROM {docs} d,
             LATERAL sentence_split(d.doc_id, d.text) t
        ORDER BY t.doc_id, t.sent_idx
        LIMIT 500
        """,
        docs=load(spark, sf_dir, "documents"),
    )


# ---------------------------------------------------------------------------
# W2c: DYNAMIC-gap sessionization (per-event gap column)


@register(
    "w2c_dynamic_gap_sessions",
    oracle="""
    WITH g AS (
        SELECT event_id, user_id, ts,
               ts + CASE WHEN event_type = 'purchase'
                         THEN INTERVAL 86400 SECONDS
                         ELSE INTERVAL 21600 SECONDS END AS win_end
        FROM events
    ), marked AS (
        SELECT event_id, user_id, ts, win_end,
               CASE WHEN max(win_end) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ) IS NULL
                    OR ts >= max(win_end) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    )
               THEN 1 ELSE 0 END AS new_session
        FROM g
    ), lab AS (
        -- SAME total order (ts, event_id) as `marked`: with a
        -- different tie-break, two equal-ts events could land on
        -- opposite sides of the session-start row and split a session
        -- Spark merges
        SELECT user_id, ts, win_end,
               sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS sid
        FROM marked
    )
    SELECT user_id, min(ts) AS session_start, max(win_end) AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM lab GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
    tags=("W2c", "session_window", "dynamic-gap"),
)
def w2c_dynamic_gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window with a PER-EVENT gap expression (purchases hold a
    session open 24 h, everything else 6 h) — the dynamic-gap variant
    w2/w2b don't cover. Spark merges an event into the session when its
    ts precedes the running max of earlier events' (ts + own gap); the
    oracle states exactly that as an interval-island window (running
    max of win_end over the preceding frame). One exchange on user_id,
    same as fixed-gap sessionization."""
    ev = load(spark, sf_dir, "events")
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("86400 seconds")
    ).otherwise(F.lit("21600 seconds"))
    return (
        ev.groupBy(F.session_window(F.col("ts"), gap), F.col("user_id"))
        .agg(F.count("*").cast("bigint").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


# ---------------------------------------------------------------------------
# T: curation composition v2 — gate -> decontaminate(graded) -> budget mix


_CUR_SALT = "cur5"
_CUR_BUDGET = 800
_CUR_MAX_OVERLAP = 0.5


@register(
    "t_curation_mix_pipeline",
    oracle=f"""
    WITH toks AS (SELECT doc_id, source, {_TOKS} AS t FROM documents),
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
    sh AS (SELECT doc_id, source,
                  unnest(list_distinct(list_transform(range(1, len(t) - 1),
                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
           FROM toks),
    bench AS (
        SELECT DISTINCT shingle FROM sh
        WHERE source IN {_BENCH_SOURCES!r}
    ),
    overlap AS (
        SELECT s.doc_id,
               CAST(count(b.shingle) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) AS frac
        FROM sh s LEFT JOIN bench b ON s.shingle = b.shingle
        WHERE s.source NOT IN {_BENCH_SOURCES!r}
        GROUP BY s.doc_id
    ),
    kept1 AS (
        SELECT d.doc_id, d.source,
               CAST(len({_TOKS}) AS BIGINT) AS n_tok
        FROM documents d
        JOIN kept0 USING (doc_id)
        LEFT JOIN overlap o ON d.doc_id = o.doc_id
        WHERE d.source NOT IN {_BENCH_SOURCES!r}
          AND coalesce(o.frac, 0.0) <= {_CUR_MAX_OVERLAP}
    ),
    cum AS (
        SELECT source, doc_id, n_tok,
               sum(n_tok) OVER (
                   PARTITION BY source
                   ORDER BY md5(concat('{_CUR_SALT}:',
                                       CAST(doc_id AS VARCHAR)))
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_tok
        FROM kept1
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS kept_docs,
           CAST(sum(n_tok) AS BIGINT) AS kept_tokens
    FROM cum
    WHERE cum_tok <= {_CUR_BUDGET}
    GROUP BY source
    ORDER BY source
    """,
    tags=("pipeline", "composition", "decontamination", "mixture"),
)
def t_curation_mix_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-5b curation chain as ONE Catalyst plan: quality gate
    (score >= 0.5) -> graded trigram-overlap decontamination vs the
    held-out benchmark sources (drop frac > 0.5; short docs with no
    shingles pass) -> per-source TOKEN-budget mixture sampling (salted
    cumsum) -> per-source accounting. Every stage is the scale path of
    its standalone row; nothing materializes between stages. The only
    broadcast is the benchmark shingle set (eval-suite-sized)."""
    from burst_db_spark.operators import text as tx

    docs = load(spark, sf_dir, "documents")
    q = tx.quality_features(docs.select("doc_id", "text"))
    kept0 = q.where(F.col("quality_score") >= 0.5).select("doc_id")
    train = docs.where(~F.col("source").isin(*_BENCH_SOURCES))

    bench_sh = (
        dd.doc_shingles(
            docs.where(F.col("source").isin(*_BENCH_SOURCES)), "doc_id", n=3
        )
        .select("shingle")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    overlap = (
        dd.doc_shingles(train, "doc_id", n=3)
        .join(F.broadcast(bench_sh), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            (
                F.count("__hit").cast("double") / F.count("*").cast("double")
            ).alias("frac")
        )
    )
    kept1 = (
        train.join(kept0, "doc_id", "left_semi")
        .join(overlap, "doc_id", "left")
        .where(F.coalesce(F.col("frac"), F.lit(0.0)) <= _CUR_MAX_OVERLAP)
        .select(
            "source",
            "doc_id",
            token_count(F.col("text")).cast("bigint").alias("n_tok"),
            F.md5(
                F.concat_ws(
                    ":", F.lit(_CUR_SALT), F.col("doc_id").cast("string")
                )
            ).alias("h"),
        )
    )
    w = (
        Window.partitionBy("source")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        kept1.withColumn("cum_tok", F.sum("n_tok").over(w))
        .where(F.col("cum_tok") <= _CUR_BUDGET)
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("kept_docs"),
            F.sum("n_tok").cast("bigint").alias("kept_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# A26: boolean / conditional / bitwise aggregate family


@register(
    "a26_bool_aggregates",
    oracle="""
    SELECT event_type,
           CAST(count(*) FILTER (WHERE value > 100.0) AS BIGINT)
               AS n_big,
           bool_and(value > 0.0) AS all_positive,
           bool_or(value > 400.0) AS any_huge,
           CAST(bit_and(CAST(user_id AS BIGINT)) AS BIGINT) AS uid_and,
           CAST(bit_or(CAST(user_id AS BIGINT)) AS BIGINT) AS uid_or,
           CAST(bit_xor(CAST(event_id AS BIGINT)) AS BIGINT) AS eid_xor
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("A26", "count_if", "bool-agg", "bit-agg"),
)
def a26_bool_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The boolean/conditional/bitwise aggregate family in one row:
    count_if, bool_and/bool_or (every/some), bit_and/bit_or/bit_xor.
    All integer/boolean-exact (no float folds), all partial-aggregated
    map-side — xor in particular is the order-independent checksum used
    for content fingerprint reconciliation at scale."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count_if(F.col("value") > 100.0).cast("bigint").alias("n_big"),
            F.bool_and(F.col("value") > 0.0).alias("all_positive"),
            F.bool_or(F.col("value") > 400.0).alias("any_huge"),
            F.bit_and(F.col("user_id").cast("bigint")).alias("uid_and"),
            F.bit_or(F.col("user_id").cast("bigint")).alias("uid_or"),
            F.bit_xor(F.col("event_id").cast("bigint")).alias("eid_xor"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# J14: Levenshtein fuzzy self-join over the name vocabulary


@register(
    "j14_fuzzy_name_join",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
    FROM names a JOIN names b
      ON a.p_name < b.p_name
     AND levenshtein(a.p_name, b.p_name) <= 2
    ORDER BY name_a, name_b
    """,
    tags=("J14", "fuzzy-join", "levenshtein"),
)
def j14_fuzzy_name_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy self-join: near-identical part names (edit distance <= 2),
    via DELETION-NEIGHBORHOOD candidate generation (the FastSS /
    SymSpell construction, Bocek et al. 2007) instead of the quadratic
    all-pairs compare this query shipped with in round 5:

      1. each distinct name emits every variant reachable by deleting
         <= 2 characters (1 + L + L(L-1)/2 variants for length L) —
         pure JVM higher-order functions (transform/sequence/flatten),
         no Python;
      2. if ed(a, b) <= 2 then a and b share at least one common
         <=2-deletion variant, so a hash EQUI-join on xxhash64(variant)
         yields a candidate superset — O(V * L^2) index rows and an
         ordinary shuffled hash join, never O(V^2) compares and never a
         vocabulary broadcast;
      3. candidates are deduped, length-filtered (ed <= 2 implies
         |len(a) - len(b)| <= 2 — free false-positive pruning before
         the verify), and verified with the exact levenshtein.

    At 100 TB the name vocabulary is tens of millions of strings; the
    round-5 BroadcastNestedLoopJoin form blows up both the broadcast
    and the O(V^2) compare, while this plan is a linear explode plus a
    key-partitioned equi-join (plan-tested: no BNLJ). Same oracle: the
    DuckDB twin stays the quadratic reference definition, so the hash
    check proves the candidate generation is LOSSLESS. Edit distance is
    integer-exact on both engines."""
    from burst_db_spark.operators.joins import fuzzy_string_self_join

    part = load(spark, sf_dir, "part")
    return fuzzy_string_self_join(part, "p_name", max_dist=2).orderBy(
        "name_a", "name_b"
    )
