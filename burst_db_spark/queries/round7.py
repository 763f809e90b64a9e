"""Round-7 queries: mergeable KMV (bottom-k) distinct sketches — batch
(a32) and streaming foreachBatch-partial (stream_kmv_sketch) — intra-
document repeated-line removal (the Gopher-style repetition scrub;
reference parity: opera-adt/burst_db has no text path — this is the
LLM-pipeline extension surface), a lossless prefix-filtered containment
join plus its end-to-end survivors scrub, int8 scalar-quantized ANN
with exact rerank, dynamic partition pruning over a date-partitioned
fact, distributed global ranking without a single-partition window, a
two-pass exact median (no global sort), the map higher-order-function
surface, and stride frame-sampling with a REAL decode over synthetic
video containers.

Every oracle is ANSI SQL the driver runs on DuckDB; float outputs are
ordered folds (bit-exact cross-engine), counts/codes are integer-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from burst_db_spark.catalog import load
from burst_db_spark.registry import register
from burst_db_spark.runner import persist, tmpdir
from burst_db_spark.session import fan_out
from burst_db_spark.streaming import drain, run_drain

# ---------------------------------------------------------------------------
# A32: KMV / bottom-k distinct sketch — the mergeable-cardinality property.
#
# Each (priority, shard) partition builds an independent bottom-k sketch of
# md5(custkey); merging = union + distinct-hash + re-take bottom-k. That is
# the 100 TB shape: partial sketches per executor/day/shard re-aggregate
# without touching raw data, exactly like the HLL row (a27) but with a
# sketch whose merge is expressible in pure ANSI SQL, so the driver can
# hash-check the WHOLE pipeline, estimate included. The estimate uses the
# classic (k-1)/r_k KMV estimator on the 48-bit hash prefix with INTEGER
# division only — no float rounding to drift cross-engine.

_KMV_K = 64
_POW48 = 1 << 48  # 281474976710656


@register(
    "a32_kmv_distinct",
    oracle=f"""
    WITH hashed AS (
        SELECT o_orderpriority AS priority,
               o_orderkey % 4 AS shard,
               md5(CAST(o_custkey AS VARCHAR)) AS h
        FROM orders
    ),
    shard_sketch AS (
        SELECT priority, shard, h
        FROM (SELECT priority, shard, h,
                     row_number() OVER (PARTITION BY priority, shard
                                        ORDER BY h) AS rn
              FROM (SELECT DISTINCT priority, shard, h FROM hashed))
        WHERE rn <= {_KMV_K}
    ),
    merged AS (
        SELECT priority, h,
               row_number() OVER (PARTITION BY priority ORDER BY h) AS rn
        FROM (SELECT DISTINCT priority, h FROM shard_sketch)
    ),
    kth AS (
        SELECT priority, h AS kth_hash,
               CAST('0x' || substr(h, 1, 12) AS BIGINT) AS r48
        FROM merged WHERE rn = {_KMV_K}
    ),
    truth AS (
        SELECT o_orderpriority AS priority,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS true_distinct
        FROM orders GROUP BY 1
    )
    SELECT t.priority, kth_hash,
           CAST(({_KMV_K} - 1) * {_POW48} // r48 AS BIGINT) AS est_distinct,
           true_distinct
    FROM truth t JOIN kth USING (priority)
    ORDER BY t.priority
    """,
    tags=("A32", "sketch", "kmv", "mergeable", "llm-pipeline"),
)
def a32_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k (KMV) distinct-count sketch with a real merge step:
    4 shard sketches per priority (shard = o_orderkey % 4, so the SAME
    custkey lands in MANY shards — the merge must dedupe by hash) are
    unioned and re-cut to the k smallest hashes. est = (k-1)*2^48 div
    r_k over the 48-bit hash prefix: integer-exact in both engines.
    Plan: the build pays one map-side-partial distinct (shuffled volume
    = per-partition distinct hashes, not rows) + a per-tiny-group
    window top-k; the SKETCHES are k-sized, so every re-aggregation
    after the first — daily rollups, cross-shard merges, backfills —
    moves k rows per group instead of touching raw data. That second
    property is the 100 TB win (same as a27 HLL / a31 count-min)."""
    orders = load(spark, sf_dir, "orders")
    hashed = orders.select(
        F.col("o_orderpriority").alias("priority"),
        (F.col("o_orderkey") % 4).alias("shard"),
        F.md5(F.col("o_custkey").cast("string")).alias("h"),
    )
    w_shard = Window.partitionBy("priority", "shard").orderBy("h")
    shard_sketch = (
        hashed.distinct()
        .withColumn("rn", F.row_number().over(w_shard))
        .where(F.col("rn") <= _KMV_K)
        .drop("rn", "shard")
    )
    w_merge = Window.partitionBy("priority").orderBy("h")
    kth = (
        shard_sketch.distinct()
        .withColumn("rn", F.row_number().over(w_merge))
        .where(F.col("rn") == _KMV_K)
        .select(
            "priority",
            F.col("h").alias("kth_hash"),
            F.conv(F.substring("h", 1, 12), 16, 10).cast("bigint").alias("r48"),
        )
    )
    truth = orders.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.countDistinct("o_custkey").cast("bigint").alias("true_distinct")
    )
    return (
        truth.join(kth, "priority")
        .select(
            "priority",
            "kth_hash",
            F.expr(
                f"CAST(({_KMV_K} - 1) * CAST({_POW48} AS BIGINT) DIV r48 AS BIGINT)"
            ).alias("est_distinct"),
            "true_distinct",
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# T: intra-document repeated-line removal (Gopher-style repetition scrub).
# Distinct from dd_span_dedup (which counts spans repeated ACROSS docs):
# this one removes duplicate lines WITHIN each document, keeps the first
# occurrence, and reassembles the text — the order-preserving rewrite is
# the hard part. "Lines" are 2-word windows because the synthetic corpus
# is single-line; 2 is the smallest unit that actually repeats (250
# duplicate lines at sf0.01, 3 at window=3).

_LINE_WORDS = 2


@register(
    "t_paragraph_dedup",
    oracle=rf"""
    WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
               FROM documents),
    words AS (SELECT doc_id, w[i] AS word, i
              FROM t, unnest(range(1, len(w) + 1)) AS r(i)),
    lines AS (SELECT doc_id, (i - 1) // {_LINE_WORDS} AS line_no,
                     string_agg(word, ' ' ORDER BY i) AS line
              FROM words GROUP BY doc_id, (i - 1) // {_LINE_WORDS}),
    kept AS (
        SELECT doc_id, line_no, line,
               min(line_no) OVER (PARTITION BY doc_id, line) AS first_no
        FROM lines
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN line_no = first_no THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           md5(string_agg(CASE WHEN line_no = first_no THEN line END,
                          ' ' ORDER BY line_no)) AS new_md5
    FROM kept
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("text", "dedup", "repetition", "llm-pipeline"),
)
def t_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-preserving intra-doc duplicate-line removal: split → window
    into lines → keep each line's first occurrence → reassemble in
    original order; outputs the rebuilt text's md5 so the driver checks
    the REASSEMBLY, not just the counts. Everything is built-ins
    (posexplode / min-over / array_sort fold): one shuffle on
    (doc_id, line_no), one on doc_id — no Python in the path, and the
    per-doc state is bounded by document length, so a 100 TB corpus
    partitions by doc_id and never skews."""
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.trim("text")), r"\s+")).alias("pos", "word"),
    )
    lines = (
        words.groupBy("doc_id", (F.col("pos") / _LINE_WORDS).cast("bigint").alias("line_no"))
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "word"))),
                    lambda s: s["word"],
                ),
            ).alias("line")
        )
    )
    kept = lines.withColumn(
        "first_no", F.min("line_no").over(Window.partitionBy("doc_id", "line"))
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.sum((F.col("line_no") == F.col("first_no")).cast("int"))
            .cast("bigint")
            .alias("n_kept"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("line_no") == F.col("first_no"),
                                    F.struct("line_no", "line"),
                                )
                            )
                        ),
                        lambda s: s["line"],
                    ),
                )
            ).alias("new_md5"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# T: lossless containment join (near-superset detection).
# Containment C(A,B) = |A∩B| / |A| is the asymmetric cousin of Jaccard:
# it finds documents whose shingle set is mostly swallowed by another
# (quote-with-additions, boilerplate-plus-payload). Prefix theorem for
# containment: if C(A,B) >= t then A and B share a shingle among A's
# (|A| - ceil(t*|A|) + 1) RAREST shingles — so only A's prefix explodes;
# B indexes all shingles. Lossless: the verify is an exact
# array_intersect on the candidate pairs, and the oracle IS the
# quadratic definition.

_CONT_T10 = 6  # containment threshold, tenths (0.6)
_SHINGLE_SQL = (
    "list_distinct(list_transform(range(1, len(w) - 1), "
    "i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]))"
)


@register(
    "t_containment_join",
    oracle=rf"""
    WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
               FROM documents),
    sh AS (SELECT doc_id, {_SHINGLE_SQL} AS s FROM t)
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter_size,
           CAST(len(a.s) AS BIGINT) AS a_size
    FROM sh a JOIN sh b ON a.doc_id != b.doc_id
    WHERE len(a.s) > 0
      AND len(list_intersect(a.s, b.s)) * 10 >= {_CONT_T10} * len(a.s)
    ORDER BY a_id, b_id
    """,
    tags=("text", "dedup", "containment", "prefix-filter", "llm-pipeline"),
)
def t_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered containment join over 3-word shingle sets
    (operators/dedup.containment_prefix_pairs): candidate generation
    explodes only each A-doc's rarity-ordered prefix
    (|A| - ceil(0.6|A|) + 1 shingles) against a full inverted index of
    B — an equi-join on shingle, never an all-pairs — then an exact
    array_intersect verify on the distinct candidate pairs. Same scale
    family as dd_jaccard_prefix_join (AllPairs/PPJoin, Bayardo et al.
    2007; Chaudhuri et al. 2006 for the containment prefix bound):
    candidates grow with shared-rare-shingle density, not
    quadratically. LOSSLESS — the oracle is the quadratic definition."""
    from burst_db_spark.operators.dedup import containment_prefix_pairs

    docs = load(spark, sf_dir, "documents")
    pairs = containment_prefix_pairs(docs, "doc_id", threshold=_CONT_T10 / 10)
    return pairs.select(
        F.col("id_a").alias("a_id"),
        F.col("id_b").alias("b_id"),
        "inter_size",
        "a_size",
    ).orderBy("a_id", "b_id")


# ---------------------------------------------------------------------------
# KNN: int8 scalar-quantized ANN with exact rerank.
# The memory-bandwidth half of the ANN story (IVF/PQ cover the pruning
# half): embeddings are globally min/max-quantized per dimension to int8
# codes (4x smaller than float32, 8x smaller than the double math), the
# candidate sweep runs entirely in BIGINT arithmetic (exact, portable),
# and only the top-C survivors pay for an exact float rerank. Every step
# is integer- or ordered-fold-deterministic, so the oracle replays the
# identical pipeline in SQL.

_SQ_QUERIES = 8
_SQ_TOPC = 24
_SQ_TOPK = 5
_SQ_DIM = 64
_DOT_FOLD = (
    "list_reduce(list_transform(range(1, {n} + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
)


def _cos_fold(a: str, b: str, n: int) -> str:
    dot = _DOT_FOLD.format(a=a, b=b, n=n)
    na = _DOT_FOLD.format(a=a, b=a, n=n)
    nb = _DOT_FOLD.format(a=b, b=b, n=n)
    return f"{dot} / (sqrt({na}) * sqrt({nb}))"


@register(
    "knn_int8_quantized",
    oracle=f"""
    WITH dims AS (
        SELECT i AS dim,
               min(CAST(embedding[i] AS DOUBLE)) AS mn,
               max(CAST(embedding[i] AS DOUBLE)) AS mx
        FROM embeddings, unnest(range(1, {_SQ_DIM} + 1)) AS r(i)
        GROUP BY i
    ),
    params AS (
        SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs
        FROM dims
    ),
    codes AS (
        SELECT vec_id, embedding,
               list_transform(range(1, {_SQ_DIM} + 1),
                   i -> CAST(round(coalesce(
                            (CAST(embedding[i] AS DOUBLE) - mns[i]) * 254
                            / nullif(mxs[i] - mns[i], 0), 127)) AS BIGINT)
                        - 127) AS code
        FROM embeddings, params
    ),
    cand AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_reduce(list_transform(range(1, {_SQ_DIM} + 1),
                   i -> (q.code[i] - c.code[i]) * (q.code[i] - c.code[i])),
                   (x, y) -> x + y) AS dist2,
               q.embedding AS qv, c.embedding AS cv
        FROM codes q JOIN codes c ON q.vec_id != c.vec_id
        WHERE q.vec_id < {_SQ_QUERIES}
    ),
    topc AS (
        SELECT * FROM (
            SELECT query_id, neighbor_id, dist2, qv, cv,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY dist2, neighbor_id) AS crank
            FROM cand)
        WHERE crank <= {_SQ_TOPC}
    )
    SELECT query_id, neighbor_id,
           CAST(rank AS INTEGER) AS rank, cos
    FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank,
               cos
        FROM (SELECT query_id, neighbor_id,
                     {_cos_fold("qv", "cv", _SQ_DIM)} AS cos
              FROM topc))
    WHERE rank <= {_SQ_TOPK}
    ORDER BY query_id, rank
    """,
    tags=("similarity", "knn", "quantization", "int8", "llm-pipeline"),
)
def knn_int8_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized ANN (operators/similarity.int8_quantized_topk):
    global per-dim min/max (one tiny agg, broadcast back), int8 codes
    via round((x-mn)*254/(mx-mn))-127, an exact BIGINT L2 sweep over
    the codes (zip_with + ordered aggregate, all JVM HOFs), top-C by
    integer distance, then exact double-cosine rerank of C=24 survivors
    only. At 100 TB the code table is 4x smaller than the float table
    and the int sweep is SIMD-friendly whole-stage codegen; compose
    with the IVF cell pruning (knn_ivf_*) for the full funnel.
    Deterministic end-to-end: int distances are exact, the rerank fold
    is element-ordered."""
    from burst_db_spark.operators.similarity import int8_quantized_topk

    emb = load(spark, sf_dir, "embeddings")
    return int8_quantized_topk(
        emb, n_queries=_SQ_QUERIES, topc=_SQ_TOPC, topk=_SQ_TOPK, dim=_SQ_DIM
    )


# ---------------------------------------------------------------------------
# P12: dynamic partition pruning — the 100 TB fact-scan killer feature.
# A date-partitioned fact joined to a dim filtered on a NON-partition
# attribute: Spark plants a dynamicpruning subquery into the fact scan's
# partition filters at runtime (reusing the broadcast), so only the
# partitions the dim survivors name are read. tests/test_plan_shapes.py
# asserts the `dynamicpruning` expression is in the scan.

import os as _os



def _dpp_fixture(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write events date-partitioned + a date dim (with ISO day-of-week
    attribute) as parquet; deterministic content, throwaway location."""
    base = tmpdir("bds_p12_")
    fact_path = _os.path.join(base, "fact")
    dim_path = _os.path.join(base, "dim")
    ev = load(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    ev.write.mode("overwrite").partitionBy("event_date").parquet(fact_path)
    (
        ev.select("event_date").distinct()
        .withColumn("dow_iso", F.weekday("event_date") + F.lit(1))
        .write.mode("overwrite").parquet(dim_path)
    )
    return fact_path, dim_path


@register(
    "p12_dynamic_partition_pruning",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT)
               AS sum_value_micros
    FROM events
    WHERE isodow(CAST(ts AS DATE)) IN (1, 2)
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("P12", "partition-pruning", "dpp", "scan"),
)
def p12_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact partitioned by event_date joins a dim filtered on dow_iso
    (Mon/Tue) — a predicate the planner cannot map to partitions
    statically. Dynamic partition pruning turns the broadcast dim's
    surviving dates into a runtime partition filter on the fact scan:
    ~2/7 of partitions read instead of all. The oracle recomputes from
    the raw events table (Spark weekday()+1 == DuckDB isodow, pinned
    here). The value sum is quantized PER ROW with integer arithmetic —
    floor(value*1e6) is one IEEE multiply + floor, bit-identical on any
    engine — then summed as BIGINT (exact, order-free). The r7 driver
    red taught the lesson: a per-row double→decimal cast exposes the
    engines' rounding modes (Spark HALF_UP vs DuckDB half-even) at
    exact midpoints; integer quantization has no rounding mode."""
    fact_path, dim_path = _dpp_fixture(spark, sf_dir)
    fact = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path)
    return (
        fact.join(
            F.broadcast(dim.where(F.col("dow_iso").isin(1, 2))),
            "event_date",
        )
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.floor(F.col("value") * F.lit(1e6)).cast("bigint"))
            .cast("bigint")
            .alias("sum_value_micros"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# O6: distributed global rank — total ordering without the single-partition
# window anti-pattern. repartitionByRange gives disjoint sorted key ranges;
# per-partition row_number plus a 16-entry offset table (the only
# driver-side piece, bounded by the partition count, never by the data)
# yields exact global ranks. This is how you produce a globally sorted /
# ranked 100 TB export: orderBy on a 1000-executor cluster does exactly
# this under the hood; here the rank assignment is made explicit so it
# composes (stride samples, percentile slices, pagination).

_O6_PARTS = 16
_O6_STRIDE = 997


@register(
    "o6_range_partitioned_sort",
    oracle=f"""
    WITH ranked AS (
        SELECT l_orderkey, l_linenumber, l_extendedprice,
               row_number() OVER (ORDER BY l_extendedprice DESC,
                                  l_orderkey, l_linenumber) AS rnk
        FROM lineitem
    )
    SELECT CAST(rnk AS BIGINT) AS rnk, l_orderkey,
           CAST(l_linenumber AS BIGINT) AS l_linenumber, l_extendedprice
    FROM ranked
    WHERE rnk <= 20 OR rnk % {_O6_STRIDE} = 0
    ORDER BY rnk
    """,
    tags=("O6", "sort", "range-partition", "global-rank"),
)
def o6_range_partitioned_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global rank via range partitioning: repartitionByRange(16)
    on (price DESC, orderkey, linenumber) + sortWithinPartitions, local
    row_number per range partition, then add per-partition offsets
    (cumulative counts over a 16-row driver-side table — bounded by
    partition count). No global single-partition Exchange anywhere; the
    oracle is the plain ROW_NUMBER() OVER (ORDER BY ...) definition.
    Output is the head + a 1-in-997 stride sample so the row count
    stays bounded at any SF."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    order_cols = [
        F.desc("l_extendedprice"),
        F.asc("l_orderkey"),
        F.asc("l_linenumber"),
    ]
    parts = li.repartitionByRange(_O6_PARTS, *order_cols).sortWithinPartitions(
        *order_cols
    )
    # Persist pins ONE range partitioning: the offset-count action and the
    # final ranked action must see identical partition boundaries (range
    # sampling and AQE re-planning may otherwise differ between actions —
    # observed as an off-by-one rank at sf0.01).
    with_pid = persist(parts.withColumn("pid", F.spark_partition_id()))
    # bounded driver-side reduction: one count per range partition
    counts = sorted(
        (r["pid"], r["cnt"])
        for r in with_pid.groupBy("pid").agg(F.count("*").alias("cnt")).collect()
    )
    offsets, acc = {}, 0
    for pid, cnt in counts:
        offsets[pid] = acc
        acc += cnt
    off_df = F.broadcast(
        spark.createDataFrame(
            [(pid, off) for pid, off in offsets.items()], "pid int, off bigint"
        )
    )
    w_local = Window.partitionBy("pid").orderBy(*order_cols)
    ranked = (
        with_pid.withColumn("local_rn", F.row_number().over(w_local))
        .join(off_df, "pid")
        .withColumn("rnk", (F.col("off") + F.col("local_rn")).cast("bigint"))
    )
    return (
        ranked.where((F.col("rnk") <= 20) | (F.col("rnk") % _O6_STRIDE == 0))
        .select(
            "rnk",
            "l_orderkey",
            F.col("l_linenumber").cast("bigint"),
            "l_extendedprice",
        )
        .orderBy("rnk")
    )


# ---------------------------------------------------------------------------
# F: map higher-order-function surface (map_from_entries /
# transform_values / map_filter / map_entries). The map type itself has
# no stable cross-engine wire order, so the output is canonicalized to a
# sorted "k=v" string — the oracle recomputes the same result relationally.


@register(
    "f_map_gauntlet",
    oracle="""
    WITH counts AS (
        SELECT o_custkey % 10 AS bucket, o_orderpriority AS k,
               count(*) AS v
        FROM orders GROUP BY 1, 2
    ),
    pct AS (
        SELECT bucket, k,
               v * 100 // sum(v) OVER (PARTITION BY bucket) AS share
        FROM counts
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(CASE WHEN share >= 15 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_major,
           string_agg(CASE WHEN share >= 15 THEN k || '=' || share END,
                      ',' ORDER BY k) AS major_str
    FROM pct
    GROUP BY bucket
    ORDER BY bucket
    """,
    tags=("functions", "map", "hof"),
)
def f_map_gauntlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map HOF gauntlet: priority→count maps per customer bucket built
    with map_from_entries, integer-share rewrite via transform_values
    (v*100 DIV total — exact), map_filter keeps the >= 15% entries,
    map_entries + array_sort canonicalizes for output. All JVM
    built-ins inside whole-stage codegen; the map never leaves the
    executors un-canonicalized."""
    orders = load(spark, sf_dir, "orders")
    counts = orders.groupBy(
        (F.col("o_custkey") % 10).alias("bucket"),
        F.col("o_orderpriority").alias("k"),
    ).agg(F.count("*").alias("v"))
    m = counts.groupBy("bucket").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("k", "v")))
        ).alias("m"),
        F.sum("v").alias("total"),
    )
    shares = m.withColumn(
        "shares",
        F.expr("transform_values(m, (k, v) -> v * 100 DIV total)"),
    ).withColumn("major", F.expr("map_filter(shares, (k, v) -> v >= 15)"))
    return (
        shares.select(
            "bucket",
            F.size("shares").cast("bigint").alias("n_keys"),
            F.size("major").cast("bigint").alias("n_major"),
            # nullif: an empty map must yield NULL (as DuckDB's
            # string_agg over zero rows does), not '' — cross-engine
            # parity even if no entry ever clears the 15% bar.
            F.nullif(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(F.map_entries("major")),
                        lambda e: F.concat_ws(
                            "=", e["key"], e["value"].cast("string")
                        ),
                    ),
                ),
                F.lit(""),
            ).alias("major_str"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# MM: stride frame-sampling with a REAL decode. mm_frame_sample is the
# metadata-only planning pass (which frame indices to touch); this row is
# the decode half: synthetic fixed-size-frame video containers are built
# as opaque binary blobs + typed metadata, and a mapInPandas stage slices
# the actual frame bytes at stride 3. The oracle recomputes the byte
# sums from the deterministic frame formula via the events table — so a
# wrong slice offset or stride in the Python decode fails the driver's
# hash check, not just a pytest.

_VID_FRAME_BYTES = 32
_VID_MAX_FRAMES = 40
_VID_STRIDE = 3


def _video_fixture(spark: SparkSession, sf_dir: str) -> str:
    """One 'video' per events user: n_frames = min(#events, 40); frame k
    byte j = (user*31 + k*7 + j) % 256. Blobs are built distributed
    (applyInPandas-free: a vectorized pandas UDF over the per-user
    counts), written as parquet binary + metadata, read back opaque."""
    import pandas as pd

    out = _os.path.join(tmpdir("bds_mm_vid_"), "videos")
    ev = load(spark, sf_dir, "events")
    meta = (
        ev.groupBy(F.col("user_id").alias("video_id"))
        .agg(
            F.least(F.count("*"), F.lit(_VID_MAX_FRAMES))
            .cast("int")
            .alias("n_frames")
        )
    )

    def _encode(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["payload"] = [
                b"".join(
                    bytes(
                        (int(u) * 31 + k * 7 + j) % 256
                        for j in range(_VID_FRAME_BYTES)
                    )
                    for k in range(int(nf))
                )
                for u, nf in zip(pdf["video_id"], pdf["n_frames"])
            ]
            yield pdf

    blobs = meta.mapInPandas(
        _encode, "video_id long, n_frames int, payload binary"
    )
    blobs.write.mode("overwrite").parquet(out)
    return out


@register(
    "mm_video_framesample",
    oracle=f"""
    WITH meta AS (
        SELECT user_id AS video_id,
               least(count(*), {_VID_MAX_FRAMES}) AS nf
        FROM events GROUP BY user_id
    )
    SELECT video_id,
           CAST(len(range(0, nf, {_VID_STRIDE})) AS BIGINT) AS n_sampled,
           CAST((nf - 1) // {_VID_STRIDE} * {_VID_STRIDE} AS BIGINT) AS max_idx,
           CAST(list_sum(list_transform(range(0, nf, {_VID_STRIDE}),
                k -> (video_id * 31 + k * 7) % 256)) AS BIGINT) AS sum_first_byte,
           CAST(list_sum(list_transform(range(0, nf, {_VID_STRIDE}),
                k -> list_sum(list_transform(range({_VID_FRAME_BYTES}),
                     j -> (video_id * 31 + k * 7 + j) % 256)))) AS BIGINT)
               AS sum_frame_bytes
    FROM meta
    ORDER BY video_id
    """,
    tags=("multimodal", "video", "frame-sample", "decode", "mapInPandas"),
)
def mm_video_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-path stride frame sampling: read opaque video blobs, slice
    every 3rd fixed-size frame's REAL bytes in an Arrow-batched
    mapInPandas stage, aggregate per-video byte sums. The oracle derives
    the expected sums from the generator formula over the events table —
    independent of the Python decode, so offset/stride bugs are caught
    cross-engine. Scale shape: blobs never leave their partition, the
    decode is a map-only stage, and the aggregate is a partial-agg
    shuffle on video_id."""
    import pandas as pd
    from typing import Iterator

    path = _video_fixture(spark, sf_dir)
    vids = spark.read.parquet(path)

    def _sample(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            rows = []
            for vid, nf, payload in zip(
                pdf["video_id"].astype(int),
                pdf["n_frames"].astype(int),
                pdf["payload"],
            ):
                blob = bytes(payload)
                for k in range(0, nf, _VID_STRIDE):
                    frame = blob[
                        k * _VID_FRAME_BYTES : (k + 1) * _VID_FRAME_BYTES
                    ]
                    rows.append(
                        (vid, k, frame[0], sum(frame))
                    )
            yield pd.DataFrame(
                rows, columns=["video_id", "frame_idx", "first_byte", "frame_sum"]
            )

    frames = vids.mapInPandas(
        _sample,
        "video_id long, frame_idx int, first_byte int, frame_sum long",
    )
    return (
        frames.groupBy("video_id")
        .agg(
            F.count("*").cast("bigint").alias("n_sampled"),
            F.max("frame_idx").cast("bigint").alias("max_idx"),
            F.sum("first_byte").cast("bigint").alias("sum_first_byte"),
            F.sum("frame_sum").cast("bigint").alias("sum_frame_bytes"),
        )
        .orderBy("video_id")
    )


# ---------------------------------------------------------------------------
# T: end-to-end near-superset scrub — the consumer of the containment
# join. A document dies when it is ≥0.6-contained in a STRICTLY LARGER
# shingle set (id tiebreak on equal sizes, so mutual near-duplicates
# lose exactly one member). Mirrors dd_corpus_survivors (the MinHash
# consumer) for the containment family.


@register(
    "t_containment_survivors",
    oracle=rf"""
    WITH t AS (SELECT doc_id, n_chars,
                      string_split_regex(lower(trim(text)), '\s+') AS w
               FROM documents),
    sh AS (SELECT doc_id, n_chars, {_SHINGLE_SQL} AS s FROM t),
    removed AS (
        SELECT DISTINCT a.doc_id
        FROM sh a JOIN sh b ON a.doc_id != b.doc_id
        WHERE len(a.s) > 0
          AND len(list_intersect(a.s, b.s)) * 10 >= {_CONT_T10} * len(a.s)
          AND (len(b.s) > len(a.s)
               OR (len(b.s) = len(a.s) AND b.doc_id < a.doc_id))
    )
    SELECT CAST(count(*) AS BIGINT) AS n_survivors,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(min(doc_id) AS BIGINT) AS min_id,
           CAST(max(doc_id) AS BIGINT) AS max_id,
           md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
               AS ids_md5
    FROM sh WHERE doc_id NOT IN (SELECT doc_id FROM removed)
    """,
    tags=("text", "dedup", "containment", "survivors", "llm-pipeline"),
)
def t_containment_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment-based corpus scrub: prefix-filtered containment pairs
    (never all-pairs), keep only losers against strictly-larger shingle
    sets (id tiebreak), anti-join the removals, emit an order-insensitive
    summary + the md5 of the ordered survivor id list (so the driver
    checks MEMBERSHIP, not just counts). One candidate equi-join + one
    anti-join over the corpus — the shape that survives 100 TB."""
    from burst_db_spark.operators.dedup import (
        containment_prefix_pairs,
        prefix_doc_sets,
    )

    docs = load(spark, sf_dir, "documents")
    # Optimization r14 wave 12c (guide §2.3): the b-side sizes were
    # recomputed with a FULL tokenize+shingle+groupBy pass; the operator's
    # persisted doc frame already carries n_sh = count of each doc's
    # distinct shingles — the identical integer the extra pass produced.
    sets = prefix_doc_sets(docs, "doc_id", threshold=_CONT_T10 / 10)
    pairs = containment_prefix_pairs(
        docs, "doc_id", threshold=_CONT_T10 / 10, doc_sets=sets
    )
    sizes = sets.select("doc_id", F.col("n_sh").alias("b_size"))
    removed = (
        pairs.join(
            sizes.select(F.col("doc_id").alias("id_b"), "b_size"), "id_b"
        )
        .where(
            (F.col("b_size") > F.col("a_size"))
            | ((F.col("b_size") == F.col("a_size")) & (F.col("id_b") < F.col("id_a")))
        )
        .select(F.col("id_a").alias("doc_id"))
        .distinct()
    )
    survivors = docs.join(removed, "doc_id", "left_anti")
    return survivors.groupBy().agg(
        F.count("*").cast("bigint").alias("n_survivors"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.min("doc_id").cast("bigint").alias("min_id"),
        F.max("doc_id").cast("bigint").alias("max_id"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id"))),
                    lambda s: s["doc_id"].cast("string"),
                ),
            )
        ).alias("ids_md5"),
    )


# ---------------------------------------------------------------------------
# Streaming mergeable-sketch maintenance: per-micro-batch KMV partials
# via foreachBatch, merged after the drain. The KMV merge is associative,
# commutative, and duplicate-tolerant (distinct-by-hash), so the final
# sketch is INDEPENDENT of how the stream was batched — which is exactly
# why mergeable sketches are the right streaming-state shape at 100 TB
# (contrast the append-mode aggregation rows, which need one file per
# logical batch for deterministic emission). The oracle computes the
# same bottom-k directly from the batch table.

_SKMV_K = 8


@register(
    "stream_kmv_sketch",
    oracle=f"""
    WITH hashed AS (
        SELECT DISTINCT event_type,
               md5(CAST(user_id AS VARCHAR)) AS h
        FROM events
    ),
    ranked AS (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM hashed
    ),
    kth AS (
        SELECT event_type, h AS kth_hash,
               CAST('0x' || substr(h, 1, 12) AS BIGINT) AS r48
        FROM ranked WHERE rn = {_SKMV_K}
    ),
    truth AS (
        SELECT event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS true_distinct
        FROM events GROUP BY 1
    )
    SELECT t.event_type, kth_hash,
           CAST(({_SKMV_K} - 1) * {_POW48} // r48 AS BIGINT) AS est_distinct,
           true_distinct
    FROM truth t JOIN kth USING (event_type)
    ORDER BY t.event_type
    """,
    tags=("streaming", "sketch", "kmv", "foreachBatch", "mergeable"),
)
def stream_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-user sketch: events arrive as 4 micro-batches
    (maxFilesPerTrigger=1), each foreachBatch computes its own bottom-k
    KMV partial (k rows per event_type) and APPENDS it to a parquet
    partial store — per-batch state is k-sized, never user-cardinality-
    sized. The post-drain merge (union partials → distinct hash →
    re-cut bottom-k) equals the batch KMV over all events no matter how
    the stream was split, because KMV merge is an idempotent
    commutative monoid — the property that lets 1000 executors (or 30
    days of streaming checkpoints) maintain cardinalities without ever
    re-reading raw data. Same integer-exact estimator as
    a32_kmv_distinct."""
    tmp = tmpdir("bds_skmv_")
    src = load(spark, sf_dir, "events").select("event_type", "user_id")
    src.repartition(4).write.parquet(f"{tmp}/in")
    partials = f"{tmp}/partials"

    stream = (
        spark.readStream.format("parquet")
        .schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .load(f"{tmp}/in")
    )

    def _partial(batch_df: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy("event_type").orderBy("h")
        (
            batch_df.select(
                "event_type", F.md5(F.col("user_id").cast("string")).alias("h")
            )
            .distinct()
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= _SKMV_K)
            .select("event_type", "h")
            .write.mode("append")
            .parquet(partials)
        )

    run_drain(spark, stream.writeStream.foreachBatch(_partial), tmp)

    merged = spark.read.parquet(partials).distinct()
    w_m = Window.partitionBy("event_type").orderBy("h")
    kth = (
        merged.withColumn("rn", F.row_number().over(w_m))
        .where(F.col("rn") == _SKMV_K)
        .select(
            "event_type",
            F.col("h").alias("kth_hash"),
            F.conv(F.substring("h", 1, 12), 16, 10).cast("bigint").alias("r48"),
        )
    )
    truth = (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").cast("bigint").alias("true_distinct"))
    )
    return (
        truth.join(kth, "event_type")
        .select(
            "event_type",
            "kth_hash",
            F.expr(
                f"CAST(({_SKMV_K} - 1) * CAST({_POW48} AS BIGINT) DIV r48 AS BIGINT)"
            ).alias("est_distinct"),
            "true_distinct",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# A33: exact per-group median in TWO passes — no global sort, no
# per-group sort-buffer aggregate. Pass 1 histograms the value domain
# into coarse buckets (per-group partial-agg, ~1k rows to the driver);
# the bucket containing the target rank is found driver-side; pass 2
# counts exact values INSIDE that one bucket only and picks the rank.
# This is how you take an exact quantile of a 100 TB column: two
# scans with map-side partial aggregation and a driver reduction
# bounded by bucket count — versus percentile()'s per-group sorted
# buffer (unbounded state) or a full ORDER BY (global sort).

_MED_SHIFT = 16  # bucket = cents >> 16 (~65k cents per bucket)


@register(
    "a33_exact_median_2pass",
    oracle="""
    WITH t AS (
        SELECT l_returnflag AS grp,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem
    ),
    c AS (SELECT grp, cents, count(*) AS n FROM t GROUP BY 1, 2),
    w AS (
        SELECT grp, cents,
               sum(n) OVER (PARTITION BY grp ORDER BY cents) AS cum,
               sum(n) OVER (PARTITION BY grp) AS tot
        FROM c
    )
    SELECT grp,
           CAST(min(cents) AS BIGINT) AS median_cents,
           CAST(min(tot) AS BIGINT) AS n_rows
    FROM w
    WHERE cum >= (tot + 1) // 2
    GROUP BY grp
    ORDER BY grp
    """,
    tags=("A33", "quantile", "exact-median", "two-pass", "scale"),
)
def a33_exact_median_2pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact lower median (smallest v with cum_count(v) >= ceil(N/2)) of
    price-in-cents per returnflag, computed scale-style: pass 1 is a
    (grp, cents >> 16) histogram (map-side partials; driver sees one
    row per coarse bucket, ~hundreds), the rank-holding bucket is
    located in the driver's cumulative sum, pass 2 re-scans counting
    exact cents values only WHERE the value falls in that single bucket
    (pushed range filter) and picks the in-bucket rank with one tiny
    window. The rank definition is pinned in integer arithmetic on both
    sides — no engine percentile semantics in play."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    # pass 1: coarse histogram + per-group totals
    hist = (
        li.groupBy("grp", (F.shiftright("cents", _MED_SHIFT)).alias("bucket"))
        .agg(F.count("*").alias("n"))
        .collect()
    )
    totals: dict[str, int] = {}
    by_grp: dict[str, list] = {}
    for r in hist:
        totals[r["grp"]] = totals.get(r["grp"], 0) + r["n"]
        by_grp.setdefault(r["grp"], []).append((r["bucket"], r["n"]))
    target, bucket_of = {}, {}
    for g, rows in by_grp.items():
        k = (totals[g] + 1) // 2
        target[g] = k
        cum = 0
        for b, n in sorted(rows):
            if cum + n >= k:
                bucket_of[g] = b
                target[g] = k - cum  # in-bucket rank
                break
            cum += n
    sel = spark.createDataFrame(
        [(g, bucket_of[g], target[g], totals[g]) for g in sorted(bucket_of)],
        "grp string, bucket bigint, k bigint, tot bigint",
    )
    # pass 2: exact counts inside the one selected bucket per group
    in_bucket = li.join(
        F.broadcast(sel),
        (li["grp"] == sel["grp"])
        & (F.shiftright(li["cents"], _MED_SHIFT) == sel["bucket"]),
    ).select(li["grp"].alias("grp"), "cents", "k", "tot")
    counts = in_bucket.groupBy("grp", "cents", "k", "tot").agg(
        F.count("*").alias("n")
    )
    w_cum = (
        Window.partitionBy("grp")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        counts.withColumn("cum", F.sum("n").over(w_cum))
        .where(F.col("cum") >= F.col("k"))
        .groupBy("grp")
        .agg(
            F.min("cents").cast("bigint").alias("median_cents"),
            F.min("tot").cast("bigint").alias("n_rows"),
        )
        .orderBy("grp")
    )


# ---------------------------------------------------------------------------
# A34: group-wise closed-form linear regression from algebraic moments.
# "Training at scale" in its simplest exact form: OLS needs only
# (n, Σx, Σy, Σxy, Σx²) — all partial-aggregatable, all EXACT here
# (x is integer epoch-days, y is DECIMAL cents), so the map-side
# combine does the heavy lifting and the final slope/intercept are a
# deterministic double expression over exact integers on both engines.


@register(
    "a34_grouped_ols",
    oracle="""
    WITH t AS (
        SELECT o_orderpriority AS grp,
               date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS x,
               CAST(round(o_totalprice * 100) AS BIGINT) AS y_cents
        FROM orders
    ),
    m AS (
        SELECT grp,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y_cents) AS BIGINT) AS sy,
               CAST(sum(x * y_cents) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM t GROUP BY grp
    )
    SELECT grp, n,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope_cents_per_day,
           (CAST(sy AS DOUBLE)
            - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
              * CAST(sx AS DOUBLE))
           / CAST(n AS DOUBLE) AS intercept_cents
    FROM m
    ORDER BY grp
    """,
    tags=("A34", "regression", "moments", "algebraic", "scale"),
)
def a34_grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority OLS of order price (cents) against order date
    (epoch days): one groupBy computing the five algebraic moments —
    every one partial-aggregatable and integer-EXACT (x int days,
    y bigint cents, Σxy/Σx² in bigint; max |Σxy| here ≈ 1e13, far under
    2^63) — then slope/intercept as a fixed double expression over the
    exact sums, identical token-for-token to the oracle's, so the
    floats match bit-for-bit. The pattern generalizes to any moment-
    closed statistic (covariance, correlation, polynomial fits): at
    100 TB the shuffle carries five numbers per group, never rows."""
    orders = load(spark, sf_dir, "orders")
    t = orders.select(
        F.col("o_orderpriority").alias("grp"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01")).alias("x"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("y_cents"),
    )
    m = t.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y_cents").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y_cents")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    slope = (
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    )
    intercept = (
        "(CAST(sy AS DOUBLE)"
        f" - ({slope}) * CAST(sx AS DOUBLE))"
        " / CAST(n AS DOUBLE)"
    )
    return m.select(
        "grp",
        "n",
        F.expr(slope).alias("slope_cents_per_day"),
        F.expr(intercept).alias("intercept_cents"),
    ).orderBy("grp")


# ---------------------------------------------------------------------------
# W15: timestamp-domain interval coalescing (gaps-and-islands over real
# intervals). The point-event sessionizers (w2 family) cluster by GAP
# between points; this one merges OVERLAPPING intervals — coverage/
# downtime/validity-window math. Island detection is the running-max
# trick: an interval starts a new island iff its start exceeds the max
# end of every earlier interval in its key.


@register(
    "w15_interval_coalesce",
    oracle="""
    WITH iv AS (
        SELECT user_id, ts AS s, ts + INTERVAL 2 HOUR AS e,
               event_id
        FROM events
    ),
    flagged AS (
        SELECT user_id, s, e,
               CASE WHEN s > max(e) OVER (
                        PARTITION BY user_id ORDER BY s, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    OR max(e) OVER (
                        PARTITION BY user_id ORDER BY s, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       IS NULL
                    THEN 1 ELSE 0 END AS new_island,
               event_id
        FROM iv
    ),
    islands AS (
        SELECT user_id, s, e,
               sum(new_island) OVER (
                   PARTITION BY user_id ORDER BY s, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS island_id
        FROM flagged
    )
    SELECT user_id, CAST(island_id AS BIGINT) AS island_id,
           CAST(min(s) AS TIMESTAMP) AS island_start,
           CAST(max(e) AS TIMESTAMP) AS island_end,
           CAST(count(*) AS BIGINT) AS n_intervals
    FROM islands
    GROUP BY user_id, island_id
    ORDER BY user_id, island_id
    """,
    tags=("W15", "intervals", "gaps-islands", "coalesce", "window"),
)
def w15_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge overlapping per-user validity intervals ([ts, ts+2h) per
    event) into maximal islands: running max-end over the key-ordered
    window finds island starts, a running sum numbers them, one groupBy
    emits (start, end, n) per island. Two window passes + one partial
    aggregate on the same (user_id) partitioning — a single exchange
    end-to-end. The interval twin of gap sessionization (w2): inputs
    are RANGES, so islands merge through chains of pairwise overlaps
    that point-gap logic cannot see."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("e"),
        "event_id",
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = ev.withColumn("prev_max_e", F.max("e").over(w_prev)).withColumn(
        "new_island",
        (
            F.col("prev_max_e").isNull() | (F.col("s") > F.col("prev_max_e"))
        ).cast("int"),
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.withColumn(
        "island_id", F.sum("new_island").over(w_cum).cast("bigint")
    )
    return (
        islands.groupBy("user_id", "island_id")
        .agg(
            F.min("s").alias("island_start"),
            F.max("e").alias("island_end"),
            F.count("*").cast("bigint").alias("n_intervals"),
        )
        .orderBy("user_id", "island_id")
    )


# ---------------------------------------------------------------------------
# F: ANSI error-handling surface — try_divide / try_multiply / try_cast /
# try_element_at. At 100 TB a single malformed row must NOT kill a
# 10-hour job: the try_ family turns row-level arithmetic faults
# (divide-by-zero, bigint overflow, bad casts, out-of-bounds access)
# into NULLs that aggregate away. The oracle reproduces the exact NULL
# semantics with guarded CASE expressions in DuckDB.

_TRY_BIG = 1 << 62


@register(
    "f_try_arithmetic",
    oracle=f"""
    WITH t AS (
        SELECT l_returnflag AS flag,
               CASE WHEN l_linenumber = 1 THEN NULL
                    ELSE CAST(l_extendedprice AS DOUBLE)
                         / (l_linenumber - 1) END AS d,
               CASE WHEN l_orderkey % 97 = 0 AND l_orderkey >= 2 THEN NULL
                    WHEN l_orderkey % 97 = 0 THEN l_orderkey * {_TRY_BIG}
                    ELSE l_orderkey END AS o,
               TRY_CAST(CASE WHEN CAST(l_quantity AS BIGINT) % 7 = 0
                             THEN 'x' || CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)
                             ELSE CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)
                        END AS INTEGER) AS n,
               ([10, 20, 30])[l_linenumber + 1] AS e
        FROM lineitem
    )
    SELECT flag,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count(d) AS BIGINT) AS d_nulls,
           CAST(sum(CAST(floor(d * 100) AS BIGINT)) AS BIGINT) AS d_sum_cents,
           CAST(count(o) AS BIGINT) AS o_ok,
           CAST(count(*) - count(n) AS BIGINT) AS n_nulls,
           CAST(sum(n) AS BIGINT) AS n_sum,
           CAST(count(e) AS BIGINT) AS e_ok,
           CAST(sum(e) AS BIGINT) AS e_sum
    FROM t
    GROUP BY flag
    ORDER BY flag
    """,
    tags=("functions", "ansi", "try", "error-handling"),
)
def f_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """try_* gauntlet over lineitem: try_divide NULLs the
    divide-by-zero rows (l_linenumber=1), try_multiply NULLs the bigint
    overflows (every 97th orderkey is hit with a 2^62 multiplier),
    try_cast NULLs the strings poisoned with a non-numeric prefix, and
    try_element_at NULLs the out-of-bounds array reads — row-level
    faults downgraded to NULLs, then aggregated per returnflag.

    Scale note (measured at sf0.1): the try_* overflow path is
    EXCEPTION-driven per faulting row — an earlier draft where every
    row overflowed cost 9.9 s on 600k rows vs ~0.3 s with rare faults.
    try_* is the right tool when faults are the exception; a predicate
    pre-filter is the right tool when they are the rule.

    Arithmetic-route note (r7 driver red, hardened r8): the divide runs
    on DOUBLE on BOTH engines (decimal÷int takes Spark's exact-decimal
    route vs DuckDB's double route — they agree only off rounding
    boundaries), and its aggregate is floor(d*100) summed as BIGINT —
    one IEEE multiply + floor per row, bit-identical cross-engine, then
    an exact order-free integer sum."""
    li = load(spark, sf_dir, "lineitem")
    # project the five needed columns before the fan-out
    li = fan_out(li.select(
        "l_returnflag", "l_extendedprice", "l_linenumber", "l_orderkey",
        "l_quantity",
    ))
    t = li.select(
        F.col("l_returnflag").alias("flag"),
        F.expr(
            "try_divide(CAST(l_extendedprice AS DOUBLE), l_linenumber - 1)"
        ).alias("d"),
        F.expr(
            f"try_multiply(l_orderkey, CASE WHEN l_orderkey % 97 = 0"
            f" THEN CAST({_TRY_BIG} AS BIGINT) ELSE CAST(1 AS BIGINT) END)"
        ).alias("o"),
        F.expr(
            "try_cast(CASE WHEN CAST(l_quantity AS BIGINT) % 7 = 0"
            " THEN concat('x', CAST(CAST(l_quantity AS BIGINT) AS STRING))"
            " ELSE CAST(CAST(l_quantity AS BIGINT) AS STRING) END AS INT)"
        ).alias("n"),
        F.expr("try_element_at(array(10, 20, 30), l_linenumber + 1)").alias("e"),
    )
    return (
        t.groupBy("flag")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            (F.count("*") - F.count("d")).cast("bigint").alias("d_nulls"),
            F.sum(F.floor(F.col("d") * F.lit(100.0)).cast("bigint"))
            .cast("bigint")
            .alias("d_sum_cents"),
            F.count("o").cast("bigint").alias("o_ok"),
            (F.count("*") - F.count("n")).cast("bigint").alias("n_nulls"),
            F.sum("n").cast("bigint").alias("n_sum"),
            F.count("e").cast("bigint").alias("e_ok"),
            F.sum("e").cast("bigint").alias("e_sum"),
        )
        .orderBy("flag")
    )


# ---------------------------------------------------------------------------
# W16: OHLC resampling — downsample an event stream to 6-hour bars with
# open/high/low/close per (event_type, bar). open/close are argmin/
# argmax over a composite (ts, event_id) key packed into one BIGINT so
# both engines agree on ties; one partial-aggregating groupBy, no
# window pass at all.
#
# Key packing: ord = epoch_seconds * 2^31 + event_id. event_id stays
# below 2^31 up to sf~2000 (1e6 ids per sf1), and epoch*2^31 tops out
# near 3.8e18 < 2^63 for any timestamp this side of 2106 — so the pack
# is collision-free and overflow-free across every target SF. (The r7
# draft used *1e6, which collides once event_id crosses 1e6 ≈ sf1.)

_ORD_SHIFT = 2_147_483_648  # 2^31; event_id must stay below this bound


@register(
    "w16_resample_ohlc",
    oracle="""
    WITH t AS (
        SELECT event_type,
               CAST(to_timestamp(CAST(floor(epoch(ts)) AS BIGINT)
                    // 21600 * 21600) AS TIMESTAMP) AS bar_start,
               value,
               CAST(floor(epoch(ts)) AS BIGINT) * 2147483648 + event_id AS ord
        FROM events
    )
    SELECT event_type, bar_start,
           arg_min(value, ord) AS open,
           max(value) AS high,
           min(value) AS low,
           arg_max(value, ord) AS close,
           CAST(count(*) AS BIGINT) AS n
    FROM t
    GROUP BY event_type, bar_start
    ORDER BY event_type, bar_start
    """,
    tags=("W16", "timeseries", "resample", "ohlc"),
)
def w16_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-hour OHLC bars per event_type: min_by/max_by over a packed
    (epoch*2^31 + event_id) BIGINT give deterministic open/close under
    timestamp ties; high/low/n are plain min/max/count. Everything is
    algebraic — the map side emits one candidate row per (type, bar)
    partial, so a 100 TB stream resamples in one shuffle whose volume
    is the BAR count, not the event count."""
    ev = load(spark, sf_dir, "events")
    t = ev.select(
        "event_type",
        F.timestamp_seconds(
            (F.unix_timestamp("ts") / 21600).cast("bigint") * 21600
        ).alias("bar_start"),
        "value",
        (F.unix_timestamp("ts").cast("bigint") * _ORD_SHIFT + F.col("event_id")).alias(
            "ord"
        ),
    )
    return (
        t.groupBy("event_type", "bar_start")
        .agg(
            F.min_by("value", "ord").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "ord").alias("close"),
            F.count("*").cast("bigint").alias("n"),
        )
        .orderBy("event_type", "bar_start")
    )


# ---------------------------------------------------------------------------
# U6: declarative data-quality gate — the pipeline pre-flight that runs
# before any 100 TB job: referential integrity (anti-joins), key
# uniqueness, domain ranges, all as ONE unioned relation of named
# checks so a scheduler can assert `violations == 0` on a single scan
# of the result.


@register(
    "u6_dq_checks",
    oracle="""
    SELECT 'orders_orphan_customer' AS check_name,
           CAST((SELECT count(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT) AS violations
    UNION ALL
    SELECT 'lineitem_orphan_order',
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT)
    UNION ALL
    SELECT 'orders_dup_key',
           CAST((SELECT count(*) FROM
                    (SELECT o_orderkey FROM orders
                     GROUP BY o_orderkey HAVING count(*) > 1))
                AS BIGINT)
    UNION ALL
    SELECT 'lineitem_nonpositive_price',
           CAST((SELECT count(*) FROM lineitem
                 WHERE l_extendedprice <= 0) AS BIGINT)
    UNION ALL
    SELECT 'events_null_user',
           CAST((SELECT count(*) FROM events WHERE user_id IS NULL)
                AS BIGINT)
    ORDER BY check_name
    """,
    tags=("U6", "data-quality", "referential", "anti-join"),
)
def u6_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five named DQ checks in one relation: two referential checks
    (left_anti against the broadcast parent key set — never a shuffle
    of the fact side), one uniqueness check (groupBy HAVING), two
    domain checks (pushed predicates). The output shape (check_name,
    violations) is what a scheduler gates on; every check is
    independently a single-pass plan."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    lineitem = load(spark, sf_dir, "lineitem")
    events = load(spark, sf_dir, "events")

    def one(name: str, df: DataFrame) -> DataFrame:
        return df.groupBy().agg(F.count("*").cast("bigint").alias("violations")).select(
            F.lit(name).alias("check_name"), "violations"
        )

    checks = [
        one(
            "orders_orphan_customer",
            orders.join(
                F.broadcast(customer.select(F.col("c_custkey").alias("o_custkey"))),
                "o_custkey",
                "left_anti",
            ),
        ),
        one(
            "lineitem_orphan_order",
            lineitem.join(
                orders.select(F.col("o_orderkey").alias("l_orderkey")),
                "l_orderkey",
                "left_anti",
            ),
        ),
        one(
            "orders_dup_key",
            orders.groupBy("o_orderkey")
            .agg(F.count("*").alias("c"))
            .where(F.col("c") > 1),
        ),
        one(
            "lineitem_nonpositive_price",
            lineitem.where(F.col("l_extendedprice") <= 0),
        ),
        one("events_null_user", events.where(F.col("user_id").isNull())),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.orderBy("check_name")


# ---------------------------------------------------------------------------
# Streaming OHLC: the stream twin of w16 — the same algebraic bars
# maintained by Structured Streaming in complete mode. Because every
# aggregate is an algebraic monoid (min_by/max_by over the packed
# order key, min/max/count), the streaming state per (type, bar) is
# five scalars, and the drained result must equal the batch bars
# bit-for-bit — which is exactly the oracle.


@register(
    "stream_ohlc_complete",
    oracle="""
    WITH t AS (
        SELECT event_type,
               CAST(to_timestamp(CAST(floor(epoch(ts)) AS BIGINT)
                    // 21600 * 21600) AS TIMESTAMP) AS bar_start,
               value,
               CAST(floor(epoch(ts)) AS BIGINT) * 2147483648 + event_id AS ord
        FROM events
    )
    SELECT event_type, bar_start,
           arg_min(value, ord) AS open,
           max(value) AS high,
           min(value) AS low,
           arg_max(value, ord) AS close,
           CAST(count(*) AS BIGINT) AS n
    FROM t
    GROUP BY event_type, bar_start
    ORDER BY event_type, bar_start
    """,
    tags=("streaming", "ohlc", "complete-mode", "algebraic-state"),
)
def stream_ohlc_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bars maintained by a streaming aggregation (availableNow,
    COMPLETE mode): per-(type, bar) state is five algebraic scalars —
    min_by/max_by fold the packed (epoch*2^31 + event_id) tiebreak key
    incrementally, so arrival order across micro-batches cannot change
    the result and the drained table equals the batch bars (w16)
    bit-for-bit. The 100 TB reading: algebraic aggs are the ONLY
    streaming state that stays O(groups) forever; anything
    order-sensitive would need the full history."""
    src = load(spark, sf_dir, "events").select("event_type", "ts", "value", "event_id")
    tmp = tmpdir("bds_sohlc_")
    src.repartition(4).write.parquet(f"{tmp}/in")
    stream = (
        spark.readStream.format("parquet")
        .schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .load(f"{tmp}/in")
    )
    t = stream.select(
        "event_type",
        F.timestamp_seconds(
            (F.unix_timestamp("ts") / 21600).cast("bigint") * 21600
        ).alias("bar_start"),
        "value",
        (F.unix_timestamp("ts").cast("bigint") * _ORD_SHIFT + F.col("event_id")).alias(
            "ord"
        ),
    )
    agg = t.groupBy("event_type", "bar_start").agg(
        F.min_by("value", "ord").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", "ord").alias("close"),
        F.count("*").cast("bigint").alias("n"),
    )
    return drain(agg, tmp).orderBy("event_type", "bar_start")


# ---------------------------------------------------------------------------
# KNN: the full ANN funnel — learned IVF cells x int8 quantization x
# exact rerank, with the exhaustive-probe derived oracle. Each
# candidate lives in exactly ONE k-means cell, so probing ALL cells
# makes the cell-partitioned int8 sweep equal the GLOBAL int8 sweep —
# whatever centroids training produced — and the global pipeline is
# plain SQL. A hash match therefore certifies the trained assignment,
# the cell equi-join, the int8 distances, and the rerank all at once.
# The production configuration prunes to nprobe<=2 cells (same plan,
# fewer probe rows) — covered rows-only by knn_cosine_ivf_learned.

_FUN_Q_LO, _FUN_Q_HI = 40, 48
_FUN_TOPC, _FUN_TOPK = 24, 5


@register(
    "knn_ivf_int8_funnel",
    oracle=f"""
    WITH dims AS (
        SELECT i AS dim,
               min(CAST(embedding[i] AS DOUBLE)) AS mn,
               max(CAST(embedding[i] AS DOUBLE)) AS mx
        FROM embeddings, unnest(range(1, {_SQ_DIM} + 1)) AS r(i)
        GROUP BY i
    ),
    params AS (
        SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs
        FROM dims
    ),
    codes AS (
        SELECT vec_id, embedding,
               list_transform(range(1, {_SQ_DIM} + 1),
                   i -> CAST(round(coalesce(
                            (CAST(embedding[i] AS DOUBLE) - mns[i]) * 254
                            / nullif(mxs[i] - mns[i], 0), 127)) AS BIGINT)
                        - 127) AS code
        FROM embeddings, params
    ),
    cand AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_reduce(list_transform(range(1, {_SQ_DIM} + 1),
                   i -> (q.code[i] - c.code[i]) * (q.code[i] - c.code[i])),
                   (x, y) -> x + y) AS dist2,
               q.embedding AS qv, c.embedding AS cv
        FROM codes q JOIN codes c ON q.vec_id != c.vec_id
        WHERE q.vec_id >= {_FUN_Q_LO} AND q.vec_id < {_FUN_Q_HI}
    ),
    topc AS (
        SELECT * FROM (
            SELECT query_id, neighbor_id, dist2, qv, cv,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY dist2, neighbor_id) AS crank
            FROM cand)
        WHERE crank <= {_FUN_TOPC}
    )
    SELECT query_id, neighbor_id,
           CAST(rank AS INTEGER) AS rank, cos
    FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank,
               cos
        FROM (SELECT query_id, neighbor_id,
                     {_cos_fold("qv", "cv", _SQ_DIM)} AS cos
              FROM topc))
    WHERE rank <= {_FUN_TOPK}
    ORDER BY query_id, rank
    """,
    tags=("similarity", "ann", "ivf", "int8", "funnel", "derived-oracle"),
)
def knn_ivf_int8_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed ANN funnel: train the k-means codebook (iterative,
    seeded), assign every vector to its cell, quantize the whole table
    to int8 codes, then run the CELL-PARTITIONED int8 sweep (query
    probes explode per cell, candidates join on the cell equi-key — at
    nprobe<k this is the pruning that skips most of a 100 TB code
    table) with every query probing all 8 cells so the derived oracle
    (the global int8 pipeline in SQL) hash-checks the entire funnel.
    Rerank: exact double cosine over the 24 int8 survivors only."""
    from burst_db_spark.operators.similarity import (
        assign_cells,
        int8_codes,
        int8_rerank_topk,
        kmeans_codebook,
    )

    emb = load(spark, sf_dir, "embeddings")
    codebook = kmeans_codebook(emb, k=8, iters=2)
    # fan out AFTER training so the trainer's collect-based means stay
    # byte-identical on the untouched scan
    cells = assign_cells(fan_out(emb), codebook)
    codes = int8_codes(cells, _SQ_DIM).select("vec_id", "embedding", "cell", "code")
    q = (
        codes.where(
            (F.col("vec_id") >= _FUN_Q_LO) & (F.col("vec_id") < _FUN_Q_HI)
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.col("code").alias("qcode"),
        )
        .withColumn("cell", F.explode(F.sequence(F.lit(1), F.lit(8))))
    )
    return int8_rerank_topk(
        codes.join(F.broadcast(q), "cell"), _FUN_TOPC, _FUN_TOPK
    )
