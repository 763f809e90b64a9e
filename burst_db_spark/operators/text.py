"""Text-analysis operators for training-data pipelines: tokenization,
shingling, quality scoring, language-ID heuristic, fingerprinting.

All are pure Column expressions (JVM-side, codegen'd) — no Python UDFs in
the hot path, so they stream through a 100 TB corpus at scan speed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from burst_db_spark.runner import persist
from burst_db_spark.session import parallelism

WORD_SPLIT = r"\s+"
# BPE-ish pre-tokenizer: letter runs | single digits | single punctuation
BPE_ISH = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"

EN_STOP = ("the", "a", "of", "and", "to", "in", "is")
ES_STOP = ("el", "la", "de", "y", "en", "es", "que")


def tokens(text: Column) -> Column:
    """Whitespace tokens of the lower-cased, trimmed text."""
    return F.split(F.lower(F.trim(text)), WORD_SPLIT)


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("int")


def bpe_ish_count(text: Column) -> Column:
    """Sub-word-ish token count via the BPE-style regex."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH), F.lit(0))).cast("int")


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct n-gram (word) shingles as an array column.

    Guarded for texts shorter than n tokens (empty array, matching the
    DuckDB ``range()`` behavior used in the oracles).

    Built from n shifted ``slice``s ``zip_with``-concatenated — NOT a
    ``transform`` over indices with ``get(t, i+j)``: per-element array
    indexing re-inlines the whole-tokenize subtree per gram element
    (codegen expands it O(len·n) times), measured ~8x slower on the
    sf0.1 documents scan. Same construction as
    ``dedup.doc_shingles``, which exists for the same reason.
    """
    t = tokens(text)
    sz = F.size(t)
    n_grams = sz - (n - 1)
    parts = [F.slice(t, j + 1, n_grams) for j in range(n)]
    grams = parts[0]
    for p in parts[1:]:
        grams = F.zip_with(grams, p, lambda a, b: F.concat_ws(" ", a, b))
    return F.when(sz >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def _count_in(toks: Column, words: tuple[str, ...]) -> Column:
    wlist = ", ".join(f"'{w}'" for w in words)
    return F.size(F.filter(toks, lambda x: x.isin(*words))).cast("int")


def lang_guess(text: Column) -> Column:
    """N-gram/stopword language heuristic: argmax of per-language stopword
    hits, 'und' when nothing matches."""
    t = tokens(text)
    en = _count_in(t, EN_STOP)
    es = _count_in(t, ES_STOP)
    return (
        F.when((en == 0) & (es == 0), F.lit("und"))
        .when(en >= es, F.lit("en"))
        .otherwise(F.lit("es"))
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features: lengths, ratios, a composite score.

    Mirrors the usual pretraining-corpus filters (length, punctuation
    density, stopword density) as pure column math.
    """
    text = F.col(text_col)
    t = tokens(text)
    n_tok = F.size(t).cast("int")
    n_char = F.length(text).cast("int")
    punct = F.length(F.regexp_replace(text, r"[^.!?,;]", "")).cast("int")
    stop = _count_in(t, EN_STOP)
    avg_tok_len = (
        F.length(F.regexp_replace(F.trim(text), WORD_SPLIT, "")) / n_tok
    )
    score = (
        F.when(n_tok < 5, 0.0)
        .otherwise(
            1.0
            - F.least(F.lit(1.0), punct / F.greatest(n_tok, F.lit(1)))
        )
    )
    return df.select(
        "*",
        n_tok.alias("n_tokens"),
        n_char.alias("n_chars_computed"),
        punct.alias("n_punct"),
        stop.alias("n_stopwords"),
        avg_tok_len.alias("avg_token_len"),
        score.alias("quality_score"),
    )


def top_tfidf_terms(df: DataFrame, id_col: str, text_col: str = "text", k: int = 3) -> DataFrame:
    """Top-k characteristic terms per document by tf·(N/df).

    Rational idf (N/df instead of log(N/df)) keeps the score an exact
    quotient of integers — rank-equivalent for top-k and bit-identical
    across engines (libm log differs in the last ulp between JVM and C).
    All relational: explode → two counts → join → bounded top-k window.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = (
        toks.select(id_col, "term")
        .distinct()
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    n_docs = df.select(id_col).distinct().count()
    scored = tf.join(F.broadcast(dfreq), "term").withColumn(
        "score", F.col("tf") * F.lit(float(n_docs)) / F.col("df")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select(
            id_col,
            F.col("__rn").cast("int").alias("rank"),
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            "score",
        )
    )


def _word_grams(toks: Column, n: int) -> Column:
    """All word n-grams (with multiplicity) as an array column; empty
    array for texts shorter than n tokens — mirrors the DuckDB
    ``range(1, len(t)-(n-2))`` behavior used in the oracles."""
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    gram = lambda i: F.concat_ws(" ", *[F.get(toks, i + j) for j in range(n)])  # noqa: E731
    return F.when(F.size(toks) >= n, F.transform(idx, gram)).otherwise(
        F.array().cast("array<string>")
    )


def repetition_features(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    top_bigram_max: float = 0.2,
    dup_5gram_max: float = 0.3,
) -> DataFrame:
    """Gopher-style intra-document repetition statistics: the fraction of
    2-gram occurrences claimed by the single most common 2-gram, and the
    fraction of 5-gram occurrences that are repeats — the two standard
    "repetitious document" filter signals for pretraining corpora
    (Rae et al. 2021 §A1.1 use exactly these n-gram families).

    Relational all the way down: explode n-grams → per-(doc, gram)
    counts → per-doc max/sum. Partial (map-side) aggregation absorbs the
    gram multiplicity before the shuffle, so at 100 TB the exchange
    carries one row per distinct (doc, gram), not one per token. The
    fractions are single BIGINT/BIGINT divisions — bit-identical across
    engines.
    """
    toks = tokens(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("__t"))

    def doc_gram_stats(n: int):
        g = base.select(id_col, F.explode(_word_grams(F.col("__t"), n)).alias("g"))
        return g.groupBy(id_col, "g").agg(F.count("*").alias("c"))

    a2 = (
        doc_gram_stats(2)
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("bigint").alias("total_bigrams"),
            F.max("c").cast("bigint").alias("top_bigram_count"),
        )
    )
    a5 = (
        doc_gram_stats(5)
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("bigint").alias("total_5grams"),
            F.count("*").cast("bigint").alias("distinct_5grams"),
        )
    )
    out = (
        df.select(id_col)
        .join(a2, id_col, "left")
        .join(a5, id_col, "left")
        .select(
            id_col,
            F.coalesce("total_bigrams", F.lit(0)).alias("total_bigrams"),
            F.coalesce("top_bigram_count", F.lit(0)).alias("top_bigram_count"),
            F.coalesce("total_5grams", F.lit(0)).alias("total_5grams"),
            F.coalesce("distinct_5grams", F.lit(0)).alias("distinct_5grams"),
        )
    )
    top_frac = F.when(
        F.col("total_bigrams") > 0,
        F.col("top_bigram_count") / F.col("total_bigrams"),
    ).otherwise(F.lit(0.0))
    dup_frac = F.when(
        F.col("total_5grams") > 0,
        (F.col("total_5grams") - F.col("distinct_5grams")) / F.col("total_5grams"),
    ).otherwise(F.lit(0.0))
    return out.select(
        "*",
        top_frac.alias("top_bigram_frac"),
        dup_frac.alias("dup_5gram_frac"),
    ).withColumn(
        "keep",
        (
            (F.col("top_bigram_frac") <= top_bigram_max)
            & (F.col("dup_5gram_frac") <= dup_5gram_max)
        ).cast("int"),
    )


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text."""
    return F.md5(F.lower(F.trim(text)))


def fingerprint64(text: Column) -> Column:
    """64-bit-ish numeric fingerprint (first 15 hex digits → BIGINT,
    engine-portable: stays inside the signed range)."""
    return F.conv(F.substring(fingerprint(text), 1, 15), 16, 10).cast("bigint")


# PII-ish patterns, deliberately written in the regex subset that Spark
# (Java regex) and DuckDB (RE2) interpret identically: no backrefs, no
# lookaround, explicit character classes.
REDACTION_PATTERNS = (
    (r"[A-Za-z0-9._]+@[A-Za-z0-9.-]+\.[A-Za-z]+", "<EMAIL>"),
    (r"[0-9]{3}-[0-9]{2}-[0-9]{4}", "<SSN>"),
    (r"\+?[0-9]{1,2}[- ]?\(?[0-9]{3}\)?[- ][0-9]{3}[- ][0-9]{4}", "<PHONE>"),
    (r"(https?://|www\.)[^ ]+", "<URL>"),
)


def redact(text: Column, patterns=REDACTION_PATTERNS) -> Column:
    """Pattern scrubbing as chained regexp_replace — JVM-side, streams at
    scan speed; patterns stay in the engine-portable regex subset so the
    oracle applies the identical rules."""
    out = text
    for pat, token in patterns:
        out = F.regexp_replace(out, pat, token)
    return out


def curriculum_buckets(
    df: DataFrame,
    score_col: Column,
    n_buckets: int = 4,
    order_key: Column | None = None,
    out_col: str = "bucket",
) -> DataFrame:
    """Curriculum bucketing: ntile over a TOTAL order (score, then a
    unique tiebreak key — without it ntile is nondeterministic across
    engines/runs). One global sort in a SINGLE partition — the simple
    shape; ``curriculum_buckets_scalable`` computes the identical
    buckets with range partitioning for the 100 TB path."""
    from pyspark.sql import Window

    order = [score_col] + ([order_key] if order_key is not None else [])
    w = Window.orderBy(*order)
    return df.withColumn(out_col, F.ntile(n_buckets).over(w).cast("int"))


def curriculum_buckets_scalable(
    df: DataFrame,
    score_col: Column,
    n_buckets: int = 4,
    order_key: Column | None = None,
    out_col: str = "bucket",
    n_parts: int | None = None,
) -> DataFrame:
    """EXACT ntile buckets without a single-partition window — the
    distributed global-rank pattern:

    1. ``repartitionByRange`` on the total order → disjoint, ordered
       ranges across ``n_parts`` partitions (parallel sort);
    2. per-partition row counts (tiny: one row per partition) collected
       and prefix-summed into rank offsets, broadcast back;
    3. global rank = partition offset + local row_number (window
       partitioned by partition id — every partition ranks in parallel);
    4. ntile arithmetic from the global rank: with N rows and n buckets,
       the first N mod n buckets hold ceil(N/n) rows (Spark's and
       DuckDB's NTILE rule), so the buckets match the global-window
       formulation bit-for-bit.

    Cost: one range exchange + one hash(pid) exchange + a 2-action pass
    (count + offsets), all parallel — no stage ever sees more than one
    partition's rows. The frame is persisted so the range boundaries are
    identical across the two passes."""
    from pyspark.sql import Window

    order = [score_col] + ([order_key] if order_key is not None else [])
    spark = df.sparkSession
    n_parts = n_parts or parallelism(spark)
    ranged = persist(
        df.repartitionByRange(n_parts, *order)
        .withColumn("__pid", F.spark_partition_id())
    )
    counts = {
        r["__pid"]: r["cnt"]
        for r in ranged.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()
    }
    total = sum(counts.values())
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    odf = spark.createDataFrame(offsets or [(0, 0)], "__pid int, __off long")
    w = Window.partitionBy("__pid").orderBy(*order)
    rank0 = (F.row_number().over(w) + F.col("__off") - 1)  # 0-based global
    q, rem = divmod(total, n_buckets)
    if q == 0:  # fewer rows than buckets: one row per bucket
        bucket = rank0 + 1
    else:
        boundary = rem * (q + 1)
        bucket = (
            F.when(rank0 < boundary, F.floor(rank0 / (q + 1)))
            .otherwise(rem + F.floor((rank0 - boundary) / q))
            + 1
        )
    return (
        ranged.join(F.broadcast(odf), "__pid")
        .withColumn(out_col, bucket.cast("int"))
        .drop("__pid", "__off")
    )


def grouped_ntile_scalable(
    df: DataFrame,
    group_col: str,
    order: list[Column],
    n_buckets: int = 3,
    out_col: str = "bucket",
    n_parts: int | None = None,
) -> DataFrame:
    """PER-GROUP exact ntile without per-group single-partition sorts —
    the grouped twin of :func:`curriculum_buckets_scalable`.

    A plain ``Window.partitionBy(group)`` ntile funnels each group
    through ONE task; when groups are huge and few (languages, sources —
    the CCNet shape), that's a straggler at 100 TB. Instead:

    1. ``repartitionByRange`` on (group, *order) → each group spans a
       RUN of ordered partitions, every partition sorts in parallel;
    2. per-(partition, group) counts — tiny (≤ parts × |groups| rows) —
       collected, prefix-summed per group into rank offsets + group
       totals, broadcast back;
    3. per-group global rank = offset + local row_number (window keyed
       by (partition, group) — parallel);
    4. NTILE arithmetic from (rank, group total): first N mod n buckets
       hold ceil(N/n) rows — bit-equal to the global-window NTILE rule
       on both engines.

    Contract: group CARDINALITY is small (the collect in step 2 is
    parts × |groups| rows — model-sized); group SIZE is unbounded. For
    millions of tiny groups use the plain grouped window instead — each
    group already fits a task there.
    """
    from pyspark.sql import Window
    from pyspark.sql.types import LongType, StructField, StructType

    spark = df.sparkSession
    n_parts = n_parts or parallelism(spark)
    ranged = persist(
        df.repartitionByRange(n_parts, F.col(group_col), *order)
        .withColumn("__pid", F.spark_partition_id())
    )
    counts = (
        ranged.groupBy("__pid", group_col)
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    totals: dict[object, int] = {}
    for r in counts:
        totals[r[group_col]] = totals.get(r[group_col], 0) + r["cnt"]
    offsets, acc = [], {}
    for r in sorted(counts, key=lambda r: (str(r[group_col]), r["__pid"])):
        g = r[group_col]
        offsets.append((int(r["__pid"]), g, acc.get(g, 0), totals[g]))
        acc[g] = acc.get(g, 0) + r["cnt"]
    schema = StructType(
        [
            StructField("__pid", LongType()),
            df.schema[group_col],
            StructField("__off", LongType()),
            StructField("__gtot", LongType()),
        ]
    )
    odf = spark.createDataFrame(
        [(p, g, o, t) for p, g, o, t in offsets] or [(0, None, 0, 0)], schema
    )
    w = Window.partitionBy("__pid", group_col).orderBy(*order)
    rank0 = F.row_number().over(w) + F.col("__off") - 1  # 0-based in-group
    n = F.lit(n_buckets).cast("long")
    q = F.floor(F.col("__gtot") / n)
    rem = F.col("__gtot") % n
    boundary = rem * (q + 1)
    bucket = (
        F.when(F.col("__gtot") < n, rank0 + 1)
        .when(rank0 < boundary, F.floor(rank0 / (q + 1)) + 1)
        .otherwise(rem + F.floor((rank0 - boundary) / q) + 1)
    )
    return (
        ranged.join(F.broadcast(odf), ["__pid", group_col])
        .withColumn(out_col, bucket.cast("int"))
        .drop("__pid", "__off", "__gtot")
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    size: int = 200,
    stride: int = 150,
) -> DataFrame:
    """RAG-style character-window chunking with overlap: chunk k covers
    [k*stride, k*stride + size); starts are 0, stride, 2*stride, ...
    while start < len(text), so every character lands in >= 1 chunk and
    consecutive chunks overlap by (size - stride).

    Scale shape: a pure map — sequence+explode (no UDF, no shuffle);
    the chunk count per doc is ceil-bounded by len/stride, so output
    size is a fixed multiple of input size. Downstream embedding or
    indexing stages shuffle on their own keys; chunking itself adds no
    exchange (plan-testable).
    """
    n_chunks = (F.greatest(F.length(text_col), F.lit(1)) - 1) / F.lit(stride)
    return (
        df.withColumn(
            "chunk_idx",
            F.explode(F.sequence(F.lit(0), n_chunks.cast("int"))),
        )
        .select(
            F.col(id_col),
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.expr(
                f"substring({text_col}, chunk_idx * {stride} + 1, {size})"
            ).alias("chunk"),
        )
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson, Aiken — SIGMOD'03 "MOSS")

WINNOW_POS_MAX = 999_999_999  # 9-digit reversed-position pad bound


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 §3): hash every character ``k``-gram of the normalized
    text, slide a window of ``w`` consecutive gram hashes, and select
    each window's MINIMUM hash — rightmost position on ties (robust
    winnowing's tie rule). Guarantees of the scheme:

    - every shared substring of length >= ``k + w - 1`` between two
      documents contributes at least one IDENTICAL selected
      fingerprint to both (the detection guarantee), and
    - expected density is 2 / (w + 1) of the gram count, so the
      fingerprint set is a fixed small fraction of the corpus.

    Plan shape (the 100 TB story): the whole selection is a PURE MAP —
    per row, ``transform(sequence)`` builds the gram-key array,
    ``transform`` over window starts takes ``array_min(slice(keys, j,
    w))``, and ``array_distinct`` collapses repeats, all inside
    whole-stage codegen with ZERO exchanges (fingerprinting runs at
    scan speed; only the ~2/(w+1)-density selected rows are exploded).
    The (hash asc, pos desc) selection order is encoded INTO the key
    string — 15 hex md5 chars || zero-padded (WINNOW_POS_MAX - pos) —
    so a plain ``array_min`` reproduces the argmin with the exact
    tie-break, bit-identically on Spark and the DuckDB oracle (the
    same portability idiom as ``fingerprint64``). An earlier version
    exploded grams into rows and ran a per-doc window MIN — same
    result, but the 1.45M-row explode + window exchange made Spark
    4x slower than this map-only form at sf0.1. Documents shorter
    than ``k + w - 1`` chars have no complete window and emit no rows
    (matches the reference scheme: nothing below the noise threshold
    is fingerprinted).

    Output: one row per selected (document, position): ``id_col``,
    ``fp`` (15-hex-char gram hash), ``fp_pos`` (1-based gram start in
    the normalized text), ``fp60`` (BIGINT form of ``fp`` for compact
    downstream joins).

    The map runs on ``df``'s partitioning as given; a caller whose input
    is one small file spreads it first (``session.fan_out``).
    """
    t = F.lower(F.trim(F.col(text_col)))
    m = (F.length(t) - F.lit(k - 1)).alias("__m")  # gram count

    def _key(p):
        return F.concat(
            F.substring(F.md5(F.col("__t").substr(p, F.lit(k))), 1, 15),
            F.lpad((F.lit(WINNOW_POS_MAX) - p).cast("string"), 9, "0"),
        )

    keys = F.transform(F.sequence(F.lit(1), F.col("__m")), _key)
    # w is a compile-time constant: unroll the window min as least() of
    # w element_at calls — no per-window array slice allocation
    wmins = F.transform(
        F.sequence(F.lit(1), F.col("__m") - F.lit(w - 1)),
        lambda j: F.least(
            *[F.element_at(F.col("__keys"), j + F.lit(i)) for i in range(w)]
        ),
    )
    return (
        df.select(F.col(id_col), t.alias("__t"), m)
        .filter(F.col("__m") >= w)
        .withColumn("__keys", keys)
        .select(
            id_col,
            F.explode(F.array_distinct(wmins)).alias("__wkey"),
        )
        .select(
            id_col,
            F.substring("__wkey", 1, 15).alias("fp"),
            (
                F.lit(WINNOW_POS_MAX) - F.substring("__wkey", 16, 9).cast("int")
            ).alias("fp_pos"),
        )
        .withColumn("fp60", F.conv(F.col("fp"), 16, 10).cast("bigint"))
    )


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 50,
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowed fingerprints —
    the MOSS overlap measure. Candidate generation is an EQUI-join on
    the fingerprint value over each doc's DISTINCT fingerprint set,
    never an all-pairs comparison, with the same hot-key guard as the
    shingle joins: a fingerprint present in > ``max_df`` documents
    (boilerplate/license headers at corpus scale) is dropped from the
    vocabulary on BOTH sides before the join, bounding any bucket's
    pair fan-out at ``max_df``².

    Output per pair: shared fingerprint count and the containment-style
    overlap fraction shared / min(|fp_a|, |fp_b|) over the guarded
    fingerprint sets.
    """
    fps = (
        winnow_fingerprints(df, id_col, text_col, k=k, w=w)
        .select(id_col, "fp")
        .distinct()
    )
    from pyspark.sql import Window

    df_w = Window.partitionBy("fp")
    fps = fps.withColumn("__df", F.count("*").over(df_w)).filter(
        F.col("__df") <= max_df
    )
    sizes = fps.groupBy(id_col).agg(F.count("*").alias("__nfp"))
    a = fps.select(F.col(id_col).alias("id_a"), "fp")
    b = fps.select(F.col(id_col).alias("id_b"), "fp")
    pairs = (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("__nfp").alias("nfp_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("__nfp").alias("nfp_b"))
    return (
        pairs.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            "shared_fps",
            "nfp_a",
            "nfp_b",
            (
                F.col("shared_fps").cast("double")
                / F.least("nfp_a", "nfp_b").cast("double")
            ).alias("overlap_frac"),
        )
    )
