"""Data-selection operators for training-data curation.

- DSIR (Data Selection via Importance Resampling, Xie et al., NeurIPS
  2023): score every raw-pool document by the log-likelihood ratio of a
  hashed bag-of-ngrams model fit on a small target (quality) corpus vs
  the raw pool, then keep the top-N. The deterministic top-k variant is
  implemented (the paper's Gumbel-top-k sampling adds per-doc noise —
  nondeterministic by construction, so it cannot sit behind a value-hash
  oracle; the score column is identical either way).
- Leakage-safe train/val/test splits: assign splits by the near-dup
  CLUSTER representative rather than the raw document id, so no pair of
  near-duplicates ever straddles a split boundary (the classic
  train/test contamination failure of naive per-doc hashing).

Scale shape: everything is explode → groupBy with map-side combine; the
per-bucket model is tiny (n_buckets rows) and broadcast back, so the
only data-sized shuffles are the two (doc, bucket) aggregations. At
100 TB the bucket-count frames stay n_buckets rows regardless of corpus
size — the model fit is a pure reduce.

Cross-engine determinism (the DuckDB oracle gate): bucket ids come from
md5 slices (no engine-private hash); the per-bucket log-ratio is the
ONLY transcendental — it is rounded to 6 decimals on both engines so a
last-ulp ``ln`` divergence (JVM Math.log vs libm) cannot leak into the
fold; per-doc scores sum bucket contributions in bucket order via an
ordered left fold, pinning float addition order.

Reference parity: opera-adt/burst_db has no selection layer; this
extends the LLM-pipeline suite (SURVEY.md "beyond the reference").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from burst_db_spark.operators.text import tokens
from burst_db_spark.runner import persist
from burst_db_spark.session import fan_out

DSIR_BUCKETS = 64
DSIR_ALPHA = 0.5


def hashed_bucket(term: Column, n_buckets: int = DSIR_BUCKETS) -> Column:
    """Portable feature-hash bucket: first 16 bits of md5, mod n_buckets.

    DuckDB twin: ``CAST(('0x' || substr(md5(term), 1, 4)) AS INTEGER)
    % n_buckets``.
    """
    return (
        F.conv(F.substring(F.md5(term), 1, 4), 16, 10).cast("int")
        % F.lit(n_buckets)
    )


def _features(toks: Column) -> Column:
    """Hashed-BoW feature stream from a MATERIALIZED token-array column:
    unigrams + bigrams (with multiplicity — bag-of-words counts, not a
    set). The caller must project ``tokens(text)`` into its own column
    first: inlining the split() expression here would re-evaluate it at
    every ``element_at`` reference inside the bigram lambda (no common-
    subexpression elimination inside lambda bodies — measured O(len^2)
    per doc, 7.4 s -> sub-second for the sf0.1 explode)."""
    # guard: F.sequence(1, 0) DESCENDS ([1, 0]) instead of yielding an
    # empty array, so single-token docs need an explicit empty branch
    # (DuckDB's range(1, 1) is empty and needs none).
    bigrams = F.when(
        F.size(toks) > 1,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(toks, bigrams)


def features_sql(text_expr: str) -> str:
    """DuckDB twin of :func:`_features` over a text expression."""
    toks = f"string_split_regex(lower(trim({text_expr})), '\\s+')"
    return (
        f"list_concat({toks}, "
        f"list_transform(range(1, len({toks})), "
        f"i -> {toks}[i] || ' ' || {toks}[i+1]))"
    )


def dsir_scored_frame(
    docs: DataFrame,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DSIR_BUCKETS,
    alpha: float = DSIR_ALPHA,
    doc_bucket: DataFrame | None = None,
) -> DataFrame:
    """Every raw-pool doc with ``n_feats`` and ``dsir_score``. Shared by the
    top-k selector and the Gumbel resampler.

    Plan: one explode of hashed features → one (doc, bucket) count
    reduce (map-side combined); the n_buckets-row dual count frame
    (target vs raw) aggregates THAT, so the corpus is tokenized and
    shuffled exactly once. The per-bucket smoothed log-ratio frame is
    broadcast back; the per-doc score is an ordered fold over its
    bucket contributions.

    ``doc_bucket``: optionally a precomputed
    ``(id_col, __t, b, cnt bigint)`` frame — the exact aggregate this
    function would build — so a caller that ALREADY featurized the
    corpus (e.g. the exact-feature audit, which derives hashed-bucket
    counts from its per-feature counts) skips the second tokenize
    (optimization r14, guide §2.3). The caller owns its caching.
    """
    if doc_bucket is None:
        tokd = fan_out(docs).select(
            F.col(id_col), target.alias("__t"),
            tokens(F.col(text_col)).alias("__toks"),
        )
        feats = tokd.select(
            F.col(id_col),
            F.col("__t"),
            F.explode(_features(F.col("__toks"))).alias("feat"),
        ).withColumn("b", hashed_bucket(F.col("feat"), n_buckets))

        # ONE explode + ONE data-sized shuffle: reduce to (doc, bucket)
        # counts first and persist THAT (docs x n_buckets rows, narrow —
        # model-state, not corpus-sized). Three consumers (model counts,
        # totals, per-doc scores) read the cached frame, so the corpus is
        # tokenized once, not once per consumer.
        doc_bucket = persist(feats.groupBy(id_col, "__t", "b").agg(
            F.count("*").cast("bigint").alias("cnt")
        ))
    counts = doc_bucket.groupBy("b").agg(
        F.sum(F.when(F.col("__t"), F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("ct"),
        F.sum(F.when(F.col("__t"), 0).otherwise(F.col("cnt")))
        .cast("bigint")
        .alias("cr"),
    )
    # totals as a 1-row frame folded into the broadcast model
    tot = counts.agg(
        F.sum("ct").cast("bigint").alias("zt"),
        F.sum("cr").cast("bigint").alias("zr"),
    )
    ab = float(alpha * n_buckets)
    # pinned parenthesization: ((ct+a)*(zr+aB)) / ((cr+a)*(zt+aB))
    ratio = (
        (F.col("ct").cast("double") + F.lit(alpha))
        * (F.col("zr").cast("double") + F.lit(ab))
    ) / (
        (F.col("cr").cast("double") + F.lit(alpha))
        * (F.col("zt").cast("double") + F.lit(ab))
    )
    model = counts.join(F.broadcast(tot)).select(
        "b", F.round(F.log(ratio), 6).alias("logr")
    )

    doc_feats = doc_bucket.where(~F.col("__t")).select(id_col, "b", "cnt")
    contrib = doc_feats.join(F.broadcast(model), "b").select(
        F.col(id_col),
        F.col("cnt"),
        (F.col("cnt").cast("double") * F.col("logr")).alias("s"),
        F.col("b"),
    )
    scored = (
        contrib.groupBy(id_col)
        .agg(
            F.sum("cnt").cast("bigint").alias("n_feats"),
            F.array_sort(F.collect_list(F.struct("b", "s"))).alias("__c"),
        )
        .select(
            id_col,
            "n_feats",
            F.aggregate("__c", F.lit(0.0), lambda acc, x: acc + x["s"]).alias(
                "dsir_score"
            ),
        )
    )
    return scored


def dsir_scores(
    docs: DataFrame,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DSIR_BUCKETS,
    alpha: float = DSIR_ALPHA,
    top_n: int = 50,
    doc_bucket: DataFrame | None = None,
) -> DataFrame:
    """Deterministic DSIR top-N selection (see :func:`dsir_scored_frame`
    for the model plan). Top-N via orderBy().limit() →
    TakeOrderedAndProject (per-partition heaps + driver merge), NOT a
    global row_number sort: ranking the whole raw pool in one window
    partition is exactly the plan that dies at 100 TB. ``sel_rank`` is
    then a window over the N-row survivor frame only."""
    scored = dsir_scored_frame(
        docs, target, id_col, text_col, n_buckets, alpha, doc_bucket
    )
    topn = scored.orderBy(F.col("dsir_score").desc(), F.col(id_col)).limit(
        top_n
    )
    w = Window.orderBy(F.col("dsir_score").desc(), F.col(id_col))
    return topn.select(
        id_col,
        "n_feats",
        "dsir_score",
        F.row_number().over(w).cast("int").alias("sel_rank"),
    )


def hashed_gumbel(key: Column, salt: str = "g") -> Column:
    """Deterministic standard-Gumbel noise from an md5-derived uniform:
    u = (h32 + 0.5) / 2^32 with h32 the first 8 md5 hex digits of
    ``salt ':' key`` (never exactly 0 or 1), G = -ln(-ln(u)), rounded to
    6 decimals so a last-ulp ``ln`` divergence between engines cannot
    change the value. Derandomizes Gumbel-top-k sampling: reproducible
    across engines, executors, and retries — the property a SAMPLER in
    a distributed pipeline must have and ``rand()`` does not."""
    h32 = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{salt}:"), key.cast("string"))), 1, 8),
        16,
        10,
    ).cast("bigint")
    u = (h32.cast("double") + F.lit(0.5)) / F.lit(4294967296.0)
    return F.round(-F.log(-F.log(u)), 6)


def dsir_gumbel_sample(
    docs: DataFrame,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DSIR_BUCKETS,
    alpha: float = DSIR_ALPHA,
    top_n: int = 50,
) -> DataFrame:
    """DSIR's ACTUAL resampling step (Gumbel-top-k): taking the top-N of
    ``dsir_score + Gumbel`` samples N docs WITHOUT replacement with
    probability proportional to exp(dsir_score) — i.e. to the importance
    weight itself (Vieira 2014; Kim et al. 2016). The Gumbel keys are
    hashed, not random (:func:`hashed_gumbel`), so the sample is
    reproducible and the plan stays a pure TakeOrdered — per-partition
    heaps, no RNG state, no global sort."""
    scored = dsir_scored_frame(
        docs, target, id_col, text_col, n_buckets, alpha
    )
    keyed = scored.select(
        id_col,
        "n_feats",
        "dsir_score",
        hashed_gumbel(F.col(id_col)).alias("gumbel"),
    ).withColumn("sample_key", F.col("dsir_score") + F.col("gumbel"))
    topn = keyed.orderBy(F.col("sample_key").desc(), F.col(id_col)).limit(
        top_n
    )
    w = Window.orderBy(F.col("sample_key").desc(), F.col(id_col))
    return topn.select(
        id_col,
        "n_feats",
        "dsir_score",
        "gumbel",
        "sample_key",
        F.row_number().over(w).cast("int").alias("sample_rank"),
    )


def dsir_exact_doc_features(
    docs: DataFrame,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The persisted ``(id_col, __t, feat, cnt)`` frame of exact n-gram
    feature counts per doc that :func:`dsir_scores_exact` models."""
    tokd = fan_out(docs).select(
        F.col(id_col), target.alias("__t"), tokens(F.col(text_col)).alias("__toks")
    )
    feats = tokd.select(
        F.col(id_col),
        F.col("__t"),
        F.explode(_features(F.col("__toks"))).alias("feat"),
    )
    return persist(feats.groupBy(id_col, "__t", "feat").agg(
        F.count("*").cast("bigint").alias("cnt")
    ))


def dsir_scores_exact(
    doc_feat: DataFrame,
    id_col: str = "doc_id",
    alpha: float = DSIR_ALPHA,
    top_n: int = 50,
) -> DataFrame:
    """DSIR with EXACT n-gram features (no hashing) — the audit twin of
    :func:`dsir_scores`, over the :func:`dsir_exact_doc_features` frame
    ``doc_feat``. The model has one row per distinct feature
    (vocabulary-sized — fine at audit scale, the hashed variant is the
    100 TB path) with add-alpha smoothing over the OBSERVED vocabulary
    size V; per-doc scores fold in feature-string order."""
    counts = doc_feat.groupBy("feat").agg(
        F.sum(F.when(F.col("__t"), F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("ct"),
        F.sum(F.when(F.col("__t"), 0).otherwise(F.col("cnt")))
        .cast("bigint")
        .alias("cr"),
    )
    tot = counts.agg(
        F.sum("ct").cast("bigint").alias("zt"),
        F.sum("cr").cast("bigint").alias("zr"),
        F.count("*").cast("bigint").alias("v"),
    )
    av = F.lit(alpha) * F.col("v").cast("double")
    ratio = (
        (F.col("ct").cast("double") + F.lit(alpha))
        * (F.col("zr").cast("double") + av)
    ) / (
        (F.col("cr").cast("double") + F.lit(alpha))
        * (F.col("zt").cast("double") + av)
    )
    model = counts.join(F.broadcast(tot)).select(
        "feat", F.round(F.log(ratio), 6).alias("logr")
    )
    contrib = (
        doc_feat.where(~F.col("__t"))
        .join(model, "feat")
        .select(
            F.col(id_col),
            F.col("cnt"),
            (F.col("cnt").cast("double") * F.col("logr")).alias("s"),
            F.col("feat"),
        )
    )
    scored = (
        contrib.groupBy(id_col)
        .agg(
            F.sum("cnt").cast("bigint").alias("n_feats"),
            F.array_sort(F.collect_list(F.struct("feat", "s"))).alias("__c"),
        )
        .select(
            id_col,
            "n_feats",
            F.aggregate("__c", F.lit(0.0), lambda acc, x: acc + x["s"]).alias(
                "dsir_score"
            ),
        )
    )
    topn = scored.orderBy(F.col("dsir_score").desc(), F.col(id_col)).limit(
        top_n
    )
    w = Window.orderBy(F.col("dsir_score").desc(), F.col(id_col))
    return topn.select(
        id_col,
        "n_feats",
        "dsir_score",
        F.row_number().over(w).cast("int").alias("sel_rank"),
    )


def split_bucket(key: Column, salt: str = "split", n: int = 10) -> Column:
    """Portable split hash: md5 of ``salt ':' key`` → bucket in [0, n).

    DuckDB twin: ``CAST(('0x' || substr(md5('salt:' || CAST(key AS
    VARCHAR)), 1, 4)) AS INTEGER) % n``.
    """
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{salt}:"), key.cast("string"))), 1, 4),
            16,
            10,
        ).cast("int")
        % F.lit(n)
    )


def split_name(bucket: Column) -> Column:
    """Bucket → split name: 0-7 train, 8 val, 9 test (80/10/10)."""
    return (
        F.when(bucket < 8, F.lit("train"))
        .when(bucket == 8, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def leakage_safe_splits(
    docs: DataFrame,
    pairs: DataFrame,
    labels: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Cluster-aware split assignment + leakage audit.

    ``pairs`` is a near-dup edge list (id_a < id_b); ``labels`` maps every
    doc to its connected-component ``cluster_id`` (min doc id of the
    cluster). Each doc's split is hashed from its CLUSTER id, so both
    endpoints of every near-dup edge land in the same split by
    construction. The audit columns measure what naive per-doc hashing
    would have leaked (``naive_leaky_pairs``) and prove the cluster
    assignment leaks nothing (``cluster_leaky_pairs`` — computed, not
    assumed).

    Scale shape: labels come from the distributed min-label CC operator;
    the split hash is a map-only expression; the audit is two broadcast
    joins of the (small) pair list against the label frame; the final
    per-split rollup is a 3-row aggregate.
    """
    assign = (
        docs.select(id_col, "n_chars")
        .join(labels, id_col)
        .withColumn("split", split_name(split_bucket(F.col("cluster_id"))))
        .withColumn("naive_split", split_name(split_bucket(F.col(id_col))))
    )
    a = assign.select(
        F.col(id_col).alias("id_a"),
        F.col("split").alias("split_a"),
        F.col("naive_split").alias("nsplit_a"),
    )
    b = assign.select(
        F.col(id_col).alias("id_b"),
        F.col("split").alias("split_b"),
        F.col("naive_split").alias("nsplit_b"),
    )
    audited = pairs.join(a, "id_a").join(b, "id_b")
    leaks = audited.agg(
        F.sum(
            F.when(F.col("nsplit_a") != F.col("nsplit_b"), 1).otherwise(0)
        ).cast("bigint").alias("naive_leaky_pairs"),
        F.sum(
            F.when(F.col("split_a") != F.col("split_b"), 1).otherwise(0)
        ).cast("bigint").alias("cluster_leaky_pairs"),
    )
    per_split = assign.groupBy("split").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("cluster_id").cast("bigint").alias("n_clusters"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    )
    return per_split.join(F.broadcast(leaks))
