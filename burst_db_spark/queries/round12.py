"""Round-12 queries: the training-data SELECTION layer — DSIR importance
resampling (Xie et al., NeurIPS 2023), leakage-safe cluster-aware splits,
hybrid BM25+dense retrieval with reciprocal-rank fusion (Cormack et al.,
SIGIR 2009), semi-hard triplet mining (Schroff et al., CVPR 2015), and a
two-window mean-shift changepoint detector over the events stream.

Reference parity: opera-adt/burst_db has no selection/retrieval layer —
these extend the LLM-pipeline surface (SURVEY.md "beyond the reference"
mandate).

Cross-engine determinism: every hash is an md5 slice; the one
transcendental (DSIR's per-bucket ln ratio) is rounded to 6 decimals on
both engines; every float sum is an ordered fold or a sum of exact
integers; every rank breaks ties on the id column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from burst_db_spark.catalog import load
from burst_db_spark.operators import dedup as dd
from burst_db_spark.operators import retrieval as ret
from burst_db_spark.operators import selection as sel
from burst_db_spark.operators import similarity as sim
from burst_db_spark.operators import text as tx
from burst_db_spark.queries.similarity import _cos_sql
from burst_db_spark.queries.textops import _SHINGLES_CTE, _TOKS
from burst_db_spark.registry import register
from burst_db_spark.runner import persist, tmpdir
from burst_db_spark.streaming import drain

# -- DSIR importance resampling ---------------------------------------------

_B = sel.DSIR_BUCKETS
_AB = float(sel.DSIR_ALPHA * _B)
_TOP_N = 50

_FEATS_SQL = sel.features_sql("text")


@register(
    "t_dsir_importance",
    oracle=f"""
    WITH feats AS (
        SELECT doc_id, lang = 'en' AS t, unnest({_FEATS_SQL}) AS feat
        FROM documents
    ),
    fb AS (
        SELECT doc_id, t,
               CAST(('0x' || substr(md5(feat), 1, 4)) AS INTEGER) % {_B} AS b
        FROM feats
    ),
    counts AS (
        SELECT b,
               CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
               CAST(sum(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT) AS cr
        FROM fb GROUP BY b
    ),
    tot AS (SELECT CAST(sum(ct) AS BIGINT) AS zt,
                   CAST(sum(cr) AS BIGINT) AS zr FROM counts),
    model AS (
        SELECT b, round(ln(
            ((CAST(ct AS DOUBLE) + 0.5) * (CAST(zr AS DOUBLE) + {_AB!r}))
            / ((CAST(cr AS DOUBLE) + 0.5) * (CAST(zt AS DOUBLE) + {_AB!r}))
        ), 6) AS logr
        FROM counts CROSS JOIN tot
    ),
    docfeat AS (
        SELECT doc_id, b, CAST(count(*) AS BIGINT) AS cnt
        FROM fb WHERE NOT t GROUP BY doc_id, b
    ),
    contrib AS (
        SELECT doc_id, b, cnt, CAST(cnt AS DOUBLE) * logr AS s
        FROM docfeat JOIN model USING (b)
    ),
    scored AS (
        SELECT doc_id,
               CAST(sum(cnt) AS BIGINT) AS n_feats,
               list_reduce(list_prepend(0.0, list(s ORDER BY b)),
                           (x, y) -> x + y) AS dsir_score
        FROM contrib GROUP BY doc_id
    )
    SELECT doc_id, n_feats, dsir_score,
           CAST(row_number() OVER w AS INTEGER) AS sel_rank
    FROM scored
    WINDOW w AS (ORDER BY dsir_score DESC, doc_id)
    QUALIFY sel_rank <= {_TOP_N}
    """,
    tags=("text", "selection", "dsir", "llm-pipeline"),
)
def t_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection: hashed unigram+bigram bag-of-words models fit
    on the target corpus (lang='en') vs the raw pool, per-doc importance
    = ordered-fold sum of count x smoothed log-ratio, deterministic
    top-50 selection (operators/selection.dsir_scores). The model frame
    is 64 rows regardless of corpus size — the fit is a pure map-side-
    combined reduce, the scale shape DSIR needs at 100 TB."""
    docs = load(spark, sf_dir, "documents")
    return sel.dsir_scores(docs, F.col("lang") == "en", top_n=_TOP_N)


# -- Leakage-safe cluster-aware splits --------------------------------------

_SPLIT_HASH = (
    "CAST(('0x' || substr(md5('split:' || CAST({key} AS VARCHAR)), 1, 4)) "
    "AS INTEGER) % 10"
)


def _split_case(key: str) -> str:
    h = _SPLIT_HASH.format(key=key)
    return (
        f"CASE WHEN {h} < 8 THEN 'train' "
        f"WHEN {h} = 8 THEN 'val' ELSE 'test' END"
    )


@register(
    "t_cluster_safe_splits",
    oracle=f"""
    WITH RECURSIVE
    {_SHINGLES_CTE},
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
              FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(count(*) AS BIGINT) AS common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT id_a, id_b FROM common
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE common / (sa.n_sh + sb.n_sh - common) >= 0.2
    ),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    labels AS (
        SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
    ),
    assign AS (
        SELECT d.doc_id, d.n_chars, l.cluster_id,
               {_split_case("l.cluster_id")} AS split,
               {_split_case("d.doc_id")} AS naive_split
        FROM documents d JOIN labels l USING (doc_id)
    ),
    leaks AS (
        SELECT
            CAST(sum(CASE WHEN aa.naive_split != ab.naive_split
                          THEN 1 ELSE 0 END) AS BIGINT) AS naive_leaky_pairs,
            CAST(sum(CASE WHEN aa.split != ab.split
                          THEN 1 ELSE 0 END) AS BIGINT) AS cluster_leaky_pairs
        FROM pairs p
        JOIN assign aa ON aa.doc_id = p.id_a
        JOIN assign ab ON ab.doc_id = p.id_b
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           naive_leaky_pairs, cluster_leaky_pairs
    FROM assign CROSS JOIN leaks
    GROUP BY split, naive_leaky_pairs, cluster_leaky_pairs
    """,
    tags=("text", "splits", "dedup", "leakage", "llm-pipeline"),
)
def t_cluster_safe_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment: near-dup clusters (3-gram
    Jaccard >= 0.2 -> connected components) hashed by CLUSTER id, so no
    near-dup pair straddles a split; the audit columns count the pairs
    naive per-doc hashing WOULD have leaked across splits vs the (computed,
    not assumed) zero leaks of the cluster assignment
    (operators/selection.leakage_safe_splits)."""
    docs = load(spark, sf_dir, "documents")
    # Optimization r14 (guide §2.3): the pair list feeds BOTH the CC
    # build (eagerly consumed at plan construction) and the leakage
    # audit's final plan — uncached, the shingle self-join ran twice.
    # Persist the projected pair frame once; CC's cache-hygiene check
    # sees a caller-owned cache and leaves it in place. Pair set is
    # deterministic, so cached vs recomputed values are identical.
    pairs = dd.ngram_jaccard_pairs(docs, "doc_id", threshold=0.2)
    pair_edges = persist(pairs.select("id_a", "id_b"))
    labels = dd.connected_components(pair_edges, docs, "doc_id")
    return sel.leakage_safe_splits(docs, pair_edges, labels)


# -- Hybrid retrieval: BM25 + dense cosine, RRF fusion -----------------------

_RRF_TERMS = ["merge", "vector", "window", "spark"]
_RRF_K = 60
_RRF_TOP = 20
_RRF_DEPTH = 100  # per-modality candidate depth (RRF fuses top-k LISTS)


@register(
    "t_rrf_hybrid_search",
    oracle=f"""
    WITH bm AS ({ret.bm25_oracle_sql(_RRF_TERMS, _TOKS)}),
    bmr AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
                    AS INTEGER) AS rank_bm25
        FROM bm WHERE doc_id != 0
        QUALIFY rank_bm25 <= {_RRF_DEPTH}
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    cosd AS (
        SELECT vec_id AS doc_id, {_cos_sql("qv", "embedding")} AS cos
        FROM embeddings CROSS JOIN q WHERE vec_id != 0
    ),
    cosr AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY cos DESC, doc_id)
                    AS INTEGER) AS rank_cos
        FROM cosd
        QUALIFY rank_cos <= {_RRF_DEPTH}
    ),
    fused AS (
        SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
               b.rank_bm25, c.rank_cos,
               COALESCE(1.0 / ({_RRF_K} + b.rank_bm25), 0.0)
               + COALESCE(1.0 / ({_RRF_K} + c.rank_cos), 0.0) AS rrf
        FROM bmr b FULL OUTER JOIN cosr c ON b.doc_id = c.doc_id
    )
    SELECT doc_id, rank_bm25, rank_cos, rrf,
           CAST(row_number() OVER (ORDER BY rrf DESC, doc_id)
                AS INTEGER) AS fused_rank
    FROM fused
    QUALIFY fused_rank <= {_RRF_TOP}
    """,
    tags=("retrieval", "hybrid", "rrf", "llm-pipeline"),
)
def t_rrf_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid sparse+dense retrieval with reciprocal-rank fusion: the
    top-100 BM25 list (4-term query over documents) fused with the
    top-100 dense cosine list (query vector = embedding 0, aligned on
    doc_id) by rrf = sum 1/(60 + rank), top-20. Each modality's list is
    cut via orderBy().limit() — TakeOrderedAndProject, per-partition
    heaps, no global ranking window (RRF fuses top-k LISTS; ranking the
    full corpus per modality is the plan that dies at 100 TB). An
    absent ranking contributes 0 — the standard RRF treatment of
    modality misses; floats stay deterministic because each contribution
    is 1/(int) and the two-term sum order is pinned by the COALESCE
    expression itself."""
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")

    def _top_ranked(df: DataFrame, score: str, rank_name: str) -> DataFrame:
        top = df.orderBy(F.col(score).desc(), F.col("doc_id")).limit(
            _RRF_DEPTH
        )
        w = Window.orderBy(F.col(score).desc(), F.col("doc_id"))
        return top.select(
            "doc_id", F.row_number().over(w).cast("int").alias(rank_name)
        )

    bm = ret.bm25_scores(docs, _RRF_TERMS, "doc_id").where(F.col("doc_id") != 0)
    bmr = _top_ranked(bm, "bm25", "rank_bm25")
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    cosd = (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            sim.cosine(F.col("qv"), F.col("embedding")).alias("cos"),
        )
    )
    cosr = _top_ranked(cosd, "cos", "rank_cos")
    fused = (
        bmr.join(cosr, "doc_id", "full_outer")
        .select(
            "doc_id",
            "rank_bm25",
            "rank_cos",
            (
                F.coalesce(
                    F.lit(1.0) / (F.lit(_RRF_K) + F.col("rank_bm25")), F.lit(0.0)
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(_RRF_K) + F.col("rank_cos")), F.lit(0.0)
                )
            ).alias("rrf"),
        )
    )
    return (
        fused.withColumn(
            "fused_rank",
            F.row_number()
            .over(Window.orderBy(F.col("rrf").desc(), F.col("doc_id")))
            .cast("int"),
        )
        .where(F.col("fused_rank") <= _RRF_TOP)
    )


# -- Semi-hard triplet mining ------------------------------------------------

_N_ANCHORS = 20
_N_NEG = 3


@register(
    "dd_hard_negatives",
    oracle=f"""
    WITH a AS (SELECT vec_id AS anchor_id, embedding AS av, label AS albl
               FROM embeddings WHERE vec_id < {_N_ANCHORS}),
    c AS (SELECT vec_id AS cand_id, embedding AS cv, label AS clbl
          FROM embeddings),
    scored AS (
        SELECT anchor_id, albl, cand_id, clbl, {_cos_sql("av", "cv")} AS cos
        FROM c CROSS JOIN a WHERE cand_id != anchor_id
    ),
    pos AS (
        SELECT anchor_id, cand_id AS pos_id, cos AS cos_pos
        FROM scored WHERE clbl = albl
        QUALIFY row_number() OVER (
            PARTITION BY anchor_id ORDER BY cos DESC, cand_id) = 1
    ),
    neg AS (
        SELECT s.anchor_id, p.pos_id, s.cand_id AS neg_id,
               CAST(row_number() OVER (
                   PARTITION BY s.anchor_id ORDER BY s.cos DESC, s.cand_id
               ) AS INTEGER) AS neg_rank,
               p.cos_pos, s.cos AS cos_neg, p.cos_pos - s.cos AS margin
        FROM scored s JOIN pos p USING (anchor_id)
        WHERE s.clbl != s.albl AND s.cos < p.cos_pos
    )
    SELECT anchor_id, pos_id, neg_id, neg_rank, cos_pos, cos_neg, margin
    FROM neg WHERE neg_rank <= {_N_NEG}
    """,
    tags=("similarity", "triplets", "contrastive", "llm-pipeline"),
)
def dd_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-hard triplet mining for contrastive training: per anchor, the
    nearest same-label positive and the top-3 different-label negatives
    strictly below the positive's cosine
    (operators/similarity.mine_triplets). One scored candidate frame
    feeds both per-anchor windows; at 100 TB the brute candidate scan
    swaps for the module's IVF/LSH generators with the windows
    unchanged."""
    emb = load(spark, sf_dir, "embeddings")
    return sim.mine_triplets(emb, n_anchors=_N_ANCHORS, n_neg=_N_NEG)


# -- Two-window mean-shift changepoint ---------------------------------------


@register(
    "w20_mean_shift_changepoint",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    base AS (
        SELECT event_type,
               CAST(sum(n) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS baseline
        FROM daily GROUP BY event_type
    ),
    win AS (
        SELECT event_type, day, n,
               CAST(sum(n) OVER w_pre AS BIGINT) AS pre_sum,
               CAST(count(*) OVER w_pre AS BIGINT) AS pre_n,
               CAST(sum(n) OVER w_post AS BIGINT) AS post_sum,
               CAST(count(*) OVER w_post AS BIGINT) AS post_n
        FROM daily
        WINDOW w_pre AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING),
               w_post AS (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN CURRENT ROW AND 6 FOLLOWING)
    )
    SELECT w.event_type, w.day, w.n,
           CAST(pre_sum AS DOUBLE) / 7.0 AS mean_pre,
           CAST(post_sum AS DOUBLE) / 7.0 AS mean_post,
           CAST(post_sum AS DOUBLE) / 7.0
           - CAST(pre_sum AS DOUBLE) / 7.0 AS delta,
           abs(CAST(post_sum AS DOUBLE) / 7.0
               - CAST(pre_sum AS DOUBLE) / 7.0) > 0.25 * b.baseline
               AS is_shift
    FROM win w JOIN base b USING (event_type)
    WHERE pre_n = 7 AND post_n = 7
    """,
    tags=("window", "changepoint", "timeseries"),
)
def w20_mean_shift_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-window mean-shift changepoint detection on the per-type daily
    event-count series: a day is a shift candidate when the mean of the
    next 7 days diverges from the mean of the previous 7 by more than
    25% of the type's overall daily baseline. All window sums are exact
    BIGINTs (segment-tree vs streaming window summation cannot diverge
    on integers); the only doubles are final divisions."""
    events = load(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").cast("bigint").alias("n"))

    base = daily.groupBy("event_type").agg(
        (
            F.sum("n").cast("double") / F.count("*").cast("double")
        ).alias("baseline")
    )
    w_pre = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    )
    w_post = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(0, 6)
    )
    win = daily.select(
        "event_type",
        "day",
        "n",
        F.sum("n").over(w_pre).cast("bigint").alias("pre_sum"),
        F.count("*").over(w_pre).cast("bigint").alias("pre_n"),
        F.sum("n").over(w_post).cast("bigint").alias("post_sum"),
        F.count("*").over(w_post).cast("bigint").alias("post_n"),
    )
    mean_pre = F.col("pre_sum").cast("double") / F.lit(7.0)
    mean_post = F.col("post_sum").cast("double") / F.lit(7.0)
    return (
        win.where((F.col("pre_n") == 7) & (F.col("post_n") == 7))
        .join(F.broadcast(base), "event_type")
        .select(
            "event_type",
            "day",
            "n",
            mean_pre.alias("mean_pre"),
            mean_post.alias("mean_post"),
            (mean_post - mean_pre).alias("delta"),
            (
                F.abs(mean_post - mean_pre) > F.lit(0.25) * F.col("baseline")
            ).alias("is_shift"),
        )
    )


# -- PPJoin positional filter -------------------------------------------------


@register(
    "dd_ppjoin_positional",
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
    """,
    tags=("dedup", "jaccard", "ppjoin", "positional-filter", "llm-pipeline"),
)
def dd_ppjoin_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard >= 0.5 pairs with the FULL PPJoin positional
    filter (Xiao et al. WWW'08) layered on the prefix + length filters
    (operators/dedup.jaccard_ppjoin_pairs): first- and last-shared-
    prefix-token overlap bounds kill candidates BEFORE the
    array_intersect verify, and the bound groupBy replaces the prefix
    join's distinct() so the extra pruning costs no extra shuffle. Same
    lossless pair set as dd_jaccard_prefix_join — the oracle is the
    plain quadratic shingle join — with measurably fewer verified
    candidates: 309,803 prefix-only -> 119,907 with the positional
    bounds at sf0.1 (61% pruned before array_intersect); pytest pins
    pair-set equality against BOTH the prefix-only join and the
    quadratic baseline."""
    docs = load(spark, sf_dir, "documents")
    return dd.jaccard_ppjoin_pairs(docs, "doc_id", threshold=0.5)


# -- DSIR hashed-chain oracle builder (shared by the audit + pipeline) -------


def _dsir_hashed_ctes(src: str, target_sql: str, top_n: int) -> str:
    """DuckDB CTE chain mirroring operators/selection.dsir_scores over a
    source CTE/table ``src``: hashed-bucket counts from a per-(doc,
    feature) reduce, 64-row smoothed log-ratio model (6-dp rounded ln),
    per-doc ordered fold, deterministic top-N as ``sel_top``."""
    return f"""
    feats AS (
        SELECT doc_id, ({target_sql}) AS t, unnest({_FEATS_SQL}) AS feat
        FROM {src}
    ),
    dfeat AS (
        SELECT doc_id, t, feat, CAST(count(*) AS BIGINT) AS cnt
        FROM feats GROUP BY 1, 2, 3
    ),
    fb AS (
        SELECT doc_id, t,
               CAST(('0x' || substr(md5(feat), 1, 4)) AS INTEGER) % {_B} AS b,
               cnt
        FROM dfeat
    ),
    docfeat AS (
        SELECT doc_id, t, b, CAST(sum(cnt) AS BIGINT) AS cnt
        FROM fb GROUP BY 1, 2, 3
    ),
    counts AS (
        SELECT b,
               CAST(sum(CASE WHEN t THEN cnt ELSE 0 END) AS BIGINT) AS ct,
               CAST(sum(CASE WHEN t THEN 0 ELSE cnt END) AS BIGINT) AS cr
        FROM docfeat GROUP BY b
    ),
    tot AS (SELECT CAST(sum(ct) AS BIGINT) AS zt,
                   CAST(sum(cr) AS BIGINT) AS zr FROM counts),
    model AS (
        SELECT b, round(ln(
            ((CAST(ct AS DOUBLE) + 0.5) * (CAST(zr AS DOUBLE) + {_AB!r}))
            / ((CAST(cr AS DOUBLE) + 0.5) * (CAST(zt AS DOUBLE) + {_AB!r}))
        ), 6) AS logr
        FROM counts CROSS JOIN tot
    ),
    contrib AS (
        SELECT doc_id, b, cnt, CAST(cnt AS DOUBLE) * logr AS s
        FROM docfeat JOIN model USING (b) WHERE NOT t
    ),
    scored AS (
        SELECT doc_id,
               CAST(sum(cnt) AS BIGINT) AS n_feats,
               list_reduce(list_prepend(0.0, list(s ORDER BY b)),
                           (x, y) -> x + y) AS dsir_score
        FROM contrib GROUP BY doc_id
    ),
    sel_top AS (
        SELECT doc_id, n_feats, dsir_score,
               CAST(row_number() OVER w AS INTEGER) AS sel_rank
        FROM scored
        WINDOW w AS (ORDER BY dsir_score DESC, doc_id)
        QUALIFY sel_rank <= {top_n}
    )
    """


# -- DSIR hashing-distortion audit --------------------------------------------


@register(
    "t_dsir_bucket_audit",
    oracle=f"""
    WITH {_dsir_hashed_ctes("documents", "lang = 'en'", _TOP_N)},
    ecounts AS (
        SELECT feat,
               CAST(sum(CASE WHEN t THEN cnt ELSE 0 END) AS BIGINT) AS ct,
               CAST(sum(CASE WHEN t THEN 0 ELSE cnt END) AS BIGINT) AS cr
        FROM dfeat GROUP BY feat
    ),
    etot AS (SELECT CAST(sum(ct) AS BIGINT) AS zt,
                    CAST(sum(cr) AS BIGINT) AS zr,
                    CAST(count(*) AS BIGINT) AS v FROM ecounts),
    emodel AS (
        SELECT feat, round(ln(
            ((CAST(ct AS DOUBLE) + 0.5)
             * (CAST(zr AS DOUBLE) + 0.5 * CAST(v AS DOUBLE)))
            / ((CAST(cr AS DOUBLE) + 0.5)
               * (CAST(zt AS DOUBLE) + 0.5 * CAST(v AS DOUBLE)))
        ), 6) AS logr
        FROM ecounts CROSS JOIN etot
    ),
    econtrib AS (
        SELECT doc_id, feat, cnt, CAST(cnt AS DOUBLE) * logr AS s
        FROM dfeat JOIN emodel USING (feat) WHERE NOT t
    ),
    escored AS (
        SELECT doc_id,
               list_reduce(list_prepend(0.0, list(s ORDER BY feat)),
                           (x, y) -> x + y) AS dsir_score
        FROM econtrib GROUP BY doc_id
    ),
    etop AS (
        SELECT doc_id FROM escored
        QUALIFY row_number() OVER (ORDER BY dsir_score DESC, doc_id)
                <= {_TOP_N}
    )
    SELECT (SELECT CAST(count(*) AS BIGINT)
            FROM sel_top JOIN etop USING (doc_id)) AS n_overlap,
           {_TOP_N} AS top_n,
           {_B} AS n_buckets,
           (SELECT v FROM etot) AS vocab_size
    """,
    tags=("text", "selection", "dsir", "audit", "llm-pipeline"),
)
def t_dsir_bucket_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-distortion audit for DSIR (the paper's ablation): how many
    of the EXACT-feature top-50 does the 64-bucket hashed top-50 keep?
    The exact model is vocabulary-sized (operators/selection.
    dsir_scores_exact — audit scale only; hashed is the 100 TB path);
    output is a single all-integer row, immune to float drift."""
    docs = load(spark, sf_dir, "documents")
    target = F.col("lang") == "en"
    # Optimization r14 (guide §2.3): ONE tokenize+featurize pass. The
    # exact path's persisted (doc, __t, feat, cnt) frame already holds
    # every feature occurrence count; the hashed path's (doc, __t, b,
    # cnt) input is its exact bigint re-aggregation under b =
    # hashed_bucket(feat), and vocab_size is its distinct-feat count —
    # so the corpus is featurized once instead of three times. Counts
    # are identical integers; both oracles untouched.
    doc_feat = sel.dsir_exact_doc_features(docs, target)
    e_out = sel.dsir_scores_exact(doc_feat, top_n=_TOP_N)
    doc_bucket = persist(
        doc_feat.select(
            "doc_id",
            "__t",
            sel.hashed_bucket(F.col("feat"), _B).alias("b"),
            "cnt",
        )
        .groupBy("doc_id", "__t", "b")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    h = sel.dsir_scores(
        docs, target, top_n=_TOP_N, doc_bucket=doc_bucket
    ).select("doc_id")
    e = e_out.select("doc_id")
    overlap = h.join(e, "doc_id").agg(
        F.count("*").cast("bigint").alias("n_overlap")
    )
    vocab = doc_feat.agg(
        F.countDistinct("feat").cast("bigint").alias("vocab_size")
    )
    return overlap.crossJoin(F.broadcast(vocab)).select(
        "n_overlap",
        F.lit(_TOP_N).cast("int").alias("top_n"),
        F.lit(_B).cast("int").alias("n_buckets"),
        "vocab_size",
    )


# -- End-to-end curation pipeline with selection ------------------------------

_PIPE_TOP = 100
_QUALITY_SQL = r"""
    CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) < 5 THEN 0.0
         ELSE 1.0 - least(1.0,
              length(regexp_replace(text, '[^.!?,;]', '', 'g'))
              / greatest(len(string_split_regex(lower(trim(text)), '\s+')), 1))
    END
"""


@register(
    "t_select_curate_pipeline",
    oracle=f"""
    WITH gated AS (
        SELECT doc_id, lang, source, text FROM (
            SELECT doc_id, lang, source, text,
                   {_QUALITY_SQL} AS q,
                   min(doc_id) OVER (
                       PARTITION BY md5(lower(trim(text)))) AS keep_id
            FROM documents
        ) WHERE q >= 0.5 AND doc_id = keep_id
    ),
    {_dsir_hashed_ctes("gated", "source = 'src0'", _PIPE_TOP)}
    SELECT g.lang, g.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(s.n_feats) AS BIGINT) AS sum_feats,
           CAST(min(s.sel_rank) AS INTEGER) AS best_rank
    FROM sel_top s JOIN gated g USING (doc_id)
    GROUP BY g.lang, g.source
    """,
    tags=("text", "pipeline", "selection", "dsir", "llm-pipeline"),
)
def t_select_curate_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation with a selection stage, ONE Catalyst plan:
    quality gate (>= 0.5) -> exact-dup removal (min-id survivor per
    content digest) -> DSIR selection of the top-100 out-of-seed docs
    against the src0 seed domain -> per-(lang, source) rollup of the
    selected slice. The textbook DSIR deployment (seed domain ->
    select from the web crawl), composed from the same operators the
    standalone rows verify."""
    docs = load(spark, sf_dir, "documents")
    q = tx.quality_features(docs.select("doc_id", "lang", "source", "text"))
    wdig = Window.partitionBy(F.md5(F.lower(F.trim(F.col("text")))))
    gated = (
        q.withColumn("keep_id", F.min("doc_id").over(wdig))
        .where((F.col("quality_score") >= 0.5) & (F.col("doc_id") == F.col("keep_id")))
        .select("doc_id", "lang", "source", "text")
    )
    top = sel.dsir_scores(gated, F.col("source") == "src0", top_n=_PIPE_TOP)
    return (
        top.join(gated.select("doc_id", "lang", "source"), "doc_id")
        .groupBy("lang", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_feats").cast("bigint").alias("sum_feats"),
            F.min("sel_rank").cast("int").alias("best_rank"),
        )
    )


# -- C4 span scrub (restored: this block predates the round-12 selection
# wave in this file and was accidentally dropped when the file was
# rewritten; identical to the r11-era registration) ----------------------

_SPAN_LEN = 10
_MAX_SPAN_DF = 1  # remove every span seen in >= 2 distinct docs


@register(
    "t_span_scrub",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    spans AS (
        SELECT doc_id,
               CAST(i AS INTEGER) AS span_idx,
               array_to_string(
                   t[i * {_SPAN_LEN} + 1 : i * {_SPAN_LEN} + {_SPAN_LEN}],
                   ' ') AS span
        FROM t,
             unnest(range(0, CAST(ceil(len(t) / {_SPAN_LEN}.0) AS BIGINT)))
                 AS r(i)
    ),
    freq AS (
        SELECT span, CAST(count(*) AS BIGINT) AS span_df
        FROM (SELECT DISTINCT doc_id, span FROM spans) GROUP BY span
    ),
    kept AS (
        SELECT s.doc_id, s.span_idx, s.span
        FROM spans s JOIN freq USING (span)
        WHERE span_df <= {_MAX_SPAN_DF}
    ),
    rebuilt AS (
        SELECT doc_id,
               string_agg(span, ' ' ORDER BY span_idx) AS clean_text,
               CAST(count(*) AS BIGINT) AS n_spans_kept
        FROM kept GROUP BY doc_id
    ),
    totals AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans
        FROM spans GROUP BY doc_id
    )
    SELECT totals.doc_id,
           COALESCE(clean_text, '') AS clean_text,
           n_spans,
           COALESCE(n_spans_kept, 0) AS n_spans_kept
    FROM totals LEFT JOIN rebuilt USING (doc_id)
    """,
    tags=("dedup", "span", "transform", "llm-pipeline"),
)
def t_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style span removal + reassembly: every 10-token span occurring
    in >= 2 distinct documents is deleted from ALL of them, and each
    document's surviving spans are re-joined in position order
    (operators/dedup.span_scrub). The reassembly is a per-doc
    array_sort(collect_list(struct)) — never a window or global sort;
    fully-scrubbed docs surface with empty clean_text via the doc-spine
    left join."""
    docs = load(spark, sf_dir, "documents")
    return dd.span_scrub(
        docs, "doc_id", span_len=_SPAN_LEN, max_span_df=_MAX_SPAN_DF
    )


# -- Gumbel-top-k DSIR resampling ---------------------------------------------

_GUMBEL_SQL = (
    "round(-ln(-ln((CAST(('0x' || substr(md5('g:' || CAST(doc_id AS VARCHAR)),"
    " 1, 8)) AS BIGINT) + 0.5) / 4294967296.0)), 6)"
)


@register(
    "t_dsir_gumbel_sample",
    oracle=f"""
    WITH {_dsir_hashed_ctes("documents", "lang = 'en'", _TOP_N)},
    keyed AS (
        SELECT doc_id, n_feats, dsir_score,
               {_GUMBEL_SQL} AS gumbel
        FROM scored
    ),
    k2 AS (SELECT keyed.*, dsir_score + gumbel AS sample_key FROM keyed)
    SELECT doc_id, n_feats, dsir_score, gumbel, sample_key,
           CAST(row_number() OVER w AS INTEGER) AS sample_rank
    FROM k2
    WINDOW w AS (ORDER BY sample_key DESC, doc_id)
    QUALIFY sample_rank <= {_TOP_N}
    """,
    tags=("text", "selection", "dsir", "sampling", "gumbel", "llm-pipeline"),
)
def t_dsir_gumbel_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR's ACTUAL resampling step, derandomized: top-50 of
    dsir_score + Gumbel samples 50 docs without replacement with
    probability proportional to exp(score) = the importance weight
    (Gumbel-top-k; operators/selection.dsir_gumbel_sample). The Gumbel
    noise is md5-derived — u = (h32 + 0.5)/2^32, G = -ln(-ln(u)),
    6-dp rounded — so the SAMPLE is reproducible across engines,
    executors, and retries, and the plan stays a TakeOrdered (no RNG
    state, no global sort): the only sampler shape that is both
    statistically faithful and replayable at 100 TB."""
    docs = load(spark, sf_dir, "documents")
    return sel.dsir_gumbel_sample(
        docs, F.col("lang") == "en", top_n=_TOP_N
    )


# -- Video scene-cut detection -------------------------------------------------

_CUT_FACTOR = 1.5


@register(
    "mm_scene_cuts",
    oracle=f"""
    WITH meta AS (
        SELECT user_id AS video_id,
               least(count(*), 40) AS nf
        FROM events GROUP BY user_id
    ),
    dists AS (
        SELECT video_id, nf,
               unnest(range(0, nf - 1)) AS k
        FROM meta WHERE nf >= 2
    ),
    d2 AS (
        SELECT video_id, nf, k,
               CAST(list_sum(list_transform(range(32), j ->
                   abs(CAST((video_id * 31 + (k + 1) * 7 + j) % 256 AS BIGINT)
                       - CAST((video_id * 31 + k * 7 + j) % 256 AS BIGINT))
               )) AS BIGINT) AS dist
        FROM dists
    ),
    agg AS (
        SELECT video_id,
               CAST(count(*) AS BIGINT) AS n_boundaries,
               CAST(sum(dist) AS BIGINT) AS sum_dist,
               CAST(max(dist) AS BIGINT) AS max_dist
        FROM d2 GROUP BY video_id
    )
    SELECT a.video_id, a.n_boundaries, a.sum_dist, a.max_dist,
           CAST(sum(CASE WHEN CAST(d.dist AS DOUBLE)
                              > {_CUT_FACTOR!r} * (CAST(a.sum_dist AS DOUBLE)
                                 / CAST(a.n_boundaries AS DOUBLE))
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts
    FROM d2 d JOIN agg a USING (video_id)
    GROUP BY a.video_id, a.n_boundaries, a.sum_dist, a.max_dist
    """,
    tags=("multimodal", "video", "scene-cut", "decode", "mapInPandas"),
)
def mm_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over opaque video blobs: an Arrow-batched
    mapInPandas stage decodes each video's REAL frame bytes and emits
    one row per frame boundary with the L1 inter-frame distance; a
    boundary is a cut when its distance exceeds 1.5x the video's mean.
    The oracle re-derives every distance from the fixture generator
    formula — independent of the Python decode, so frame-offset bugs
    are caught cross-engine. Scale shape: blobs never leave their
    partition (decode is map-only); the only shuffle is the partial-agg
    on video_id; the cut threshold is a broadcast-sized per-video
    mean."""
    import numpy as np
    import pandas as pd
    from typing import Iterator

    from burst_db_spark.queries.round7 import _video_fixture

    path = _video_fixture(spark, sf_dir)
    vids = spark.read.parquet(path)

    def _dists(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            out_v, out_k, out_d = [], [], []
            for vid, nf, payload in zip(
                pdf["video_id"].astype(int),
                pdf["n_frames"].astype(int),
                pdf["payload"],
            ):
                if nf < 2:
                    continue
                frames = np.frombuffer(payload, dtype=np.uint8).reshape(
                    nf, 32
                )
                d = np.abs(
                    frames[1:].astype(np.int64)
                    - frames[:-1].astype(np.int64)
                ).sum(axis=1)
                out_v.extend([vid] * (nf - 1))
                out_k.extend(range(nf - 1))
                out_d.extend(int(x) for x in d)
            yield pd.DataFrame(
                {"video_id": out_v, "k": out_k, "dist": out_d}
            )

    d2 = vids.mapInPandas(_dists, "video_id long, k int, dist long")
    agg = d2.groupBy("video_id").agg(
        F.count("*").cast("bigint").alias("n_boundaries"),
        F.sum("dist").cast("bigint").alias("sum_dist"),
        F.max("dist").cast("bigint").alias("max_dist"),
    )
    mean_dist = F.col("sum_dist").cast("double") / F.col(
        "n_boundaries"
    ).cast("double")
    return (
        d2.join(agg, "video_id")
        .groupBy("video_id", "n_boundaries", "sum_dist", "max_dist")
        .agg(
            F.sum(
                F.when(
                    F.col("dist").cast("double")
                    > F.lit(_CUT_FACTOR) * mean_dist,
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_cuts")
        )
    )


# -- Streaming changepoint: incrementally-maintained daily counts -> detector


@register(
    "stream_mean_shift",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    base AS (
        SELECT event_type,
               CAST(sum(n) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS baseline
        FROM daily GROUP BY event_type
    ),
    win AS (
        SELECT event_type, day, n,
               CAST(sum(n) OVER w_pre AS BIGINT) AS pre_sum,
               CAST(count(*) OVER w_pre AS BIGINT) AS pre_n,
               CAST(sum(n) OVER w_post AS BIGINT) AS post_sum,
               CAST(count(*) OVER w_post AS BIGINT) AS post_n
        FROM daily
        WINDOW w_pre AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING),
               w_post AS (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN CURRENT ROW AND 6 FOLLOWING)
    )
    SELECT w.event_type, w.day, w.n,
           CAST(post_sum AS DOUBLE) / 7.0
           - CAST(pre_sum AS DOUBLE) / 7.0 AS delta,
           abs(CAST(post_sum AS DOUBLE) / 7.0
               - CAST(pre_sum AS DOUBLE) / 7.0) > 0.25 * b.baseline
               AS is_shift
    FROM win w JOIN base b USING (event_type)
    WHERE pre_n = 7 AND post_n = 7
    """,
    tags=("streaming", "changepoint", "window", "oracle-checked"),
)
def stream_mean_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-on changepoint monitoring: Structured Streaming maintains
    the per-type DAILY COUNT state incrementally (tumbling 1-day
    windows, complete mode, availableNow drain), and the two-window
    mean-shift detector (w20) runs as a batch analytic over the
    maintained snapshot — the standard state-maintenance/detector split
    (the detector needs 7-day flanks, so it reads the snapshot, not the
    stream). Must equal w20_mean_shift_changepoint's oracle exactly:
    the streamed daily counts are integers, so stream task order cannot
    perturb anything."""
    from burst_db_spark.streaming import incremental as st

    src = load(spark, sf_dir, "events").select("event_type", "ts")
    tmp = tmpdir("bds_stream_shift_")
    data_dir = f"{tmp}/in"
    src.write.parquet(data_dir)
    stream = st.file_stream(spark, data_dir, src.schema)
    agg = (
        stream.groupBy(F.window(F.col("ts"), "1 day"), F.col("event_type"))
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(
            "event_type",
            F.to_date(F.col("window.start")).alias("day"),
            "n",
        )
    )
    daily = drain(agg, tmp)

    # baseline via an unbounded window over the SAME frame (a second
    # scan of the memory table + join trips Spark's conflicting-
    # reference resolution on self-derived plans; the window also reuses
    # the per-type partitioning the flank windows already shuffle on)
    w_all = Window.partitionBy("event_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_pre = Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    w_post = Window.partitionBy("event_type").orderBy("day").rowsBetween(0, 6)
    win = daily.select(
        "event_type",
        "day",
        "n",
        F.sum("n").over(w_pre).cast("bigint").alias("pre_sum"),
        F.count("*").over(w_pre).cast("bigint").alias("pre_n"),
        F.sum("n").over(w_post).cast("bigint").alias("post_sum"),
        F.count("*").over(w_post).cast("bigint").alias("post_n"),
        (
            F.sum("n").over(w_all).cast("double")
            / F.count("*").over(w_all).cast("double")
        ).alias("baseline"),
    )
    mean_pre = F.col("pre_sum").cast("double") / F.lit(7.0)
    mean_post = F.col("post_sum").cast("double") / F.lit(7.0)
    return (
        win.where((F.col("pre_n") == 7) & (F.col("post_n") == 7))
        .select(
            "event_type",
            "day",
            "n",
            (mean_post - mean_pre).alias("delta"),
            (
                F.abs(mean_post - mean_pre) > F.lit(0.25) * F.col("baseline")
            ).alias("is_shift"),
        )
    )
