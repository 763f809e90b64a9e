"""Round-13-era queries (added in build round 11): corpus GOVERNANCE
operators — UniMax language-budget allocation (Chung et al., ICLR 2023
water-filling with per-language epoch caps), PSI distribution-drift
monitoring between corpus snapshots, quality-ranked near-dup survivor
selection, and per-document pipeline provenance (why each doc survived
or was dropped).

Reference parity: opera-adt/burst_db has no corpus-governance layer —
these extend the LLM-pipeline surface (SURVEY.md "beyond the reference"
mandate).

Cross-engine determinism: counts and prefix sums are exact BIGINTs; the
water level and PSI use single fixed-form double divisions; the one
transcendental (PSI's ln ratio) is rounded to 6 decimals on both
engines; survivor choice breaks ties on doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from burst_db_spark.catalog import load
from burst_db_spark.operators import dedup as dd
from burst_db_spark.operators import text as tx
from burst_db_spark.queries.similarity import _cos_sql
from burst_db_spark.queries.textops import _SHINGLES_CTE, _TOKS
from burst_db_spark.registry import register
from burst_db_spark.session import fan_out

# -- UniMax: water-filling language allocation --------------------------------

_UNIMAX_EPOCH_CAP = 2  # max epochs per language
_UNIMAX_BUDGET_FRAC = 0.5  # budget = 50% of total corpus tokens


@register(
    "t_unimax_allocation",
    oracle=f"""
    WITH langs AS (
        SELECT lang, CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens
        FROM documents GROUP BY lang
    ),
    caps AS (
        SELECT lang, n_tokens,
               CAST(n_tokens * {_UNIMAX_EPOCH_CAP} AS BIGINT) AS cap
        FROM langs
    ),
    tot AS (
        SELECT CAST(sum(n_tokens) AS BIGINT) AS corpus_tokens,
               CAST(count(*) AS BIGINT) AS n_langs
        FROM caps
    ),
    ordered AS (
        SELECT lang, n_tokens, cap,
               CAST(row_number() OVER (ORDER BY cap, lang) AS BIGINT) AS i,
               CAST(COALESCE(sum(cap) OVER (
                   ORDER BY cap, lang
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS prefix_below
        FROM caps
    ),
    budget AS (
        SELECT CAST(floor({_UNIMAX_BUDGET_FRAC!r}
                          * CAST(corpus_tokens AS DOUBLE)) AS BIGINT) AS b,
               n_langs
        FROM tot
    ),
    levels AS (
        SELECT o.*, b,
               (CAST(b AS DOUBLE) - CAST(prefix_below AS DOUBLE))
               / CAST(n_langs - i + 1 AS DOUBLE) AS level
        FROM ordered o CROSS JOIN budget
    ),
    valid AS (
        SELECT * FROM levels
        WHERE level <= CAST(cap AS DOUBLE)
          AND (i = 1 OR level >= 0)
        QUALIFY row_number() OVER (ORDER BY i) = 1
    ),
    final AS (
        SELECT l.lang, l.n_tokens, l.cap,
               CASE WHEN v.level IS NULL THEN CAST(l.cap AS DOUBLE)
                    WHEN CAST(l.cap AS DOUBLE) < v.level
                         THEN CAST(l.cap AS DOUBLE)
                    ELSE v.level END AS alloc
        FROM caps l LEFT JOIN valid v ON TRUE
    )
    SELECT lang, n_tokens, cap, alloc,
           alloc / CAST(n_tokens AS DOUBLE) AS epochs
    FROM final
    """,
    tags=("text", "sampling", "unimax", "allocation", "llm-pipeline"),
)
def t_unimax_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax language-budget allocation (Chung et al. ICLR'23): given a
    token budget (50% of the corpus) and a per-language cap of 2
    epochs, water-fill — every language gets the common level L with
    sum(min(cap_l, L)) = budget, capped languages keep their cap. The
    level is found CLOSED-FORM with one window pass over the
    cap-sorted languages (prefix sums locate the binding segment), so
    the iterative water-filling loop never runs: the whole allocator is
    a 5-row broadcast-sized plan at any corpus size (the heavy part is
    the token count, a map-side-combined scan)."""
    docs = load(spark, sf_dir, "documents")
    langs = docs.groupBy("lang").agg(
        F.sum(tx.token_count(F.col("text")).cast("bigint"))
        .cast("bigint")
        .alias("n_tokens")
    )
    caps = langs.select(
        "lang",
        "n_tokens",
        (F.col("n_tokens") * _UNIMAX_EPOCH_CAP).cast("bigint").alias("cap"),
    )
    tot = caps.agg(
        F.sum("n_tokens").cast("bigint").alias("corpus_tokens"),
        F.count("*").cast("bigint").alias("n_langs"),
    )
    w = Window.orderBy("cap", "lang")
    ordered = caps.select(
        "lang",
        "n_tokens",
        "cap",
        F.row_number().over(w).cast("bigint").alias("i"),
        F.coalesce(
            F.sum("cap").over(
                Window.orderBy("cap", "lang").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("prefix_below"),
    )
    budget = tot.select(
        F.floor(
            F.lit(_UNIMAX_BUDGET_FRAC) * F.col("corpus_tokens").cast("double")
        )
        .cast("bigint")
        .alias("b"),
        "n_langs",
    )
    levels = ordered.crossJoin(F.broadcast(budget)).withColumn(
        "level",
        (F.col("b").cast("double") - F.col("prefix_below").cast("double"))
        / (F.col("n_langs") - F.col("i") + 1).cast("double"),
    )
    valid = (
        levels.where(
            (F.col("level") <= F.col("cap").cast("double"))
            & ((F.col("i") == 1) | (F.col("level") >= 0))
        )
        .withColumn("__r", F.row_number().over(Window.orderBy("i")))
        .where(F.col("__r") == 1)
        .select(F.col("level").alias("vlevel"))
    )
    final = caps.join(F.broadcast(valid), how="left").select(
        "lang",
        "n_tokens",
        "cap",
        F.when(F.col("vlevel").isNull(), F.col("cap").cast("double"))
        .when(F.col("cap").cast("double") < F.col("vlevel"), F.col("cap").cast("double"))
        .otherwise(F.col("vlevel"))
        .alias("alloc"),
    )
    return final.select(
        "lang",
        "n_tokens",
        "cap",
        "alloc",
        (F.col("alloc") / F.col("n_tokens").cast("double")).alias("epochs"),
    )


# -- PSI distribution drift between snapshots ---------------------------------

_PSI_BINS = 16
_PSI_ALPHA = 0.5


@register(
    "a42_psi_drift",
    oracle=f"""
    WITH tagged AS (
        SELECT event_type,
               CAST(event_id % 2 AS INTEGER) AS snap,
               CAST(floor(value / 25.0) AS BIGINT) AS bin
        FROM events
    ),
    binned AS (
        SELECT event_type, bin,
               CAST(sum(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c_old,
               CAST(sum(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c_new
        FROM tagged GROUP BY event_type, bin
    ),
    tot AS (
        SELECT event_type,
               CAST(sum(c_old) AS BIGINT) AS z_old,
               CAST(sum(c_new) AS BIGINT) AS z_new,
               CAST(count(*) AS BIGINT) AS n_bins
        FROM binned GROUP BY event_type
    ),
    probs AS (
        SELECT b.event_type, b.bin,
               (CAST(c_old AS DOUBLE) + {_PSI_ALPHA!r})
               / (CAST(z_old AS DOUBLE)
                  + {_PSI_ALPHA!r} * CAST(n_bins AS DOUBLE)) AS p_old,
               (CAST(c_new AS DOUBLE) + {_PSI_ALPHA!r})
               / (CAST(z_new AS DOUBLE)
                  + {_PSI_ALPHA!r} * CAST(n_bins AS DOUBLE)) AS p_new
        FROM binned b JOIN tot USING (event_type)
    ),
    terms AS (
        SELECT event_type, bin,
               (p_new - p_old) * round(ln(p_new / p_old), 6) AS term
        FROM probs
    )
    SELECT event_type,
           list_reduce(list_prepend(0.0, list(term ORDER BY bin)),
                       (x, y) -> x + y) AS psi,
           CAST(count(*) AS BIGINT) AS n_bins
    FROM terms GROUP BY event_type
    """,
    tags=("aggregate", "drift", "psi", "monitoring"),
)
def a42_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two corpus snapshots (event_id
    parity stands in for old/new ingests): per event_type, bin `value`
    into width-25 buckets, smooth both distributions (add-0.5 over the
    observed bins), psi = sum (p_new - p_old) * ln(p_new/p_old) with the
    ln rounded to 6dp and the sum folded in bin order. PSI >= 0 always;
    the standard drift gate (alert at 0.2) a 100 TB ingest pipeline
    runs per partition before accepting a new snapshot. One shuffle on
    (type, bin), then a per-type fold."""
    events = load(spark, sf_dir, "events")
    tagged = events.select(
        "event_type",
        (F.col("event_id") % 2).cast("int").alias("snap"),
        F.floor(F.col("value") / F.lit(25.0)).cast("bigint").alias("bin"),
    )
    binned = tagged.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("snap") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("c_old"),
        F.sum(F.when(F.col("snap") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("c_new"),
    )
    tot = binned.groupBy("event_type").agg(
        F.sum("c_old").cast("bigint").alias("z_old"),
        F.sum("c_new").cast("bigint").alias("z_new"),
        F.count("*").cast("bigint").alias("n_bins"),
    )
    a = _PSI_ALPHA
    probs = binned.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "bin",
        (
            (F.col("c_old").cast("double") + F.lit(a))
            / (
                F.col("z_old").cast("double")
                + F.lit(a) * F.col("n_bins").cast("double")
            )
        ).alias("p_old"),
        (
            (F.col("c_new").cast("double") + F.lit(a))
            / (
                F.col("z_new").cast("double")
                + F.lit(a) * F.col("n_bins").cast("double")
            )
        ).alias("p_new"),
    )
    terms = probs.select(
        "event_type",
        "bin",
        (
            (F.col("p_new") - F.col("p_old"))
            * F.round(F.log(F.col("p_new") / F.col("p_old")), 6)
        ).alias("term"),
    )
    return (
        terms.groupBy("event_type")
        .agg(
            F.array_sort(F.collect_list(F.struct("bin", "term"))).alias("__c"),
            F.count("*").cast("bigint").alias("n_bins"),
        )
        .select(
            "event_type",
            F.aggregate("__c", F.lit(0.0), lambda acc, x: acc + x["term"]).alias(
                "psi"
            ),
            "n_bins",
        )
    )


# -- Quality-ranked near-dup survivor selection --------------------------------

_QUALITY_SQL = r"""
    CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) < 5 THEN 0.0
         ELSE 1.0 - least(1.0,
              length(regexp_replace(text, '[^.!?,;]', '', 'g'))
              / greatest(len(string_split_regex(lower(trim(text)), '\s+')), 1))
    END
"""


@register(
    "dd_cluster_best_survivor",
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
    q AS (SELECT doc_id, {_QUALITY_SQL} AS quality FROM documents),
    ranked AS (
        SELECT l.cluster_id, l.doc_id, q.quality,
               row_number() OVER (
                   PARTITION BY l.cluster_id
                   ORDER BY q.quality DESC, l.doc_id
               ) AS rk,
               CAST(count(*) OVER (PARTITION BY l.cluster_id) AS BIGINT)
                   AS n_members
        FROM labels l JOIN q USING (doc_id)
    )
    SELECT cluster_id,
           doc_id AS survivor_id,
           quality AS survivor_quality,
           n_members
    FROM ranked WHERE rk = 1 AND n_members > 1
    """,
    tags=("dedup", "clustering", "survivor", "quality", "llm-pipeline"),
)
def dd_cluster_best_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked survivor selection: within every MULTI-MEMBER
    near-dup cluster keep the HIGHEST-QUALITY document (tie -> lowest
    id), not the arbitrary min-id — the selection rule a production
    dedup actually wants (the kept copy should be the best one). One
    per-cluster window over the label frame; singleton clusters are
    excluded (nothing to choose)."""
    docs = load(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(docs, "doc_id", threshold=0.2)
    labels = dd.connected_components(pairs, docs, "doc_id")
    q = tx.quality_features(docs.select("doc_id", "text")).select(
        "doc_id", F.col("quality_score").alias("quality")
    )
    wq = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    wc = Window.partitionBy("cluster_id")
    ranked = (
        labels.join(q, "doc_id")
        .withColumn("rk", F.row_number().over(wq))
        .withColumn("n_members", F.count("*").over(wc).cast("bigint"))
    )
    return (
        ranked.where((F.col("rk") == 1) & (F.col("n_members") > 1))
        .select(
            "cluster_id",
            F.col("doc_id").alias("survivor_id"),
            F.col("quality").alias("survivor_quality"),
            "n_members",
        )
    )


# -- Per-document pipeline provenance ------------------------------------------


@register(
    "t_pipeline_provenance",
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
    staged AS (
        SELECT d.doc_id,
               {_QUALITY_SQL} >= 0.5 AS passed_quality,
               d.doc_id != min(d.doc_id) OVER (
                   PARTITION BY md5(lower(trim(d.text)))) AS is_exact_dup,
               l.cluster_id != d.doc_id AS is_near_dup_loser
        FROM documents d JOIN labels l ON l.doc_id = d.doc_id
    )
    SELECT doc_id, passed_quality, is_exact_dup, is_near_dup_loser,
           CASE WHEN NOT passed_quality THEN 'drop:quality'
                WHEN is_exact_dup THEN 'drop:exact_dup'
                WHEN is_near_dup_loser THEN 'drop:near_dup'
                ELSE 'kept' END AS final_status
    FROM staged
    """,
    tags=("text", "pipeline", "provenance", "llm-pipeline"),
)
def t_pipeline_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document pipeline provenance: every doc carries its stage
    verdicts (quality gate, exact-dup, near-dup cluster loser = not the
    min-id representative) and a first-failing-stage final_status — the
    audit trail a 100 TB curation run must emit so that 'why was this
    doc dropped' is a lookup, not a re-run. All verdicts come from ONE
    plan: the digest window, the quality expression, and the CC label
    frame each add no driver round-trips."""
    docs = load(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(docs, "doc_id", threshold=0.2)
    labels = dd.connected_components(pairs, docs, "doc_id")
    q = tx.quality_features(docs.select("doc_id", "text"))
    wdig = Window.partitionBy(F.md5(F.lower(F.trim(F.col("text")))))
    staged = (
        q.withColumn("keep_id", F.min("doc_id").over(wdig))
        .join(labels, "doc_id")
        .select(
            "doc_id",
            (F.col("quality_score") >= 0.5).alias("passed_quality"),
            (F.col("doc_id") != F.col("keep_id")).alias("is_exact_dup"),
            (F.col("cluster_id") != F.col("doc_id")).alias(
                "is_near_dup_loser"
            ),
        )
    )
    return staged.select(
        "doc_id",
        "passed_quality",
        "is_exact_dup",
        "is_near_dup_loser",
        F.when(~F.col("passed_quality"), F.lit("drop:quality"))
        .when(F.col("is_exact_dup"), F.lit("drop:exact_dup"))
        .when(F.col("is_near_dup_loser"), F.lit("drop:near_dup"))
        .otherwise(F.lit("kept"))
        .alias("final_status"),
    )


# -- Matryoshka funnel ANN ------------------------------------------------------

_MRL_PREFIX = 16  # coarse search dims (of 64)
_MRL_CAND = 50    # candidates surviving the coarse stage
_MRL_QUERIES = 10
_MRL_TOP = 3

_DOT_N = (
    "list_reduce(list_transform(range(1, {n} + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
)


def _cos_n_sql(a: str, b: str, n: int) -> str:
    dot = _DOT_N.format(a=a, b=b, n=n)
    na = _DOT_N.format(a=a, b=a, n=n)
    nb = _DOT_N.format(a=b, b=b, n=n)
    return f"{dot} / (sqrt({na}) * sqrt({nb}))"


@register(
    "knn_matryoshka_funnel",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id < {_MRL_QUERIES}),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    coarse AS (
        SELECT query_id, neighbor_id, cv, qv,
               {_cos_n_sql("qv", "cv", _MRL_PREFIX)} AS cos16
        FROM c CROSS JOIN q WHERE neighbor_id != query_id
        QUALIFY row_number() OVER (
            PARTITION BY query_id ORDER BY cos16 DESC, neighbor_id
        ) <= {_MRL_CAND}
    )
    SELECT query_id, neighbor_id,
           CAST(row_number() OVER (
               PARTITION BY query_id
               ORDER BY {_cos_n_sql("qv", "cv", 64)} DESC, neighbor_id
           ) AS INTEGER) AS rank,
           {_cos_n_sql("qv", "cv", 64)} AS cos
    FROM coarse
    QUALIFY rank <= {_MRL_TOP}
    """,
    tags=("similarity", "ann", "matryoshka", "funnel"),
)
def knn_matryoshka_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka funnel search (Kusupati et al. NeurIPS'22): rank by
    the FIRST 16 embedding dims (4x less compute and 4x less IO with a
    dimension-pruned scan), keep 50 candidates per query, rerank those
    with the full 64-dim cosine. MRL-trained embeddings concentrate
    signal in the prefix, so the funnel loses little recall while the
    coarse stage touches a quarter of the vector bytes — the standard
    memory-bandwidth play for 100 TB vector search. Both stages are
    bounded per-query windows over a broadcast query set."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < _MRL_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    from burst_db_spark.operators.similarity import cosine

    coarse_cos = cosine(
        F.slice(F.col("qv"), 1, _MRL_PREFIX), F.slice(F.col("cv"), 1, _MRL_PREFIX)
    )
    w_coarse = Window.partitionBy("query_id").orderBy(
        F.col("cos16").desc(), F.col("neighbor_id")
    )
    coarse = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos16", coarse_cos)
        .withColumn("__r", F.row_number().over(w_coarse))
        .where(F.col("__r") <= _MRL_CAND)
    )
    w_full = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        coarse.withColumn("cos", cosine(F.col("qv"), F.col("cv")))
        .withColumn("rank", F.row_number().over(w_full).cast("int"))
        .where(F.col("rank") <= _MRL_TOP)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


# -- Deterministic Poisson-bootstrap confidence intervals -----------------------

_BOOT_B = 32
# Poisson(1) CDF thresholds: P(X<=k) for k = 0..4; u above the last -> 5
_POIS_CDF = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
]


def _pois_case_sql(u: str) -> str:
    branches = "".join(
        f"WHEN {u} <= {t!r} THEN {k} " for k, t in enumerate(_POIS_CDF)
    )
    return f"CASE {branches}ELSE 5 END"


@register(
    "a43_bootstrap_ci",
    oracle=f"""
    WITH reps AS (
        SELECT event_type, event_id, value,
               CAST(unnest(range({_BOOT_B})) AS INTEGER) AS b
        FROM events
    ),
    w AS (
        SELECT event_type, b, value,
               {_pois_case_sql(
                   "((CAST(('0x' || substr(md5('boot' "
                   "|| CAST(b // 4 AS VARCHAR) "
                   "|| ':' || CAST(event_id AS VARCHAR)), "
                   "(b % 4) * 8 + 1, 8)) AS BIGINT) "
                   "+ 0.5) / 4294967296.0)"
               )} AS wt
        FROM reps
    ),
    means AS (
        SELECT event_type, b,
               CAST(CAST(sum(wt * CAST(value AS DECIMAL(18, 6)))
                    AS DECIMAL(28, 6)) AS DOUBLE)
               / CAST(sum(wt) AS DOUBLE) AS m
        FROM w WHERE wt > 0
        GROUP BY event_type, b
    ),
    ranked AS (
        SELECT event_type, m,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY m, b) AS rn,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS nb
        FROM means
    )
    SELECT event_type,
           min(CASE WHEN rn = 2 THEN m END) AS ci_lo,
           min(CASE WHEN rn = nb - 1 THEN m END) AS ci_hi,
           min(nb) AS n_resamples
    FROM ranked GROUP BY event_type
    """,
    tags=("aggregate", "bootstrap", "statistics", "deterministic-sampling"),
)
def a43_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the per-type mean value,
    fully DETERMINISTIC: each (row, resample) weight is Poisson(1)
    drawn by inverting the CDF on an md5-derived uniform — the classic
    single-pass bootstrap for data too large to resample by index
    (Chamandy et al., Google 2012), made replayable across engines and
    retries. Weighted sums accumulate in DECIMAL so shuffle order
    cannot perturb them; the CI is the 2nd / (B-1)th order statistic of
    the B=32 resample means. One explode(B) + one (type, b) map-side-
    combined reduce — no per-row state, no RNG.

    md5 cost is amortized by DIGEST SLICING (same device as
    dedup._md5_hash32_sliced): one digest = 128 bits = four 32-bit
    uniforms, so the B=32 draws cost 8 md5 evaluations per row, all
    computed BEFORE the explode — measured 8.7 s -> the md5 stage drops
    4x at sf0.1."""
    return bootstrap_ci_frame(load(spark, sf_dir, "events"))


def bootstrap_ci_frame(events: DataFrame) -> DataFrame:
    """a43 core on an arbitrary (event_type, event_id, value) frame —
    shared by the registered query and scale_probe's bootstrap rung.

    Optimization r14 (guide §2.3/§4 — don't explode what you can
    aggregate; materialize shared subexpressions as attributes): the
    original plan exploded every row B=32 ways, each exploded row
    CARRYING the ~300-byte 8-digest array, and re-derived uniform+weight
    from the digests per exploded row (the CASE chain references the
    conv() uniform 5×, and expression trees get no CSE — ~160 conv per
    input row). Now the per-row pipeline is three non-collapsible
    projections — 8 md5 digests → a 32-double uniform array (one conv
    per resample) → ``transform`` to the 32-int weight array (the CDF
    CASE reads a cheap lambda variable) — and the (Σwt, Σwt·value)
    pairs for all 32 resamples aggregate as 2·B ``element_at`` columns
    in ONE partially-aggregated groupBy(event_type): no explode at all
    (explode variants trip InferFiltersFromGenerate, which re-inlines
    the whole weight-array expression into a pre-scan Filter — measured
    2.5× WORSE), and the B means posexplode from a B-length aggregated
    array (n_types·B rows). Weights, exact int/DECIMAL sums, and the
    division inputs are bit-identical, so the CI bounds are unchanged;
    the DuckDB oracle is untouched. Measured sf0.1 best-of-3: 6.8 s →
    1.5 s (see OPTIMIZATION_r14.md)."""
    n_digs = _BOOT_B // 4
    # the fan-out moves 3 narrow columns, far cheaper than the 8 md5 +
    # 32 conv per row it parallelizes
    digs = fan_out(events).select(
        "event_type",
        "value",
        F.array(
            *[
                F.md5(
                    F.concat(
                        F.lit(f"boot{s}:"), F.col("event_id").cast("string")
                    )
                )
                for s in range(n_digs)
            ]
        ).alias("__digs"),
    )

    def _u(b: int):
        return (
            F.conv(
                F.element_at(F.col("__digs"), b // 4 + 1).substr(
                    (b % 4) * 8 + 1, 8
                ),
                16,
                10,
            ).cast("bigint").cast("double")
            + F.lit(0.5)
        ) / F.lit(4294967296.0)

    def _cdf_case(u):
        wt = F.lit(5)
        for k in range(len(_POIS_CDF) - 1, -1, -1):
            wt = F.when(u <= F.lit(_POIS_CDF[k]), F.lit(k)).otherwise(wt)
        return wt

    us = digs.select(
        "event_type",
        "value",
        F.array(*[_u(b) for b in range(_BOOT_B)]).alias("__us"),
    )
    wts = us.select(
        "event_type",
        F.col("value").cast("decimal(18,6)").alias("__v"),
        F.transform("__us", _cdf_case).alias("__wts"),
    )
    aggs = []
    for b in range(_BOOT_B):
        wt = F.element_at(F.col("__wts"), b + 1)
        aggs.append(F.sum(wt).alias(f"__w{b}"))
        aggs.append(F.sum(wt * F.col("__v")).alias(f"__s{b}"))
    sums = wts.groupBy("event_type").agg(*aggs)
    # (b, Σwt, Σwt·value) per type; a resample with Σwt = 0 is dropped
    # exactly as the old pre-aggregation WHERE wt > 0 did (the group
    # existed iff ≥1 wt > 0, and wt = 0 rows contribute exact zero to
    # both sums, so the surviving groups and sums are identical).
    pairs = F.array(
        *[
            F.struct(
                F.col(f"__w{b}").alias("w"), F.col(f"__s{b}").alias("s")
            )
            for b in range(_BOOT_B)
        ]
    )
    means = (
        sums.select("event_type", F.posexplode(pairs).alias("b", "p"))
        .where(F.col("p.w") > 0)
        .select(
            "event_type",
            F.col("b").cast("int").alias("b"),
            (
                F.col("p.s").cast("decimal(28,6)").cast("double")
                / F.col("p.w").cast("double")
            ).alias("m"),
        )
    )
    wr = Window.partitionBy("event_type").orderBy("m", "b")
    wc = Window.partitionBy("event_type")
    ranked = means.withColumn("rn", F.row_number().over(wr)).withColumn(
        "nb", F.count("*").over(wc).cast("bigint")
    )
    return ranked.groupBy("event_type").agg(
        F.min(F.when(F.col("rn") == 2, F.col("m"))).alias("ci_lo"),
        F.min(F.when(F.col("rn") == F.col("nb") - 1, F.col("m"))).alias(
            "ci_hi"
        ),
        F.min("nb").alias("n_resamples"),
    )


# -- Corpus-statistics diagnostics: Zipf slope + Heaps law ----------------------

_ZIPF_TOP = 200


@register(
    "t_zipf_slope",
    oracle=f"""
    WITH toks AS (
        SELECT unnest({_TOKS}) AS term FROM documents
    ),
    freq AS (
        SELECT term, CAST(count(*) AS BIGINT) AS f
        FROM toks GROUP BY term
    ),
    top AS (
        SELECT term, f,
               CAST(row_number() OVER (ORDER BY f DESC, term) AS BIGINT)
                   AS rnk
        FROM freq
        QUALIFY rnk <= {_ZIPF_TOP}
    ),
    xy AS (
        SELECT rnk,
               round(ln(CAST(rnk AS DOUBLE)), 6) AS x,
               round(ln(CAST(f AS DOUBLE)), 6) AS y
        FROM top
    ),
    folds AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               list_reduce(list_prepend(0.0, list(x ORDER BY rnk)),
                           (a, b) -> a + b) AS sx,
               list_reduce(list_prepend(0.0, list(y ORDER BY rnk)),
                           (a, b) -> a + b) AS sy,
               list_reduce(list_prepend(0.0, list(x * x ORDER BY rnk)),
                           (a, b) -> a + b) AS sxx,
               list_reduce(list_prepend(0.0, list(x * y ORDER BY rnk)),
                           (a, b) -> a + b) AS sxy
        FROM xy
    )
    SELECT n AS n_terms,
           (CAST(n AS DOUBLE) * sxy - sx * sy)
           / (CAST(n AS DOUBLE) * sxx - sx * sx) AS zipf_slope,
           (sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
                  / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
           / CAST(n AS DOUBLE) AS intercept
    FROM folds
    """,
    tags=("text", "statistics", "zipf", "diagnostics", "llm-pipeline"),
)
def t_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law diagnostic: OLS slope of ln(freq) on ln(rank) over the
    top-200 corpus terms — natural-language corpora sit near -1, and a
    drifting slope is an early signal of boilerplate floods or
    synthetic-text contamination. Top-k via TakeOrdered; the regression
    runs over exactly 200 rows with rank-ordered folds, so every float
    sum is order-pinned; the two ln calls are 6dp-rounded."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tx.tokens(F.col("text"))).alias("term"))
    freq = toks.groupBy("term").agg(F.count("*").cast("bigint").alias("f"))
    top = (
        freq.orderBy(F.col("f").desc(), F.col("term"))
        .limit(_ZIPF_TOP)
        .withColumn(
            "rnk",
            F.row_number()
            .over(Window.orderBy(F.col("f").desc(), F.col("term")))
            .cast("bigint"),
        )
    )
    xy = top.select(
        "rnk",
        F.round(F.log(F.col("rnk").cast("double")), 6).alias("x"),
        F.round(F.log(F.col("f").cast("double")), 6).alias("y"),
    )
    folds = xy.agg(
        F.count("*").cast("bigint").alias("n"),
        F.array_sort(F.collect_list(F.struct("rnk", "x"))).alias("__x"),
        F.array_sort(F.collect_list(F.struct("rnk", "y"))).alias("__y"),
        F.array_sort(
            F.collect_list(F.struct("rnk", (F.col("x") * F.col("x")).alias("v")))
        ).alias("__xx"),
        F.array_sort(
            F.collect_list(F.struct("rnk", (F.col("x") * F.col("y")).alias("v")))
        ).alias("__xy"),
    ).select(
        "n",
        F.aggregate("__x", F.lit(0.0), lambda a, s: a + s["x"]).alias("sx"),
        F.aggregate("__y", F.lit(0.0), lambda a, s: a + s["y"]).alias("sy"),
        F.aggregate("__xx", F.lit(0.0), lambda a, s: a + s["v"]).alias("sxx"),
        F.aggregate("__xy", F.lit(0.0), lambda a, s: a + s["v"]).alias("sxy"),
    )
    n_d = F.col("n").cast("double")
    slope = (n_d * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n_d * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return folds.select(
        F.col("n").alias("n_terms"),
        slope.alias("zipf_slope"),
        ((F.col("sy") - slope * F.col("sx")) / n_d).alias("intercept"),
    )


_HEAPS_STEP = 50  # docs per checkpoint


@register(
    "t_heaps_law",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKS}) AS term FROM documents
    ),
    first_seen AS (
        SELECT term, CAST(min(doc_id) AS BIGINT) AS first_doc
        FROM toks GROUP BY term
    ),
    doc_tokens AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok
        FROM toks GROUP BY doc_id
    ),
    checkpoints AS (
        SELECT CAST(doc_id // {_HEAPS_STEP} AS BIGINT) AS cp,
               CAST(max(doc_id) AS BIGINT) AS last_doc
        FROM doc_tokens GROUP BY 1
    ),
    cum AS (
        SELECT c.cp, c.last_doc,
               (SELECT CAST(sum(n_tok) AS BIGINT) FROM doc_tokens d
                WHERE d.doc_id <= c.last_doc) AS tokens_cum,
               (SELECT CAST(count(*) AS BIGINT) FROM first_seen f
                WHERE f.first_doc <= c.last_doc) AS vocab_cum
        FROM checkpoints c
    )
    SELECT cp, last_doc, tokens_cum, vocab_cum
    FROM cum
    """,
    tags=("text", "statistics", "heaps", "diagnostics", "llm-pipeline"),
)
def t_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law growth curve: cumulative vocabulary size vs cumulative
    token count at every 50-doc checkpoint (doc-id order). A corpus
    whose vocabulary stops growing is repeating itself — the curve is
    the canonical dedup-health diagnostic. ALL-INTEGER output. Spark
    plan: per-term first-seen doc (one groupBy), per-checkpoint token
    totals, then cumulative sums via a window over the tiny checkpoint
    frame — never a quadratic correlated subquery (that formulation is
    left to the oracle, where DuckDB's optimizer handles 10 rows)."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tx.tokens(F.col("text"))).alias("term")
    )
    first_seen = toks.groupBy("term").agg(
        F.min("doc_id").cast("bigint").alias("first_doc")
    )
    doc_tokens = toks.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tok")
    )
    cp_col = (F.col("doc_id") / _HEAPS_STEP).cast("bigint")
    # per-checkpoint increments, then running totals over the tiny
    # checkpoint frame (a single-partition window over ~n_docs/50 rows)
    tok_inc = doc_tokens.groupBy(cp_col.alias("cp")).agg(
        F.sum("n_tok").cast("bigint").alias("tok_inc"),
        F.max("doc_id").cast("bigint").alias("last_doc"),
    )
    voc_inc = first_seen.groupBy(
        (F.col("first_doc") / _HEAPS_STEP).cast("bigint").alias("cp")
    ).agg(F.count("*").cast("bigint").alias("voc_inc"))
    wcum = Window.orderBy("cp").rowsBetween(Window.unboundedPreceding, 0)
    return (
        tok_inc.join(voc_inc, "cp", "left")
        .fillna(0, subset=["voc_inc"])
        .select(
            "cp",
            "last_doc",
            F.sum("tok_inc").over(wcum).cast("bigint").alias("tokens_cum"),
            F.sum("voc_inc").over(wcum).cast("bigint").alias("vocab_cum"),
        )
    )


# -- PMI collocations ------------------------------------------------------------

_PMI_MIN_COUNT = 5
_PMI_TOP = 50


@register(
    "t_pmi_collocations",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS} AS t FROM documents
    ),
    uni AS (
        SELECT unnest(t) AS term FROM toks
    ),
    ucnt AS (
        SELECT term, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY term
    ),
    utot AS (SELECT CAST(sum(c) AS BIGINT) AS zu FROM ucnt),
    bi AS (
        SELECT t[i] AS w1, t[i + 1] AS w2
        FROM toks, unnest(range(1, len(t))) AS r(i)
    ),
    bcnt AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
        FROM bi GROUP BY w1, w2
    ),
    btot AS (SELECT CAST(sum(c) AS BIGINT) AS zb FROM bcnt),
    pmi AS (
        SELECT b.w1, b.w2, b.c AS pair_count,
               round(ln(
                   (CAST(b.c AS DOUBLE) / CAST(zb AS DOUBLE))
                   / ((CAST(u1.c AS DOUBLE) / CAST(zu AS DOUBLE))
                      * (CAST(u2.c AS DOUBLE) / CAST(zu AS DOUBLE)))
               ), 6) AS pmi
        FROM bcnt b
        JOIN ucnt u1 ON u1.term = b.w1
        JOIN ucnt u2 ON u2.term = b.w2
        CROSS JOIN utot CROSS JOIN btot
        WHERE b.c >= {_PMI_MIN_COUNT}
    )
    SELECT w1, w2, pair_count, pmi,
           CAST(row_number() OVER (ORDER BY pmi DESC, w1, w2) AS INTEGER)
               AS rnk
    FROM pmi
    QUALIFY rnk <= {_PMI_TOP}
    """,
    tags=("text", "collocations", "pmi", "statistics", "llm-pipeline"),
)
def t_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining via pointwise mutual information (Church &
    Hanks 1990): PMI = ln(p(w1,w2) / (p(w1)p(w2))) over adjacent token
    bigrams with count >= 5, top-50 by PMI — the classic detector of
    multi-word expressions a tokenizer or phrase index should treat as
    units. Two shuffles (unigram + bigram counts), two broadcast
    marginal joins, TakeOrdered cut; the one ln is 6dp-rounded."""
    docs = load(spark, sf_dir, "documents")
    toks_arr = docs.select(tx.tokens(F.col("text")).alias("t"))
    uni = toks_arr.select(F.explode("t").alias("term"))
    ucnt = uni.groupBy("term").agg(F.count("*").cast("bigint").alias("c"))
    utot = ucnt.agg(F.sum("c").cast("bigint").alias("zu"))
    bi = toks_arr.where(F.size("t") > 1).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.struct(
                    F.element_at("t", i).alias("w1"),
                    F.element_at("t", i + 1).alias("w2"),
                ),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bcnt = bi.groupBy("w1", "w2").agg(
        F.count("*").cast("bigint").alias("c")
    )
    btot = bcnt.agg(F.sum("c").cast("bigint").alias("zb"))
    u1 = ucnt.select(F.col("term").alias("w1"), F.col("c").alias("c1"))
    u2 = ucnt.select(F.col("term").alias("w2"), F.col("c").alias("c2"))
    pmi_col = F.round(
        F.log(
            (F.col("c").cast("double") / F.col("zb").cast("double"))
            / (
                (F.col("c1").cast("double") / F.col("zu").cast("double"))
                * (F.col("c2").cast("double") / F.col("zu").cast("double"))
            )
        ),
        6,
    )
    pmi = (
        bcnt.where(F.col("c") >= _PMI_MIN_COUNT)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(utot))
        .crossJoin(F.broadcast(btot))
        .select(
            "w1", "w2", F.col("c").alias("pair_count"), pmi_col.alias("pmi")
        )
    )
    top = pmi.orderBy(
        F.col("pmi").desc(), F.col("w1"), F.col("w2")
    ).limit(_PMI_TOP)
    w = Window.orderBy(F.col("pmi").desc(), F.col("w1"), F.col("w2"))
    return top.select(
        "w1",
        "w2",
        "pair_count",
        "pmi",
        F.row_number().over(w).cast("int").alias("rnk"),
    )


# -- Two-sample Kolmogorov-Smirnov drift test -------------------------------------


@register(
    "a44_ks_drift",
    oracle="""
    WITH tagged AS (
        SELECT event_type, value,
               CAST(event_id % 2 AS INTEGER) AS snap
        FROM events
    ),
    tot AS (
        SELECT event_type,
               CAST(sum(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n0,
               CAST(sum(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n1
        FROM tagged GROUP BY event_type
    ),
    ecdf AS (
        SELECT event_type, value,
               CAST(sum(CASE WHEN snap = 0 THEN 1 ELSE 0 END) OVER w
                    AS BIGINT) AS c0,
               CAST(sum(CASE WHEN snap = 1 THEN 1 ELSE 0 END) OVER w
                    AS BIGINT) AS c1
        FROM tagged
        WINDOW w AS (PARTITION BY event_type ORDER BY value
                     RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT e.event_type,
           max(abs(CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)
                   - CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))) AS ks_d,
           min(n0) AS n_old, min(n1) AS n_new
    FROM ecdf e JOIN tot USING (event_type)
    GROUP BY e.event_type
    """,
    tags=("aggregate", "drift", "ks-test", "monitoring"),
)
def a44_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic between corpus
    snapshots (event_id parity): D = max |ECDF_old - ECDF_new| over the
    per-type value distribution — the nonparametric complement to the
    binned PSI gate (a42), sensitive to shape changes bins smear out.
    ECDFs come from ONE ranked window pass over the combined sample
    (RANGE frame so ties accumulate identically in both engines);
    every count is an exact BIGINT and D is a max of two-division
    doubles."""
    events = load(spark, sf_dir, "events")
    tagged = events.select(
        "event_type",
        "value",
        (F.col("event_id") % 2).cast("int").alias("snap"),
    )
    tot = tagged.groupBy("event_type").agg(
        F.sum(F.when(F.col("snap") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
        F.sum(F.when(F.col("snap") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    ecdf = tagged.select(
        "event_type",
        F.sum(F.when(F.col("snap") == 0, 1).otherwise(0))
        .over(w)
        .cast("bigint")
        .alias("c0"),
        F.sum(F.when(F.col("snap") == 1, 1).otherwise(0))
        .over(w)
        .cast("bigint")
        .alias("c1"),
    )
    return (
        ecdf.join(F.broadcast(tot), "event_type")
        .groupBy("event_type")
        .agg(
            F.max(
                F.abs(
                    F.col("c0").cast("double") / F.col("n0").cast("double")
                    - F.col("c1").cast("double") / F.col("n1").cast("double")
                )
            ).alias("ks_d"),
            F.min("n0").alias("n_old"),
            F.min("n1").alias("n_new"),
        )
    )


# -- Renyi vocabulary diversity ----------------------------------------------------


@register(
    "t_renyi_diversity",
    oracle=f"""
    WITH toks AS (
        SELECT source, unnest({_TOKS}) AS term FROM documents
    ),
    cnt AS (
        SELECT source, term, CAST(count(*) AS BIGINT) AS c
        FROM toks GROUP BY source, term
    ),
    agg AS (
        SELECT source,
               CAST(sum(c) AS BIGINT) AS z,
               CAST(sum(c * c) AS BIGINT) AS ssq,
               CAST(count(*) AS BIGINT) AS vocab
        FROM cnt GROUP BY source
    )
    SELECT source, vocab, z AS n_tokens,
           round(-ln(CAST(ssq AS DOUBLE)
                     / (CAST(z AS DOUBLE) * CAST(z AS DOUBLE))), 6) AS h2,
           (CAST(z AS DOUBLE) * CAST(z AS DOUBLE)) / CAST(ssq AS DOUBLE)
               AS effective_vocab
    FROM agg
    """,
    tags=("text", "diversity", "entropy", "diagnostics", "llm-pipeline"),
)
def t_renyi_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Renyi-2 vocabulary diversity per source: H2 = -ln(sum p_t^2) and
    the effective vocabulary 1/sum p_t^2 (the Simpson/collision
    diversity) — a source whose effective vocab collapses relative to
    its raw vocab is template spam. sum p^2 = sum(c^2)/z^2 with both
    sums EXACT BIGINTs, so the only float ops are one division and one
    6dp-rounded ln — bit-stable at any shuffle order."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(tx.tokens(F.col("text"))).alias("term")
    )
    cnt = toks.groupBy("source", "term").agg(
        F.count("*").cast("bigint").alias("c")
    )
    agg = cnt.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("z"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("ssq"),
        F.count("*").cast("bigint").alias("vocab"),
    )
    z_d = F.col("z").cast("double")
    ssq_d = F.col("ssq").cast("double")
    return agg.select(
        "source",
        "vocab",
        F.col("z").alias("n_tokens"),
        F.round(-F.log(ssq_d / (z_d * z_d)), 6).alias("h2"),
        ((z_d * z_d) / ssq_d).alias("effective_vocab"),
    )


# -- MMR diversified rerank ------------------------------------------------------

_MMR_LAMBDA = 0.7
_MMR_K = 5
_MMR_POOL = 20


def _mmr_oracle_sql() -> str:
    """Unrolled-K MMR in DuckDB: sel_i picked by max of
    lambda*rel - (1-lambda)*max(sim to sel_1..i-1); both engines share
    the exact arithmetic shape (fixed-form lambda products, cosine
    folds, id tiebreaks)."""
    lam = _MMR_LAMBDA
    ctes = [
        f"""q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    cand AS MATERIALIZED (
        SELECT vec_id AS neighbor_id, embedding AS cv,
               {_cos_sql("qv", "embedding")} AS rel
        FROM embeddings CROSS JOIN q
        WHERE vec_id != 0
        QUALIFY row_number() OVER (ORDER BY rel DESC, vec_id)
                <= {_MMR_POOL}
    ),
    s1 AS MATERIALIZED (
        SELECT neighbor_id, cv, rel, {lam!r} * rel AS mmr, 1 AS sel_rank
        FROM cand
        QUALIFY row_number() OVER (ORDER BY rel DESC, neighbor_id) = 1
    )"""
    ]
    prev = ["s1"]
    for step in range(2, _MMR_K + 1):
        sel_union = " UNION ALL ".join(
            f"SELECT cv FROM {p}" for p in prev
        )
        ctes.append(
            f"""s{step} AS MATERIALIZED (
        SELECT c.neighbor_id, c.cv, c.rel,
               {lam!r} * c.rel - {1.0 - lam!r} * (
                   SELECT max({_cos_sql("c.cv", "s.cv")})
                   FROM ({sel_union}) s
               ) AS mmr,
               {step} AS sel_rank
        FROM cand c
        WHERE c.neighbor_id NOT IN
              ({" UNION ALL ".join(f"SELECT neighbor_id FROM {p}" for p in prev)})
        QUALIFY row_number() OVER (ORDER BY mmr DESC, neighbor_id) = 1
    )"""
        )
        prev.append(f"s{step}")
    union = " UNION ALL ".join(
        f"SELECT neighbor_id, rel, mmr, CAST(sel_rank AS INTEGER) AS sel_rank FROM {p}"
        for p in prev
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + union


@register(
    "t_mmr_rerank",
    oracle=_mmr_oracle_sql(),
    tags=("retrieval", "mmr", "diversity", "llm-pipeline"),
)
def t_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein,
    SIGIR'98): from the top-20 cosine pool for query vector 0, pick 5
    results greedily by lambda*relevance - (1-lambda)*max-similarity-to-
    already-selected — the classic relevance/diversity trade-off for
    retrieval-augmented sampling. The greedy loop is K=5 steps over a
    20-row candidate frame: each step collects ONE selected row (model
    state, like a k-means centroid), so the driver holds K rows total
    and the heavy work — the pool cut — is a single TakeOrdered over
    the corpus. The oracle unrolls the identical K steps in SQL."""
    from burst_db_spark.operators.similarity import cosine

    emb = load(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    pool = (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("cv"),
            cosine(F.col("qv"), F.col("embedding")).alias("rel"),
        )
        .orderBy(F.col("rel").desc(), F.col("neighbor_id"))
        .limit(_MMR_POOL)
    )
    cand = [
        (r["neighbor_id"], r["cv"], r["rel"]) for r in pool.collect()
    ]

    def _cos_local(a: list, b: list) -> float:
        dot = na = nb = 0.0
        for x, y in zip(a, b):
            dot += float(x) * float(y)
            na += float(x) * float(x)
            nb += float(y) * float(y)
        import math as _m

        return dot / (_m.sqrt(na) * _m.sqrt(nb))

    lam = _MMR_LAMBDA
    selected: list[tuple[int, float, float, int]] = []
    sel_vecs: list[list] = []
    remaining = dict((nid, (cv, rel)) for nid, cv, rel in cand)
    for step in range(1, _MMR_K + 1):
        best = None
        # ids iterate ascending, so strict > keeps the LOWEST id on ties
        for nid in sorted(remaining):
            cv, rel = remaining[nid]
            if sel_vecs:
                penalty = max(_cos_local(cv, sv) for sv in sel_vecs)
                mmr = lam * rel - (1.0 - lam) * penalty
            else:
                mmr = lam * rel
            if best is None or mmr > best[1]:
                best = (nid, mmr, rel)
        nid, mmr, rel = best
        selected.append((nid, rel, mmr, step))
        sel_vecs.append(remaining.pop(nid)[0])
    return spark.createDataFrame(
        selected, "neighbor_id long, rel double, mmr double, sel_rank int"
    )


# -- Mann-Whitney U drift test ----------------------------------------------------


@register(
    "a45_mann_whitney",
    oracle="""
    WITH tagged AS (
        SELECT event_type, value,
               CAST(event_id % 2 AS INTEGER) AS snap
        FROM events
    ),
    ranked AS (
        SELECT event_type, snap,
               (CAST(count(*) OVER w_lt AS DOUBLE)
                + (CAST(count(*) OVER w_le AS DOUBLE)
                   - CAST(count(*) OVER w_lt AS DOUBLE) + 1.0) / 2.0)
                   AS avg_rank
        FROM tagged
        WINDOW w_lt AS (PARTITION BY event_type ORDER BY value
                        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                        EXCLUDE GROUP),
               w_le AS (PARTITION BY event_type ORDER BY value
                        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    sums AS (
        SELECT event_type,
               CAST(sum(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n0,
               CAST(sum(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n1,
               sum(CASE WHEN snap = 0 THEN avg_rank ELSE 0.0 END) AS r0
        FROM ranked GROUP BY event_type
    )
    SELECT event_type, n0 AS n_old, n1 AS n_new,
           r0 - CAST(n0 AS DOUBLE) * (CAST(n0 AS DOUBLE) + 1.0) / 2.0
               AS u_old,
           CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)
           - (r0 - CAST(n0 AS DOUBLE) * (CAST(n0 AS DOUBLE) + 1.0) / 2.0)
               AS u_new
    FROM sums
    """,
    tags=("aggregate", "drift", "mann-whitney", "monitoring"),
)
def a45_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U between corpus snapshots (event_id parity), per
    event type: U_old = R_old - n0(n0+1)/2 with midrank tie handling —
    the rank-based drift test that complements KS (a44: max ECDF gap)
    and PSI (a42: binned divergence). Midranks come from two RANGE-frame
    counts (strictly-less and less-or-equal); every rank is an integer
    or integer+0.5, so the double sums are EXACT (halves of ints are
    representable) and shuffle order cannot perturb them."""
    events = load(spark, sf_dir, "events")
    tagged = events.select(
        "event_type",
        "value",
        (F.col("event_id") % 2).cast("int").alias("snap"),
    )
    w_le = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    # count of strictly-smaller values = rank() - 1 (rank() counts the
    # first row of each tie group); DuckDB's EXCLUDE GROUP frame and
    # Spark's rank()-1 agree exactly
    r = F.rank().over(
        Window.partitionBy("event_type").orderBy("value")
    )
    cnt_le = F.count("*").over(w_le)
    avg_rank = (
        (r - 1).cast("double")
        + (cnt_le.cast("double") - (r - 1).cast("double") + F.lit(1.0))
        / F.lit(2.0)
    )
    ranked = tagged.select(
        "event_type", "snap", avg_rank.alias("avg_rank")
    )
    sums = ranked.groupBy("event_type").agg(
        F.sum(F.when(F.col("snap") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
        F.sum(F.when(F.col("snap") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(
            F.when(F.col("snap") == 0, F.col("avg_rank")).otherwise(0.0)
        ).alias("r0"),
    )
    n0d = F.col("n0").cast("double")
    n1d = F.col("n1").cast("double")
    u_old = F.col("r0") - n0d * (n0d + F.lit(1.0)) / F.lit(2.0)
    return sums.select(
        "event_type",
        F.col("n0").alias("n_old"),
        F.col("n1").alias("n_new"),
        u_old.alias("u_old"),
        (n0d * n1d - u_old).alias("u_new"),
    )


# -- Good-Turing unseen-mass estimate ---------------------------------------------


@register(
    "t_good_turing",
    oracle=f"""
    WITH toks AS (
        SELECT lang, unnest({_TOKS}) AS term FROM documents
    ),
    cnt AS (
        SELECT lang, term, CAST(count(*) AS BIGINT) AS c
        FROM toks GROUP BY lang, term
    ),
    fof AS (
        SELECT lang,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS vocab,
               CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n1,
               CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n2
        FROM cnt GROUP BY lang
    )
    SELECT lang, n_tokens, vocab, n1 AS n_hapax, n2 AS n_dis,
           CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS p_unseen,
           CASE WHEN n1 > 0
                THEN 2.0 * CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE)
           END AS r1_star
    FROM fof
    """,
    tags=("text", "statistics", "good-turing", "diagnostics", "llm-pipeline"),
)
def t_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing unseen-mass estimate per language: P(next token is
    novel) = N1/N (hapax proportion) and the adjusted count for
    singletons r1* = 2*N2/N1 (Gale & Sampson's simple GT) — the
    coverage diagnostic that says how much of a language's vocabulary
    the corpus has NOT yet seen, i.e. whether more crawl would still
    add signal. Frequency-of-frequencies is one extra reduce over the
    (lang, term) counts; everything but two final divisions is an exact
    BIGINT."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(tx.tokens(F.col("text"))).alias("term")
    )
    cnt = toks.groupBy("lang", "term").agg(
        F.count("*").cast("bigint").alias("c")
    )
    fof = cnt.groupBy("lang").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n2"),
    )
    return fof.select(
        "lang",
        "n_tokens",
        "vocab",
        F.col("n1").alias("n_hapax"),
        F.col("n2").alias("n_dis"),
        (F.col("n1").cast("double") / F.col("n_tokens").cast("double")).alias(
            "p_unseen"
        ),
        F.when(
            F.col("n1") > 0,
            F.lit(2.0) * F.col("n2").cast("double")
            / F.col("n1").cast("double"),
        ).alias("r1_star"),
    )
