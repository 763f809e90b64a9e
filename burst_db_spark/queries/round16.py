"""Build-round-14 additions: within-document Gopher repetition rules
(top-n-gram / duplicate-n-gram token-coverage with exact interval
union) and the per-language tokenizer-fertility audit over the trained
BPE.

Both rows follow the round-14 hash-surface doctrine end-to-end: every
hash column is an exact integer or boolean (cross-multiplied threshold
compares, integer `div`/`//` fixed-point ratios) — no float or decimal
rounding exists anywhere on either surface.

Reference parity: opera-adt/burst_db has no corpus tooling; these serve
SURVEY.md's "beyond the reference" LLM-pipeline mandate (Gopher: Rae et
al. 2021 §A1.1 repetition filters; fertility: the standard tokenizer
cross-lingual equity metric).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from burst_db_spark.catalog import load
from burst_db_spark.operators import text as tx
from burst_db_spark.plans.bpe_oracle import bpe_fertility_oracle_sql
from burst_db_spark.registry import register
from burst_db_spark.runner import checkpoint, persist, tmpdir
from burst_db_spark.session import broadcastable

_TOKS = r"string_split_regex(lower(trim(text)), '\s+')"


@register(
    "t_gopher_repetition",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               list_filter({_TOKS}, w -> len(w) > 0) AS t
        FROM documents
    ),
    base AS (
        SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n
        FROM toks WHERE len(t) >= 5
    ),
    g2 AS (
        SELECT doc_id, t[i] || ' ' || t[i + 1] AS g
        FROM base, unnest(range(1, len(t))) AS r(i)
    ),
    top2 AS (
        SELECT doc_id, c AS top2_cnt FROM (
            SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
            FROM g2 GROUP BY doc_id, g
        ) QUALIFY row_number() OVER (
            PARTITION BY doc_id ORDER BY c DESC, g) = 1
    ),
    g5 AS (
        SELECT doc_id, CAST(i AS BIGINT) AS s, CAST(i + 5 AS BIGINT) AS e,
               array_to_string(t[i:i + 4], ' ') AS g
        FROM base, unnest(range(1, len(t) - 3)) AS r(i)
    ),
    dupocc AS (
        SELECT doc_id, s, e FROM (
            SELECT doc_id, s, e,
                   count(*) OVER (PARTITION BY doc_id, g) AS c
            FROM g5
        ) WHERE c >= 2
    ),
    cov AS (
        SELECT doc_id,
               CAST(sum(greatest(0, e - greatest(s, coalesce(pmax, s))))
                    AS BIGINT) AS dup5_cov
        FROM (
            SELECT doc_id, s, e,
                   max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS pmax
            FROM dupocc
        ) GROUP BY doc_id
    )
    SELECT b.doc_id, b.n AS n_tokens,
           CAST(coalesce(t2.top2_cnt, 0) AS BIGINT) AS top2_cnt,
           CAST(coalesce(c.dup5_cov, 0) AS BIGINT) AS dup5_cov,
           (10 * coalesce(t2.top2_cnt, 0) <= b.n) AS top2_ok,
           (20 * coalesce(c.dup5_cov, 0) <= 3 * b.n) AS dup5_ok
    FROM base b
    LEFT JOIN top2 t2 USING (doc_id)
    LEFT JOIN cov c USING (doc_id)
    """,
    tags=("T", "quality", "gopher", "repetition", "interval-union",
          "llm-pipeline"),
)
def t_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher's WITHIN-document repetition filters (Rae et al. 2021
    §A1.1), token-coverage form: the fraction of tokens inside the most
    frequent 2-gram (keep if ≤ 0.20) and the fraction of tokens covered
    by duplicated 5-grams (keep if ≤ 0.15). Complements t_gopher_rules
    (length/symbol/stopword rules) and t_dup_ngram_spans (CROSS-corpus
    duplicate grams): template spam repeats within one document.

    Coverage is an EXACT interval union — duplicated-5-gram occurrences
    become token spans [i, i+5) and overlapping spans count each token
    once, via the same cumulative-max window device as
    w15_interval_coalesce. Hash surface: bigint counts and
    cross-multiplied boolean thresholds (10·top2 ≤ n, 20·cov ≤ 3n) —
    no division, no rounding, engine-invariant by construction.

    Scale shape: two gram explodes (corpus-token-sized), one grouped
    count each, one per-doc ordered window over duplicate occurrences
    only — the same shuffle discipline as any tokenize + count."""
    docs = load(spark, sf_dir, "documents")
    t = F.filter(tx.tokens(F.col("text")), lambda w: F.length(w) > 0)
    base = (
        docs.select("doc_id", t.alias("t"))
        .withColumn("n", F.size("t").cast("bigint"))
        .where(F.col("n") >= 5)
    )
    tc = F.col("t")
    g2 = base.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.col("n") - 2),
                lambda i: F.concat_ws(
                    " ", F.get(tc, i), F.get(tc, i + 1)
                ),
            )
        ).alias("g"),
    )
    w2 = Window.partitionBy("doc_id").orderBy(F.col("c").desc(), "g")
    top2 = (
        g2.groupBy("doc_id", "g")
        .agg(F.count("*").cast("bigint").alias("c"))
        .withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("c").alias("top2_cnt"))
    )
    g5 = base.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.col("n") - 5),
                lambda i: F.struct(
                    (i + 1).cast("bigint").alias("s"),
                    (i + 6).cast("bigint").alias("e"),
                    F.concat_ws(
                        " ",
                        F.slice(tc, i + 1, F.lit(5)),
                    ).alias("g"),
                ),
            )
        ).alias("o"),
    ).select("doc_id", "o.s", "o.e", "o.g")
    wg = Window.partitionBy("doc_id", "g")
    dupocc = g5.withColumn("c", F.count("*").over(wg)).where(
        F.col("c") >= 2
    )
    wcov = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cov = (
        dupocc.withColumn("pmax", F.max("e").over(wcov))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.greatest(
                    F.lit(0),
                    F.col("e")
                    - F.greatest(
                        F.col("s"), F.coalesce(F.col("pmax"), F.col("s"))
                    ),
                )
            )
            .cast("bigint")
            .alias("dup5_cov")
        )
    )
    return (
        base.select("doc_id", F.col("n").alias("n_tokens"))
        .join(top2, "doc_id", "left")
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("top2_cnt", F.lit(0)).cast("bigint").alias(
                "top2_cnt"
            ),
            F.coalesce("dup5_cov", F.lit(0)).cast("bigint").alias(
                "dup5_cov"
            ),
            (
                10 * F.coalesce("top2_cnt", F.lit(0))
                <= F.col("n_tokens")
            ).alias("top2_ok"),
            (
                20 * F.coalesce("dup5_cov", F.lit(0))
                <= 3 * F.col("n_tokens")
            ).alias("dup5_ok"),
        )
    )


@register(
    "t_bpe_fertility_by_lang",
    oracle=bpe_fertility_oracle_sql(n_merges=12, batch_size=4),
    tags=("T", "tokenizer", "bpe", "fertility", "cross-lingual",
          "llm-pipeline"),
)
def t_bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer FERTILITY (instance-weighted pieces per
    word) under the corpus-trained 12-merge BPE — the standard
    cross-lingual equity audit: a tokenizer with high fertility on a
    language inflates its training cost per unit text and shrinks its
    effective context window. Composes the hash-checked trainer
    (t_bpe_merges/t_bpe_encode machinery) with a per-(lang, word)
    instance count; the model is word-TYPE-sized so the encode rides a
    broadcast-scale join.

    Hash surface: bigint word/piece masses and the exact integer
    fertility_fx = (pieces·2^20) div words — in 2^-20 pieces-per-word
    units, no rounding route anywhere (r13 post-mortem). Words carrying
    the oracle's sentinel control chars are excluded by the SAME filter
    on both sides (operators.bpe.word_types / the wt CTE)."""
    from burst_db_spark.operators.bpe import (
        encode_words,
        train_bpe,
        word_types,
    )

    docs = load(spark, sf_dir, "documents")
    merges = train_bpe(docs, n_merges=12, batch_size=4)
    wt = word_types(docs)
    enc = encode_words(wt, merges).select(
        "word", F.size("pieces").cast("bigint").alias("np")
    )
    lw = (
        docs.select(
            "lang",
            F.explode(
                F.filter(
                    tx.tokens(F.col("text")),
                    lambda w: (F.length(w) > 0)
                    & ~w.contains(F.lit("\x1f"))
                    & ~w.contains(F.lit("\x1e")),
                )
            ).alias("word"),
        )
        .groupBy("lang", "word")
        .agg(F.count("*").cast("bigint").alias("nw"))
    )
    return (
        lw.join(F.broadcast(enc), "word")
        .groupBy("lang")
        .agg(
            F.sum("nw").cast("bigint").alias("n_words"),
            F.sum(F.col("nw") * F.col("np")).cast("bigint").alias(
                "n_pieces"
            ),
            F.expr(
                "(sum(nw * np) * CAST(1048576 AS BIGINT)) div sum(nw)"
            )
            .cast("bigint")
            .alias("fertility_fx"),
        )
    )


# ---------------------------------------------------------------------------
# G6: k-core decomposition of the embedding similarity graph


_KCORE_K = 3
_KCORE_ROUNDS = 12  # unroll depth; fixpoint is round <=7 at every test sf


def _kcore_oracle_sql(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    """Unrolled synchronized-peeling oracle. Every round's edge set is
    MATERIALIZED (each is referenced by the next round's degree count,
    its filter, and the stats rollup — un-materialized, DuckDB re-expands
    the 3-reference plan 3^rounds times). Rounds past the fixpoint are
    idempotent no-ops; the lag-window fixpoint filter trims the profile
    to rounds 0..T with T = first no-change round."""
    parts = [f"""
    q AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(floor(x * 127) AS BIGINT)) AS qv
        FROM embeddings
    ),
    qn AS MATERIALIZED (
        SELECT vec_id, qv,
               CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT)
                   AS nrm2
        FROM q
    ),
    pr AS MATERIALIZED (
        SELECT ia, ib FROM (
            SELECT a.vec_id AS ia, b.vec_id AS ib,
                   CAST(list_sum(list_transform(range(1, 65),
                        i -> a.qv[i] * b.qv[i])) AS BIGINT) AS dp,
                   a.nrm2 AS na, b.nrm2 AS nb
            FROM qn a JOIN qn b ON a.vec_id < b.vec_id
        ) WHERE dp > 0 AND 100 * dp * dp >= 9 * na * nb
    ),
    e0 AS MATERIALIZED (
        SELECT ia AS src, ib AS dst FROM pr
        UNION ALL SELECT ib, ia FROM pr
    )"""]
    for r in range(1, rounds + 1):
        parts.append(f"""
    d{r} AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS c
             FROM e{r - 1} GROUP BY src),
    e{r} AS MATERIALIZED (
        SELECT e.src, e.dst FROM e{r - 1} e
        JOIN d{r} ds ON ds.node = e.src AND ds.c >= {k}
        JOIN d{r} dd ON dd.node = e.dst AND dd.c >= {k}
    )""")
    stats = "\n        UNION ALL ".join(
        f"SELECT {r} AS round,"
        f" (SELECT CAST(count(DISTINCT src) AS BIGINT) FROM e{r}) AS n_nodes,"
        f" (SELECT CAST(count(*) AS BIGINT) FROM e{r}) AS n_edges"
        for r in range(rounds + 1)
    )
    parts.append(f"""
    stats AS ({stats}),
    prof AS (
        SELECT round, n_nodes, n_edges,
               lag(n_nodes) OVER (ORDER BY round) AS pn,
               lag(n_edges) OVER (ORDER BY round) AS pe
        FROM stats
    ),
    tfix AS (SELECT min(round) AS t FROM prof
             WHERE round > 0 AND n_nodes = pn AND n_edges = pe)""")
    return (
        "WITH " + ",".join(parts) + """
    SELECT round, n_nodes, n_edges,
           CAST(coalesce(pn - n_nodes, 0) AS BIGINT) AS n_removed
    FROM prof WHERE round <= (SELECT t FROM tfix)
    """
    )


@register(
    "g6_kcore_peel",
    oracle=_kcore_oracle_sql(),
    tags=("graph", "k-core", "iterative", "peeling", "embedding-graph",
          "llm-pipeline"),
)
def g6_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=3) of the embedding similarity graph —
    the dense-community detector over a near-dup/similarity graph: a
    vertex is in the k-core iff it keeps >= k neighbors after everyone
    of degree < k is (transitively) deleted. Curation use: duplicate
    *clusters* form high cores while chains and stars peel away, so the
    core/periphery split separates template farms from incidental
    near-dups. Result = the full PEEL PROFILE (round, n_nodes, n_edges,
    n_removed) through the fixpoint — pinning every intermediate round,
    not just the terminal core.

    Edge set: int-quantized cosine >= 0.3 via the exact cross-multiplied
    integer predicate (dp > 0 AND 100*dp^2 >= 9*|a|^2*|b|^2 over
    floor(x*127) bigint codes) — engine-invariant by construction, no
    double division or sqrt anywhere (r13 post-mortem doctrine).

    Scale shape: the audit-scale edge build here is the exact O(N^2)
    pair sweep (2k vectors); at corpus scale the SAME peel composes with
    the LSH-banded candidate generator (lsh_near_dup_pairs) — the peel
    itself is one degree groupBy + two semi-joins per round on a
    strictly shrinking edge set, synchronized-peeling k-core. Rounds
    are data-bounded (fixpoint <= 7 on every test sf; pytest asserts
    margin vs the oracle's unroll depth of 12). Building this frame
    EXECUTES the peel (eager per-round localCheckpoints + the
    model-state code collect) — the returned DataFrame is the
    materialized profile."""
    from burst_db_spark.operators.graph import kcore_peel
    from burst_db_spark.operators.similarity import int_cos_edges

    emb = load(spark, sf_dir, "embeddings")
    pairs = int_cos_edges(emb, num=3, den=10)
    edges = pairs.select(
        F.col("ia").alias("src"), F.col("ib").alias("dst")
    ).unionAll(pairs.select(F.col("ib").alias("src"), F.col("ia").alias("dst")))
    return kcore_peel(edges, k=_KCORE_K, max_rounds=_KCORE_ROUNDS)


# ---------------------------------------------------------------------------
# T: pairwise Jensen-Shannon divergence between source token distributions


@register(
    "t_domain_jsd",
    oracle=rf"""
    WITH toks AS (
        SELECT source,
               list_filter({_TOKS}, w -> len(w) > 0) AS t
        FROM documents
    ),
    w AS (SELECT source, unnest(t) AS word FROM toks),
    counts AS (
        SELECT source, word, CAST(count(*) AS BIGINT) AS c
        FROM w GROUP BY 1, 2
    ),
    tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n
            FROM counts GROUP BY 1),
    terms AS (
        SELECT c.source, c.word,
               CAST(c.c AS DOUBLE) / CAST(t.n AS DOUBLE) AS p
        FROM counts c JOIN tot t USING (source)
    ),
    persrc AS (
        SELECT source,
               CAST(sum(CAST(floor(-p * ln(p) * 1073741824.0)
                             AS BIGINT)) AS BIGINT) AS h_fx,
               CAST(sum(CAST(floor((p / 2) * ln(p / 2) * 1073741824.0)
                             AS BIGINT)) AS BIGINT) AS a_fx,
               CAST(count(*) AS BIGINT) AS n_words
        FROM terms GROUP BY source
    ),
    shared AS (
        SELECT a.source AS sa, b.source AS sb,
               CAST(count(*) AS BIGINT) AS n_shared,
               CAST(sum(
                   CAST(floor(((a.p + b.p) / 2) * ln((a.p + b.p) / 2)
                              * 1073741824.0) AS BIGINT)
                   - CAST(floor((a.p / 2) * ln(a.p / 2)
                                * 1073741824.0) AS BIGINT)
                   - CAST(floor((b.p / 2) * ln(b.p / 2)
                                * 1073741824.0) AS BIGINT)
               ) AS BIGINT) AS corr_fx
        FROM terms a JOIN terms b
          ON a.word = b.word AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT pa.source AS src_a, pb.source AS src_b,
           CAST(coalesce(s.n_shared, 0) AS BIGINT) AS n_shared,
           pa.n_words AS n_words_a, pb.n_words AS n_words_b,
           CAST(-2 * (pa.a_fx + pb.a_fx + coalesce(s.corr_fx, 0))
                - pa.h_fx - pb.h_fx AS BIGINT) AS jsd2_fx
    FROM persrc pa JOIN persrc pb ON pa.source < pb.source
    LEFT JOIN shared s ON s.sa = pa.source AND s.sb = pb.source
    """,
    tags=("T", "corpus-diagnostics", "jsd", "divergence", "llm-pipeline"),
)
def t_domain_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between the unigram token
    distributions of every source pair — the standard domain-similarity
    audit for mixture design (which sources are near-duplicates of each
    other's distribution, which are outliers; DoReMi/UniMax-style weight
    tuning reads exactly this matrix). jsd2_fx is 2·JSD in 2^-30 nats
    (doubling keeps the surface integral — no /2 division).

    SPARSE decomposition, the part that matters at corpus scale: JSD =
    H((P+Q)/2) − (H(P)+H(Q))/2 would need a dense pair×vocab join, but
    for words private to one side the mixture term collapses to the
    closed-form half-term (p/2)·ln(p/2). So each source carries two
    marginal sums (h_fx, a_fx — one pass over (source, word) counts) and
    only SHARED words enter the pairwise correction join: cost
    Σ_w df(w)·(df(w)−1)/2 on the pre-aggregated (source,word) table —
    quadratic in #sources, never in vocab or corpus size.

    Hash surface: every transcendental term quantizes floor(x·2^30) to
    bigint before any sum (order-free; floor has no tie-break — the r13
    doctrine); the assembly is pure bigint arithmetic."""
    from burst_db_spark.operators import text as tx

    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        "source",
        F.explode(
            F.filter(tx.tokens(F.col("text")), lambda w: F.length(w) > 0)
        ).alias("word"),
    )
    counts = words.groupBy("source", "word").agg(
        F.count("*").cast("bigint").alias("c")
    )
    tot = counts.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    p = F.col("c").cast("double") / F.col("n").cast("double")
    terms = counts.join(tot, "source").select("source", "word", p.alias("p"))

    def _fx(x) -> F.Column:
        return F.floor(x * F.lit(1073741824.0)).cast("bigint")

    half = F.col("p") / 2
    persrc = terms.groupBy("source").agg(
        F.sum(_fx(-F.col("p") * F.log("p"))).cast("bigint").alias("h_fx"),
        F.sum(_fx(half * F.log(half))).cast("bigint").alias("a_fx"),
        F.count("*").cast("bigint").alias("n_words"),
    )
    a = terms.select(
        F.col("source").alias("sa"), "word", F.col("p").alias("pa")
    )
    b = terms.select(
        F.col("source").alias("sb"), "word", F.col("p").alias("pb")
    )
    mid = (F.col("pa") + F.col("pb")) / 2
    ha, hb = F.col("pa") / 2, F.col("pb") / 2
    shared = (
        a.join(b, "word")
        .where(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(
            F.count("*").cast("bigint").alias("n_shared"),
            F.sum(
                _fx(mid * F.log(mid))
                - _fx(ha * F.log(ha))
                - _fx(hb * F.log(hb))
            )
            .cast("bigint")
            .alias("corr_fx"),
        )
    )
    pa = persrc.select(
        F.col("source").alias("src_a"),
        F.col("h_fx").alias("h_a"),
        F.col("a_fx").alias("a_a"),
        F.col("n_words").alias("n_words_a"),
    )
    pb = persrc.select(
        F.col("source").alias("src_b"),
        F.col("h_fx").alias("h_b"),
        F.col("a_fx").alias("a_b"),
        F.col("n_words").alias("n_words_b"),
    )
    return (
        pa.join(pb, F.col("src_a") < F.col("src_b"))
        .join(
            shared.withColumnRenamed("sa", "src_a").withColumnRenamed(
                "sb", "src_b"
            ),
            ["src_a", "src_b"],
            "left",
        )
        .select(
            "src_a",
            "src_b",
            F.coalesce("n_shared", F.lit(0)).cast("bigint").alias(
                "n_shared"
            ),
            "n_words_a",
            "n_words_b",
            (
                -2
                * (
                    F.col("a_a")
                    + F.col("a_b")
                    + F.coalesce("corr_fx", F.lit(0))
                )
                - F.col("h_a")
                - F.col("h_b")
            )
            .cast("bigint")
            .alias("jsd2_fx"),
        )
    )


# ---------------------------------------------------------------------------
# T: RAKE keyword extraction


_RAKE_STOP = (
    "the", "a", "an", "of", "and", "to", "in", "is", "are", "was", "were",
    "for", "on", "with", "as", "by", "at", "that", "this", "it", "from",
    "or", "be", "not", "but", "they", "their", "has", "have", "had",
)
_RAKE_TOPK = 5


@register(
    "t_rake_keywords",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, source,
               list_filter({_TOKS}, w -> len(w) > 0) AS t
        FROM documents
    ),
    pos AS (
        SELECT doc_id, source, CAST(i AS BIGINT) AS i, t[i] AS w,
               (t[i] IN {str(_RAKE_STOP)}
                OR len(t[i]) < 2
                OR NOT regexp_matches(t[i], '^[a-z0-9]+$')) AS is_delim
        FROM toks, unnest(range(1, len(t) + 1)) AS r(i)
    ),
    marked AS (
        SELECT doc_id, source, i, w, is_delim,
               count(*) FILTER (WHERE is_delim) OVER (
                   PARTITION BY doc_id ORDER BY i) AS pid
        FROM pos
    ),
    members AS (SELECT * FROM marked WHERE NOT is_delim),
    phrases AS (
        SELECT doc_id, source, pid,
               string_agg(w, ' ' ORDER BY i) AS phrase,
               CAST(count(*) AS BIGINT) AS plen
        FROM members GROUP BY doc_id, source, pid
    ),
    wstats AS (
        SELECT m.w,
               CAST(count(*) AS BIGINT) AS freq,
               CAST(sum(p.plen) AS BIGINT) AS deg
        FROM members m
        JOIN phrases p ON p.doc_id = m.doc_id AND p.pid = m.pid
        GROUP BY m.w
    ),
    pscore AS (
        SELECT p.doc_id, p.pid, p.source, p.phrase, p.plen,
               CAST(sum((ws.deg * 1048576) // ws.freq) AS BIGINT)
                   AS score_fx
        FROM members m
        JOIN phrases p ON p.doc_id = m.doc_id AND p.pid = m.pid
        JOIN wstats ws ON ws.w = m.w
        GROUP BY p.doc_id, p.pid, p.source, p.phrase, p.plen
    ),
    agg AS (
        SELECT source, phrase,
               CAST(min(plen) AS BIGINT) AS n_words,
               CAST(count(*) AS BIGINT) AS n_occ,
               CAST(min(score_fx) AS BIGINT) AS score_fx
        FROM pscore GROUP BY source, phrase
    )
    SELECT source, phrase, n_words, n_occ, score_fx,
           CAST(rnk AS BIGINT) AS rank
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY source ORDER BY score_fx DESC, phrase) AS rnk
        FROM agg
    ) WHERE rnk <= {_RAKE_TOPK}
    """,
    tags=("T", "keywords", "rake", "text-analysis", "llm-pipeline"),
)
def t_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    maximal runs of content tokens between delimiters (stopwords, short
    or non-alphanumeric tokens); every word scores deg/freq over the
    candidate-phrase co-occurrence graph (deg = Σ lengths of phrases
    containing the word, freq = occurrence count); a phrase scores the
    sum of its words' scores; top-{_RAKE_TOPK} phrases per source.

    Hash surface: word scores are exact integer fixed-point
    (deg·2^20) div freq — integer division truncates identically on
    both engines; phrase scores are bigint sums of those; ranking ties
    break on phrase text.

    Scale shape: token-linear throughout — a position window per doc
    (the same per-doc ordered window any sessionizer costs), one
    groupBy per phrase, one per-word groupBy (vocabulary-sized model,
    joined back by word). No pair joins, no UDF."""
    from burst_db_spark.operators import text as tx

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.filter(tx.tokens(F.col("text")), lambda w: F.length(w) > 0).alias(
            "t"
        ),
    )
    pos = toks.select(
        "doc_id",
        "source",
        F.posexplode("t").alias("i0", "w"),
    ).select(
        "doc_id",
        "source",
        (F.col("i0") + 1).cast("bigint").alias("i"),
        "w",
        (
            F.col("w").isin(*_RAKE_STOP)
            | (F.length("w") < 2)
            | ~F.col("w").rlike("^[a-z0-9]+$")
        ).alias("is_delim"),
    )
    wseq = Window.partitionBy("doc_id").orderBy("i")
    marked = pos.withColumn(
        "pid", F.count(F.when(F.col("is_delim"), 1)).over(wseq)
    )
    members = marked.where(~F.col("is_delim")).select(
        "doc_id", "source", "i", "w", "pid"
    )
    phrases = members.groupBy("doc_id", "source", "pid").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "w"))),
                lambda s: s["w"],
            ),
            " ",
        ).alias("phrase"),
        F.count("*").cast("bigint").alias("plen"),
    )
    wstats = (
        members.join(
            phrases.select("doc_id", "pid", "plen"), ["doc_id", "pid"]
        )
        .groupBy("w")
        .agg(
            F.count("*").cast("bigint").alias("freq"),
            F.sum("plen").cast("bigint").alias("deg"),
        )
    )
    pscore = (
        members.join(
            phrases.select("doc_id", "pid", "source", "phrase", "plen"),
            ["doc_id", "pid", "source"],
        )
        .join(F.broadcast(wstats), "w")
        .groupBy("doc_id", "pid", "source", "phrase", "plen")
        .agg(
            F.sum(
                F.expr("(deg * CAST(1048576 AS BIGINT)) div freq")
            )
            .cast("bigint")
            .alias("score_fx")
        )
    )
    agg = pscore.groupBy("source", "phrase").agg(
        F.min("plen").cast("bigint").alias("n_words"),
        F.count("*").cast("bigint").alias("n_occ"),
        F.min("score_fx").cast("bigint").alias("score_fx"),
    )
    wrank = Window.partitionBy("source").orderBy(
        F.col("score_fx").desc(), "phrase"
    )
    return (
        agg.withColumn("rank", F.row_number().over(wrank).cast("bigint"))
        .where(F.col("rank") <= _RAKE_TOPK)
        .select("source", "phrase", "n_words", "n_occ", "score_fx", "rank")
    )


# ---------------------------------------------------------------------------
# KNN/EMB: principal component by integer power iteration


_PCA_Q = 256.0       # embedding quantization scale (floor(x*256))
_PCA_VNORM = 4096.0  # per-round vector renormalization target (2^12)
_PCA_ROUNDS = 60
_PCA_DIM = 64


def _pca_oracle_sql(rounds: int = _PCA_ROUNDS) -> str:
    parts = [f"""
    q AS MATERIALIZED (
        SELECT list_transform(embedding::DOUBLE[],
                              x -> CAST(floor(x * {_PCA_Q}) AS BIGINT)) AS qv
        FROM embeddings
    ),
    g AS MATERIALIZED (
        SELECT i, j, CAST(sum(qv[i] * qv[j]) AS BIGINT) AS s
        FROM q, unnest(range(1, {_PCA_DIM + 1})) AS r1(i),
             unnest(range(1, {_PCA_DIM + 1})) AS r2(j)
        GROUP BY i, j
    ),
    v0 AS (SELECT CAST(i AS BIGINT) AS i, CAST({int(_PCA_VNORM)} AS BIGINT) AS v
           FROM unnest(range(1, {_PCA_DIM + 1})) AS r(i))"""]
    for t in range(1, rounds + 1):
        parts.append(f"""
    r{t} AS MATERIALIZED (
        SELECT g.i AS i, CAST(sum(g.s * v{t - 1}.v) AS BIGINT) AS r
        FROM g JOIN v{t - 1} ON g.j = v{t - 1}.i GROUP BY g.i),
    v{t} AS MATERIALIZED (
        SELECT i, CAST(floor(CAST(r AS DOUBLE) * {_PCA_VNORM}
                             / CAST(max(abs(r)) OVER () AS DOUBLE))
                       AS BIGINT) AS v
        FROM r{t})""")
    parts.append(f"""
    lam AS (SELECT CAST(max(abs(r)) AS BIGINT) // {int(_PCA_VNORM)} AS lam_fx
            FROM r{rounds})""")
    return (
        "WITH " + ",".join(parts)
        + f"""
    SELECT v.i AS dim, v.v AS v_fx, lam.lam_fx FROM v{rounds} v, lam
    """
    )


@register(
    "knn_pca_power",
    oracle=_pca_oracle_sql(),
    tags=("knn", "embedding", "pca", "power-iteration", "iterative",
          "llm-pipeline"),
)
def knn_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Principal component of the embedding gram matrix by {R}-round
    power iteration (rounds sized for the near-degenerate synthetic
    spectrum) — the building block for embedding whitening,
    Matryoshka-style dimension ranking, and spectral diagnostics of an
    embedding table. The SCAN-heavy part (the d×d gram) is fully
    distributed: per-partition numpy int64 partials via mapInPandas
    (Q_pᵀQ_p — one pass, no shuffle until the 4096-row partial-sum
    groupBy); the eigensolve itself is model-state (64×64 collected to
    the driver — same bounded-collect class as the k-means centroid
    loop), where Spark has nothing to parallelize.

    Determinism end-to-end: embeddings quantize floor(x·256) to bigint;
    gram sums, matrix-vector products are exact integer; per-round
    renormalization floors r·4096/max|r| with r exact in double
    (|r| ≤ N·2^34 < 2^53 for N < 512k — the stated audit bound; at
    corpus scale the gram partials stay exact and the normalization
    constant would move to a power-of-two shift). floor has no
    tie-breaking; no decimal rounding anywhere (r13 doctrine). The
    DuckDB oracle replays the identical iteration as unrolled
    MATERIALIZED CTEs.

    Returns (dim, v_fx, lam_fx): the component in 2^-12 units and the
    eigenvalue estimate max|G·v|/4096 in quantized-embedding units."""
    import math

    import numpy as np
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings").select("embedding")

    def _partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            Q = np.floor(X * _PCA_Q).astype(np.int64)
            G = Q.T @ Q
            ii, jj = np.indices(G.shape)
            yield pd.DataFrame(
                {
                    "i": (ii + 1).ravel(),
                    "j": (jj + 1).ravel(),
                    "s": G.ravel(),
                }
            )

    gram_rows = (
        emb.mapInPandas(_partials, "i int, j int, s long")
        .groupBy("i", "j")
        .agg(F.sum("s").cast("bigint").alias("s"))
        .collect()
    )
    G: dict[tuple[int, int], int] = {
        (r["i"], r["j"]): int(r["s"]) for r in gram_rows
    }
    dim = _PCA_DIM
    v = [int(_PCA_VNORM)] * dim
    m = 0
    for _ in range(_PCA_ROUNDS):
        r = [
            sum(G.get((i + 1, j + 1), 0) * v[j] for j in range(dim))
            for i in range(dim)
        ]
        m = max(abs(x) for x in r)
        v = [
            int(math.floor(float(x) * _PCA_VNORM / float(m))) for x in r
        ]
    lam = m // int(_PCA_VNORM)
    return spark.createDataFrame(
        [(i + 1, v[i], lam) for i in range(dim)],
        "dim bigint, v_fx bigint, lam_fx bigint",
    )


knn_pca_power.__doc__ = knn_pca_power.__doc__.format(R=_PCA_ROUNDS)


# ---------------------------------------------------------------------------
# DD: NN-descent k-NN-graph construction


_NND_K = 5
_NND_BLOCKS = 16
_NND_HASH = 2654435761  # Knuth multiplicative hash, portable bigint arith
_NND_ROUNDS = 3


def _nnd_topk_sql(src: str, tag: str) -> str:
    return f"""
    k{tag} AS MATERIALIZED (
        SELECT v, n, dp FROM (
            SELECT v, n, dp, row_number() OVER (
                PARTITION BY v ORDER BY dp DESC, n) AS rn
            FROM {src}
        ) WHERE rn <= {_NND_K}
    )"""


def _nnd_oracle_sql(rounds: int = _NND_ROUNDS) -> str:
    parts = [f"""
    q AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(floor(x * 127) AS BIGINT)) AS qv
        FROM embeddings
    ),
    blks AS MATERIALIZED (
        SELECT vec_id, qv,
               vec_id % {_NND_BLOCKS} AS b1,
               ((vec_id * {_NND_HASH}) % 4294967296) // 268435456 AS b2
        FROM q
    ),
    cpairs AS (
        SELECT a.vec_id AS v, b.vec_id AS n
        FROM blks a JOIN blks b ON a.b1 = b.b1 AND a.vec_id <> b.vec_id
        UNION
        SELECT a.vec_id, b.vec_id
        FROM blks a JOIN blks b ON a.b2 = b.b2 AND a.vec_id <> b.vec_id
    ),
    cand0 AS (
        SELECT c.v, c.n,
               CAST(list_sum(list_transform(range(1, 65),
                    i -> qa.qv[i] * qb.qv[i])) AS BIGINT) AS dp
        FROM cpairs c
        JOIN q qa ON qa.vec_id = c.v
        JOIN q qb ON qb.vec_id = c.n
    ),{_nnd_topk_sql('cand0', '0')}"""]
    for t in range(1, rounds + 1):
        parts.append(f"""
    c{t} AS (
        SELECT v, n FROM k{t - 1}
        UNION
        SELECT a.v, b.n FROM k{t - 1} a
        JOIN k{t - 1} b ON a.n = b.v AND b.n <> a.v
        UNION
        SELECT n AS v, v AS n FROM k{t - 1}
    ),
    s{t} AS (
        SELECT c.v, c.n,
               CAST(list_sum(list_transform(range(1, 65),
                    i -> qa.qv[i] * qb.qv[i])) AS BIGINT) AS dp
        FROM c{t} c
        JOIN q qa ON qa.vec_id = c.v
        JOIN q qb ON qb.vec_id = c.n
    ),{_nnd_topk_sql(f's{t}', str(t))}""")
    return (
        "WITH " + ",".join(parts)
        + f"""
    SELECT v AS vec_id,
           CAST(row_number() OVER (PARTITION BY v ORDER BY dp DESC, n)
                AS BIGINT) AS rank,
           n AS neighbor_id, dp
    FROM k{rounds}
    """
    )


@register(
    "dd_nn_descent",
    oracle=_nnd_oracle_sql(),
    tags=("dedup", "knn", "ann", "nn-descent", "graph-construction",
          "iterative", "llm-pipeline"),
)
def dd_nn_descent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NN-descent k-NN-graph construction (Dong et al. 2011) — the
    standard way to build the neighbor graph behind graph-based ANN
    (HNSW/NSG) and SemDeDup-style cluster refinement WITHOUT an all-pairs
    sweep: start from a cheap partitioned guess (exact top-k within the
    union of TWO crossed blockings — vec_id%{_NND_BLOCKS} and a
    Knuth-hash nibble; a single blocking is CLOSED under the descent
    and freezes), then each round reranks only {{out-neighbors}} ∪
    {{out-neighbors of out-neighbors}} ∪ {{in-neighbors}} by exact
    integer dot product and keeps the new top-k. Per-round candidate
    cost is O(N·k²), never O(N²); the pytest audits recall climbing
    vs the exact graph (≈2× the init after 3 rounds here — isotropic
    synthetic embeddings are NND's worst case; on clustered manifolds
    the same machinery converges to ~full recall).

    Determinism: floor(x·127) bigint codes, exact bigint dots, ranking
    ties on neighbor_id — no float surface at all. Each round's graph is
    localCheckpointed (3 self-references/round would otherwise compound
    the plan) and the oracle MATERIALIZEs the same per-round frames."""
    from burst_db_spark.operators.similarity import nn_descent

    emb = load(spark, sf_dir, "embeddings")
    knn = nn_descent(
        emb,
        k=_NND_K,
        n_blocks=_NND_BLOCKS,
        rounds=_NND_ROUNDS,
        hash_mult=_NND_HASH,
    )
    w = Window.partitionBy("v").orderBy(F.col("dp").desc(), "n")
    return knn.select(
        F.col("v").alias("vec_id"),
        F.row_number().over(w).cast("bigint").alias("rank"),
        F.col("n").alias("neighbor_id"),
        "dp",
    )


# ---------------------------------------------------------------------------
# G7: k-truss decomposition of the embedding similarity graph


_KTRUSS_K = 4
_KTRUSS_ROUNDS = 10  # unroll depth; fixpoint <= 5 at every test sf


def _ktruss_oracle_sql(k: int = _KTRUSS_K, rounds: int = _KTRUSS_ROUNDS) -> str:
    parts = [f"""
    q AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(floor(x * 127) AS BIGINT)) AS qv
        FROM embeddings
    ),
    qn AS MATERIALIZED (
        SELECT vec_id, qv,
               CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT)
                   AS nrm2
        FROM q
    ),
    pr AS MATERIALIZED (
        SELECT ia, ib FROM (
            SELECT a.vec_id AS ia, b.vec_id AS ib,
                   CAST(list_sum(list_transform(range(1, 65),
                        i -> a.qv[i] * b.qv[i])) AS BIGINT) AS dp,
                   a.nrm2 AS na, b.nrm2 AS nb
            FROM qn a JOIN qn b ON a.vec_id < b.vec_id
        ) WHERE dp > 0 AND 100 * dp * dp >= 9 * na * nb
    ),
    e0 AS MATERIALIZED (
        SELECT ia AS src, ib AS dst FROM pr
        UNION ALL SELECT ib, ia FROM pr
    )"""]
    for r in range(1, rounds + 1):
        parts.append(f"""
    e{r} AS MATERIALIZED (
        SELECT a.src, a.dst FROM e{r - 1} a
        JOIN e{r - 1} b ON b.src = a.dst
        JOIN e{r - 1} c ON c.src = a.src AND c.dst = b.dst
        GROUP BY a.src, a.dst HAVING count(*) >= {k - 2}
    )""")
    stats = "\n        UNION ALL ".join(
        f"SELECT {r} AS round,"
        f" (SELECT CAST(count(*) AS BIGINT) FROM e{r}) AS n_edges"
        for r in range(rounds + 1)
    )
    parts.append(f"""
    stats AS ({stats}),
    prof AS (
        SELECT round, n_edges,
               lag(n_edges) OVER (ORDER BY round) AS pe
        FROM stats
    ),
    tfix AS (SELECT min(round) AS t FROM prof
             WHERE round > 0 AND n_edges = pe)""")
    return (
        "WITH " + ",".join(parts) + """
    SELECT round, n_edges,
           CAST(coalesce(pe - n_edges, 0) AS BIGINT) AS n_removed
    FROM prof WHERE round <= (SELECT t FROM tfix)
    """
    )


@register(
    "g7_ktruss_peel",
    oracle=_ktruss_oracle_sql(),
    tags=("graph", "k-truss", "iterative", "peeling", "triangles",
          "embedding-graph", "llm-pipeline"),
)
def g7_ktruss_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss decomposition (k={K}) of the same int-cosine similarity
    graph as g6_kcore_peel — the EDGE-level cohesion peel: an edge
    survives iff it closes >= k-2 triangles among survivors, a strictly
    stronger community signal than vertex degree (k-core). Curation
    reading: truss edges connect documents that agree with each other's
    neighbors — template clusters; bridge edges between coincidentally
    similar docs peel away even when both endpoints are high-degree.
    Result = peel profile (round, n_edges, n_removed) through the
    fixpoint (<= 5 rounds at every test sf; oracle unrolls {R} with a
    lag-window fixpoint filter; pytest asserts the margin).

    Edge build shared with g6: exact cross-multiplied integer cosine
    via the broadcast-matmul audit path (operators/similarity.
    int_cos_edges); each peel round is one triangle 3-way self-join
    (Σ deg² on the shrinking graph) + a HAVING filter — the
    synchronized-peeling truss, every frame localCheckpointed.
    Building this frame EXECUTES the peel, as in g6."""
    from burst_db_spark.operators.graph import ktruss_peel
    from burst_db_spark.operators.similarity import int_cos_edges

    emb = load(spark, sf_dir, "embeddings")
    pairs = int_cos_edges(emb, num=3, den=10)
    edges = pairs.select(
        F.col("ia").alias("src"), F.col("ib").alias("dst")
    ).unionAll(
        pairs.select(F.col("ib").alias("src"), F.col("ia").alias("dst"))
    )
    return ktruss_peel(edges, k=_KTRUSS_K, max_rounds=_KTRUSS_ROUNDS)


g7_ktruss_peel.__doc__ = g7_ktruss_peel.__doc__.format(
    K=_KTRUSS_K, R=_KTRUSS_ROUNDS
)


# ---------------------------------------------------------------------------
# DD: modularity audit of the near-dup clustering

from burst_db_spark.queries.textops import _SHINGLES_CTE  # noqa: E402


@register(
    "dd_cluster_modularity",
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
    labels AS (SELECT src AS doc_id, min(dst) AS cluster_id
               FROM reach GROUP BY src),
    mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs),
    deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
                SELECT id_a AS v FROM pairs
                UNION ALL SELECT id_b FROM pairs
            ) GROUP BY v),
    dc AS (SELECT l.cluster_id,
                  CAST(sum(coalesce(d.deg, 0)) AS BIGINT) AS d_c,
                  CAST(count(*) AS BIGINT) AS n_docs
           FROM labels l LEFT JOIN deg d ON d.v = l.doc_id
           GROUP BY 1),
    ec AS (SELECT la.cluster_id, CAST(count(*) AS BIGINT) AS e_c
           FROM pairs p
           JOIN labels la ON la.doc_id = p.id_a
           GROUP BY 1)
    SELECT (SELECT m FROM mm) AS n_edges,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(CAST(d.n_docs > 1 AS BIGINT)) AS BIGINT)
               AS n_multi_clusters,
           CAST(max(d.n_docs) AS BIGINT) AS largest_cluster,
           CAST(sum(4 * (SELECT m FROM mm) * coalesce(e.e_c, 0)
                    - d.d_c * d.d_c) AS BIGINT) AS q4m2
    FROM dc d LEFT JOIN ec e USING (cluster_id)
    """,
    tags=("dedup", "clustering", "modularity", "graph", "llm-pipeline"),
)
def dd_cluster_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity audit of the near-dup CLUSTERING (the CC
    labels over the 3-gram-Jaccard >= 0.2 graph): Q measures how much
    of the edge mass lives inside clusters beyond chance — for a CC
    labeling every edge is intra by construction, so Q = 1 − Σ_c
    (d_c/2m)² and the score is a pure GIANT-COMPONENT penalty: Q near 1
    = many small tight clusters (healthy dedup); Q collapsing toward 0
    = one hub component absorbing the corpus (the stop-shingle chaining
    failure mode max_df exists to prevent). Complements
    dd_cluster_bcubed_audit (label agreement) with a structural score.

    Hash surface: EXACT integer cross-multiplication — q4m2 =
    Σ_c (4m·e_c − d_c²) = Q·4m², so no division ever happens; plus
    bigint edge/cluster/size counts.

    Scale shape: degrees and cluster masses are two groupBys on the
    pair list; e_c is one labels join (labels are node-sized, the join
    is the same shuffle CC itself already paid). Nothing quadratic
    beyond the pair generation the dedup family already prices."""
    from burst_db_spark.operators import dedup as dd

    docs = load(spark, sf_dir, "documents")
    pairs = persist(dd.ngram_jaccard_pairs(docs, "doc_id", threshold=0.2).select(
        "id_a", "id_b"
    ))
    labels = dd.connected_components(pairs, docs, "doc_id")
    m = pairs.groupBy().agg(F.count("*").cast("bigint").alias("m"))
    deg = (
        pairs.select(F.col("id_a").alias("v"))
        .unionAll(pairs.select(F.col("id_b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").cast("bigint").alias("deg"))
    )
    dc = (
        labels.join(deg, labels.doc_id == deg.v, "left")
        .groupBy("cluster_id")
        .agg(
            F.sum(F.coalesce("deg", F.lit(0))).cast("bigint").alias("d_c"),
            F.count("*").cast("bigint").alias("n_docs"),
        )
    )
    ec = (
        pairs.join(
            labels.select(
                F.col("doc_id").alias("id_a"),
                F.col("cluster_id"),
            ),
            "id_a",
        )
        .groupBy("cluster_id")
        .agg(F.count("*").cast("bigint").alias("e_c"))
    )
    return (
        dc.join(ec, "cluster_id", "left")
        .crossJoin(F.broadcast(m))
        .groupBy()
        .agg(
            F.first("m").alias("n_edges"),
            F.count("*").cast("bigint").alias("n_clusters"),
            F.sum((F.col("n_docs") > 1).cast("bigint"))
            .cast("bigint")
            .alias("n_multi_clusters"),
            F.max("n_docs").cast("bigint").alias("largest_cluster"),
            F.sum(
                4 * F.col("m") * F.coalesce("e_c", F.lit(0))
                - F.col("d_c") * F.col("d_c")
            )
            .cast("bigint")
            .alias("q4m2"),
        )
    )


# ---------------------------------------------------------------------------
# T: margin-calibration audit of the NB domain tagger

from burst_db_spark.queries.round15 import (  # noqa: E402
    _NB_B,
    _NB_BUCKET,
    _NG_TOKS,
    _nb_scores,
)


@register(
    "t_nb_margin_calibration",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, unnest(list_filter({_NG_TOKS},
               w -> len(w) > 0)) AS term
        FROM documents
    ),
    tb AS (SELECT doc_id, source, {_NB_BUCKET} AS b FROM toks),
    model AS (
        SELECT source, b, CAST(count(*) AS BIGINT) AS c_sb
        FROM tb GROUP BY source, b
    ),
    totals AS (
        SELECT source, CAST(sum(c_sb) AS BIGINT) AS c_s
        FROM model GROUP BY source
    ),
    ll AS (
        SELECT m.source, m.b,
               CAST(floor(ln((CAST(m.c_sb AS DOUBLE) + 1.0)
                             / (CAST(t.c_s AS DOUBLE) + {_NB_B}.0))
                          * 1048576.0) AS BIGINT) AS ll_fx
        FROM model m JOIN totals t USING (source)
    ),
    priors AS (
        SELECT source,
               CAST(floor(ln(CAST(count(*) AS DOUBLE)
                             / (SELECT CAST(count(*) AS DOUBLE)
                                FROM documents)) * 1048576.0) AS BIGINT)
                   AS lp_fx
        FROM documents GROUP BY source
    ),
    db AS (
        SELECT doc_id, any_value(source) AS true_source, b,
               CAST(count(*) AS BIGINT) AS n_db
        FROM tb GROUP BY doc_id, b
    ),
    scores AS (
        SELECT d.doc_id, any_value(d.true_source) AS true_source,
               l.source AS cand,
               CAST(sum(d.n_db * l.ll_fx) AS BIGINT)
                   + CAST(any_value(p.lp_fx) AS BIGINT) AS score
        FROM db d
        JOIN ll l USING (b)
        JOIN priors p ON p.source = l.source
        GROUP BY d.doc_id, l.source
    ),
    top2 AS (
        SELECT doc_id, true_source, cand, score,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, cand) AS rn
        FROM scores QUALIFY rn <= 2
    ),
    perdoc AS (
        SELECT doc_id,
               CAST(max(CASE WHEN rn = 1 THEN score END)
                    - max(CASE WHEN rn = 2 THEN score END) AS BIGINT)
                   AS margin_fx,
               CAST(max(CASE WHEN rn = 1
                             THEN CAST(cand = true_source AS INTEGER)
                        END) AS BIGINT) AS correct
        FROM top2 GROUP BY doc_id
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (ORDER BY margin_fx, doc_id) AS r,
               count(*) OVER () AS n
        FROM perdoc
    )
    SELECT CAST(((r - 1) * 10) // n AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(correct) AS BIGINT) AS n_correct,
           CAST(min(margin_fx) AS BIGINT) AS min_margin_fx,
           CAST(max(margin_fx) AS BIGINT) AS max_margin_fx
    FROM ranked GROUP BY 1
    """,
    tags=("T", "naive-bayes", "calibration", "classifier", "audit",
          "llm-pipeline"),
)
def t_nb_margin_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-calibration curve of the NB domain tagger
    (t_nb_domain_confusion's model): documents ranked by decision
    margin (top-1 minus top-2 evidence, an exact bigint) and cut into
    10 exact-rank deciles — per decile, accuracy of the argmax
    prediction. The quality-classifier audit every tagger-driven
    curation pipeline needs: if accuracy does not rise with margin, the
    margin is not a confidence and thresholding on it is noise.

    Deciles are ((rank−1)·10) div n on an exact integer sort key
    (margin, doc_id) — NOT ntile(), whose remainder-distribution rule
    is an engine implementation detail; every surface column is a
    bigint count or margin. Scale shape: the model rides the same two
    groupBys + broadcast joins as the confusion row; the decile cut is
    one global sort of doc-count rows (at 100 TB: range-partitioned
    sort, same as o6)."""
    scores = _nb_scores(load(spark, sf_dir, "documents"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("source")
    )
    top2 = scores.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= 2
    )
    perdoc = top2.groupBy("doc_id").agg(
        (
            F.max(F.when(F.col("rn") == 1, F.col("score")))
            - F.max(F.when(F.col("rn") == 2, F.col("score")))
        )
        .cast("bigint")
        .alias("margin_fx"),
        F.max(
            F.when(
                F.col("rn") == 1,
                (F.col("source") == F.col("true_source")).cast("int"),
            )
        )
        .cast("bigint")
        .alias("correct"),
    )
    wr = Window.orderBy("margin_fx", "doc_id")
    ranked = perdoc.withColumn("r", F.row_number().over(wr)).withColumn(
        "n", F.count("*").over(Window.partitionBy())
    )
    return (
        ranked.select(
            F.expr("((r - 1) * 10) div n").cast("bigint").alias("decile"),
            "correct",
            "margin_fx",
        )
        .groupBy("decile")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("correct").cast("bigint").alias("n_correct"),
            F.min("margin_fx").cast("bigint").alias("min_margin_fx"),
            F.max("margin_fx").cast("bigint").alias("max_margin_fx"),
        )
    )


# ---------------------------------------------------------------------------
# G8: semi-supervised label propagation over the similarity graph


_LP_SEED_MOD = 5   # vec_id % 5 == 0 keeps its true label as a seed
_LP_ROUNDS = 8     # unroll depth; frontier exhausts in <= 6 at test sfs


def _lp_oracle_sql(rounds: int = _LP_ROUNDS) -> str:
    parts = [f"""
    q AS MATERIALIZED (
        SELECT vec_id, label,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(floor(x * 127) AS BIGINT)) AS qv
        FROM embeddings
    ),
    qn AS MATERIALIZED (
        SELECT vec_id, label, qv,
               CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT)
                   AS nrm2
        FROM q
    ),
    pr AS MATERIALIZED (
        SELECT ia, ib FROM (
            SELECT a.vec_id AS ia, b.vec_id AS ib,
                   CAST(list_sum(list_transform(range(1, 65),
                        i -> a.qv[i] * b.qv[i])) AS BIGINT) AS dp,
                   a.nrm2 AS na, b.nrm2 AS nb
            FROM qn a JOIN qn b ON a.vec_id < b.vec_id
        ) WHERE dp > 0 AND 100 * dp * dp >= 9 * na * nb
    ),
    e AS MATERIALIZED (
        SELECT ia AS src, ib AS dst FROM pr
        UNION ALL SELECT ib, ia FROM pr
    ),
    l0 AS MATERIALIZED (
        SELECT vec_id AS v, CAST(label AS BIGINT) AS lab,
               CAST(0 AS BIGINT) AS assigned_round
        FROM q WHERE vec_id % {_LP_SEED_MOD} = 0
    )"""]
    for r in range(1, rounds + 1):
        parts.append(f"""
    l{r} AS MATERIALIZED (
        SELECT v, lab, assigned_round FROM l{r - 1}
        UNION ALL
        SELECT v, lab, CAST({r} AS BIGINT) FROM (
            SELECT e.src AS v, l.lab,
                   row_number() OVER (PARTITION BY e.src
                                      ORDER BY count(*) DESC, l.lab) AS rk
            FROM e
            JOIN l{r - 1} l ON l.v = e.dst
            WHERE e.src NOT IN (SELECT v FROM l{r - 1})
            GROUP BY e.src, l.lab
        ) WHERE rk = 1
    )""")
    return (
        "WITH " + ",".join(parts)
        + f"""
    SELECT l.v AS vec_id, l.lab AS pred_label,
           CAST(q.label AS BIGINT) AS true_label, l.assigned_round
    FROM l{rounds} l JOIN q ON q.vec_id = l.v
    WHERE l.assigned_round > 0
    """
    )


@register(
    "g8_label_propagation",
    oracle=_lp_oracle_sql(),
    tags=("graph", "label-propagation", "semi-supervised", "iterative",
          "embedding-graph", "llm-pipeline"),
)
def g8_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation over the int-cosine similarity
    graph (the g6/g7 edge set): every {M}th vector keeps its true label
    as a SEED; each synchronized round, every still-unlabeled node with
    >= 1 labeled neighbor takes the majority label of its labeled
    neighbors (ties -> smallest label) and is then FROZEN — the
    weak-supervision expansion move (label a sliver, spread over the
    similarity graph) with monotone BFS-layer semantics, so rounds past
    frontier exhaustion are no-ops and the unrolled oracle can
    overshoot safely. Returns (vec_id, pred_label, true_label,
    assigned_round) for every non-seed node reached — prediction
    agreement vs the held-out true labels is the audit (pytest).

    All-integer surface: bigint labels, vote counts, round indices;
    ties break (count DESC, label ASC). Building this frame EXECUTES
    the propagation (eager per-round checkpoints). Each round: one join of the
    edge list against the labeled set + a vote groupBy + an anti-join —
    frontier-proportional work, localCheckpointed per round."""
    from burst_db_spark.operators.similarity import int_cos_edges

    emb = load(spark, sf_dir, "embeddings")
    pairs = int_cos_edges(emb, num=3, den=10)
    edges = checkpoint(pairs.select(
        F.col("ia").alias("src"), F.col("ib").alias("dst")
    ).unionAll(
        pairs.select(F.col("ib").alias("src"), F.col("ia").alias("dst"))
    ))
    truth = emb.select(
        "vec_id", F.col("label").cast("bigint").alias("true_label")
    )
    seed = checkpoint(
        emb.where(F.col("vec_id") % _LP_SEED_MOD == 0)
        .select(
            F.col("vec_id").alias("v"),
            F.col("label").cast("bigint").alias("lab"),
            F.lit(0).cast("bigint").alias("assigned_round"),
        )
    )
    # r15 (guide §2.3/§5; VERDICT r14 item 3 — frontier-proportional
    # rounds): the r14 loop checkpointed the WHOLE labeled set each
    # round (re-reading and re-writing O(V) rows per round, O(V·R)
    # total) and ran a per-round count job for the broadcast gate. Each
    # round now eagerly checkpoints only the NEW layer — the frontier,
    # exactly the work the round computes — and `labeled` is the lazy
    # union of the per-layer checkpoint leaves (plan grows one leaf per
    # round; no compounding subtree, the g4 lesson), so no layer is
    # released before the query's scope exits. The gate becomes
    # loop-invariant: labeled ⊆ nodes always, so one node count decides
    # broadcast for every round (same relation either way; strategy
    # does not change the votes).
    small = broadcastable(emb.count())
    labeled = seed
    for r in range(1, _LP_ROUNDS + 1):
        lab_dst = labeled.select(F.col("v").alias("dst"), "lab")
        lab_src = labeled.select(F.col("v").alias("src"))
        if small:
            lab_dst, lab_src = F.broadcast(lab_dst), F.broadcast(lab_src)
        votes = (
            edges.join(lab_dst, "dst")
            .join(lab_src, "src", "left_anti")
            .groupBy(F.col("src").alias("v"), "lab")
            .agg(F.count("*").alias("cnt"))
        )
        wv = Window.partitionBy("v").orderBy(F.col("cnt").desc(), "lab")
        new = checkpoint(
            votes.withColumn("rk", F.row_number().over(wv))
            .where(F.col("rk") == 1)
            .select(
                "v", "lab", F.lit(r).cast("bigint").alias("assigned_round")
            )
        )
        # monotone BFS-layer semantics (docstring): an empty frontier
        # stays empty, so later rounds add nothing — stop paying for
        # them (take(1) on the just-checkpointed layer is a stored-block
        # probe, not a recompute). Result set unchanged: unioning the
        # skipped empty layers is the identity.
        if not new.take(1):
            break
        labeled = labeled.unionByName(new)
    return (
        labeled.where(F.col("assigned_round") > 0)
        .join(truth, labeled.v == truth.vec_id)
        .select(
            "vec_id",
            F.col("lab").alias("pred_label"),
            "true_label",
            "assigned_round",
        )
    )


g8_label_propagation.__doc__ = g8_label_propagation.__doc__.format(
    M=_LP_SEED_MOD
)


# ---------------------------------------------------------------------------
# O9: Z-order range-decomposed box query over a z-clustered sink


_O9_BITS = 10        # 1024x1024 grid
_O9_BOX = (100, 300, 400, 700)   # x0, x1, y0, y1 (inclusive)
_O9_BUDGET = 32      # max pushed z-ranges


@register(
    "o9_zorder_range_query",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(p_partkey) AS BIGINT) AS key_sum,
           CAST(min(p_partkey) AS BIGINT) AS key_min,
           CAST(max(p_partkey) AS BIGINT) AS key_max
    FROM (
        SELECT p_partkey,
               CAST(('0x' || substr(md5(CAST(p_partkey AS VARCHAR)), 1, 8))
                    AS BIGINT) % {1 << _O9_BITS} AS qx,
               CAST(('0x' || substr(md5(CAST(p_partkey AS VARCHAR)), 9, 8))
                    AS BIGINT) % {1 << _O9_BITS} AS qy
        FROM part
    )
    WHERE qx BETWEEN {_O9_BOX[0]} AND {_O9_BOX[1]}
      AND qy BETWEEN {_O9_BOX[2]} AND {_O9_BOX[3]}
    """,
    tags=("layout", "zorder", "range-decomposition", "bigmin",
          "scan-pruning"),
)
def o9_zorder_range_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The QUERY-side half of Z-order clustering (o7/o8 pin the write
    side): a box predicate over a z-clustered parquet table runs as
    <= {B} Morton-range predicates on the sort key (quadrant/BIGMIN
    decomposition, operators/zorder.morton_ranges) plus the exact box
    as residual. The z-ranges are what parquet row-group min/max stats
    can actually prune on — a bare (qx, qy) box prunes ~nothing on a
    z-sorted file because neither column alone is sorted; the range
    set IS the layout's query contract, and the residual keeps the
    result exact even after budget-merging makes the cover a superset.
    tests/test_layout_skipping.py asserts the scan prunes most row
    groups; the oracle computes the same box directly from the source
    table (a clustered write + range scan must select exactly the box).

    Building this frame EXECUTES the clustered write (same as o8's
    roundtrip contract). All-integer surface: hashed grid coordinates,
    bigint key rollups."""
    from burst_db_spark.operators.zorder import morton_code, morton_ranges

    part = load(spark, sf_dir, "part").select("p_partkey")
    hx = F.conv(
        F.substring(F.md5(F.col("p_partkey").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    hy = F.conv(
        F.substring(F.md5(F.col("p_partkey").cast("string")), 9, 8), 16, 10
    ).cast("bigint")
    grid = 1 << _O9_BITS
    pts = part.select(
        "p_partkey",
        (hx % grid).alias("qx"),
        (hy % grid).alias("qy"),
    ).withColumn(
        "z", morton_code(F.col("qx"), F.col("qy"), _O9_BITS)
    )
    out = tmpdir("bds_o9_zorder_")
    (
        pts.repartitionByRange(8, "z")
        .sortWithinPartitions("z")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    x0, x1, y0, y1 = _O9_BOX
    zr = morton_ranges(x0, x1, y0, y1, _O9_BITS, budget=_O9_BUDGET)
    zcond = None
    for lo, hi in zr:
        c = F.col("z").between(F.lit(lo), F.lit(hi))
        zcond = c if zcond is None else (zcond | c)
    return (
        back.where(
            zcond
            & F.col("qx").between(x0, x1)
            & F.col("qy").between(y0, y1)
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("p_partkey").cast("bigint").alias("key_sum"),
            F.min("p_partkey").cast("bigint").alias("key_min"),
            F.max("p_partkey").cast("bigint").alias("key_max"),
        )
    )


o9_zorder_range_query.__doc__ = o9_zorder_range_query.__doc__.format(
    B=_O9_BUDGET
)
