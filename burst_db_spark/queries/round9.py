"""Round-9 queries: the end-to-end document curation cascade (quality
gate → exact dedup → MinHash-LSH fuzzy dedup → Bloom decontamination,
one Catalyst plan, per-stage funnel accounting), a point-in-interval
join whose fact scan is pruned at runtime by dynamic partition pruning
(the anti-join answer derived from totals minus the pruned inner join),
the measured MinHash-LSH recall curve against exact-Jaccard ground
truth (the audit that justifies the banding parameters), INCREMENTAL
cross-snapshot MinHash dedup (new docs probe the stored old-corpus
bands — the old corpus is never re-shingled), the source×source
overlap matrix computed from per-source KMV sketches only, the Bloom
decontamination stage as a STATELESS streaming map (row-local per-doc
decision, one stateful rollup), trailing-window distinct counts from
merged per-day KMV sketches, the late-materialization scan split, the
LSH band-configuration sweep (measured + theoretical recall per
banding, the tuning table behind the recall curve), and query-directed
multiprobe embedding LSH (fixed probe budget by plane margin — the
100x-rung fix, registered with a full margin-ranking oracle).

Reference parity: opera-adt/burst_db has no text/curation path — these
extend the LLM-pipeline surface (SURVEY.md "beyond the reference"
mandate); j18 extends the reference's blackout-interval anti-join
(reference src/burst_db/ interval filters) with the partitioned-scan
execution a 100 TB fact table needs. Every oracle is ANSI SQL the
driver runs on DuckDB. Float discipline (round-7 law): every
float-derived aggregate is quantized PER ROW with ``floor(x * 10^k)``
into BIGINT before summing; the only double outputs are divisions and
multiplications written with the identical operand order in both
engines (IEEE ops are deterministic; only routes differ, so we pin the
route).
"""

from __future__ import annotations

import os as _os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from burst_db_spark.catalog import load
from burst_db_spark.operators import dedup as dd
from burst_db_spark.operators import text as tx
from burst_db_spark.queries.round4 import _minhash_pair_ctes
from burst_db_spark.queries.textops import _SHINGLES_CTE, _TOKS
from burst_db_spark.registry import register
from burst_db_spark.runner import persist, tmpdir
from burst_db_spark.session import fan_out
from burst_db_spark.streaming import drain

# ---------------------------------------------------------------------------
# DD: the full curation cascade. Every large-scale pretraining corpus
# runs this funnel; each stage here is the scale path of its standalone
# query (quality gate t_quality_filter, exact dedup dd_exact, fuzzy
# dedup dd_lsh_cluster_dedup, decontamination t_decontaminate_bloom),
# chained WITHOUT materialization so Catalyst sees one plan and the
# per-stage manifest falls out as five tiny aggregates. Benchmark
# sources (src0/src1) are held out up front and their shingles build
# the 128 Kbit broadcast Bloom filter the survivors are scrubbed
# against — the train⋈benchmark shuffle never happens, which is what
# survives when the corpus is 100 TB.

_CASCADE_BENCH = ("src0", "src1")
_CB_M = 1 << 17
_CB_K = 3


@register(
    "dd_docs_cascade_pipeline",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    corpus AS (
        SELECT doc_id FROM documents
        WHERE source NOT IN ('src0', 'src1')
    ),
    q AS (
        SELECT d.doc_id,
               CASE WHEN len({_TOKS}) < 5 THEN 0.0
                    ELSE 1.0 - least(1.0,
                         length(regexp_replace(text, '[^.!?,;]', '', 'g'))
                         / greatest(len({_TOKS}), 1))
               END AS quality_score
        FROM documents d JOIN corpus USING (doc_id)
    ),
    kept0 AS (SELECT doc_id FROM q WHERE quality_score >= 0.5),
    kept1 AS (
        SELECT min(d.doc_id) AS doc_id
        FROM documents d JOIN kept0 USING (doc_id)
        GROUP BY md5(lower(trim(d.text)))
    ),
    {_minhash_pair_ctes("kept1")},
    edges AS (SELECT id_a AS src, id_b AS dst FROM lsh_pairs
              UNION SELECT id_b, id_a FROM lsh_pairs),
    reach(src, dst) AS (
        SELECT doc_id, doc_id FROM kept1
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    assign AS (SELECT src AS doc_id, min(dst) AS cluster_id
               FROM reach GROUP BY src),
    kept2 AS (SELECT doc_id FROM assign WHERE doc_id = cluster_id),
    bench AS (SELECT DISTINCT s.shingle FROM sh s
              JOIN documents d USING (doc_id)
              WHERE d.source IN ('src0', 'src1')),
    js AS (SELECT unnest([0, 1, 2]) AS j),
    tpos AS (SELECT DISTINCT
                 CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || shingle),
                       1, 8)) AS BIGINT) % {_CB_M} AS pos
             FROM bench CROSS JOIN js),
    cpos AS (SELECT s.doc_id, s.shingle,
                 CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || shingle),
                       1, 8)) AS BIGINT) % {_CB_M} AS pos
             FROM sh s JOIN kept2 USING (doc_id) CROSS JOIN js),
    flag AS (
        SELECT doc_id, shingle,
               count(DISTINCT c.pos) AS np,
               count(DISTINCT CASE WHEN t.pos IS NOT NULL THEN c.pos END) AS ni
        FROM cpos c LEFT JOIN tpos t ON t.pos = c.pos
        GROUP BY 1, 2
    ),
    contaminated AS (
        SELECT doc_id FROM flag WHERE np = ni
        GROUP BY doc_id HAVING count(*) >= 5
    ),
    kept3 AS (SELECT k.doc_id FROM kept2 k
              WHERE NOT EXISTS (SELECT 1 FROM contaminated c
                                WHERE c.doc_id = k.doc_id))
    SELECT stage,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens
    FROM (
        SELECT 'stage0_raw' AS stage, count(*) AS n_docs,
               sum(len({_TOKS})) AS n_tokens
        FROM documents d JOIN corpus USING (doc_id)
        UNION ALL
        SELECT 'stage1_quality', count(*), sum(len({_TOKS}))
        FROM documents d JOIN kept0 USING (doc_id)
        UNION ALL
        SELECT 'stage2_exact', count(*), sum(len({_TOKS}))
        FROM documents d JOIN kept1 USING (doc_id)
        UNION ALL
        SELECT 'stage3_fuzzy', count(*), sum(len({_TOKS}))
        FROM documents d JOIN kept2 USING (doc_id)
        UNION ALL
        SELECT 'stage4_decontam', count(*), sum(len({_TOKS}))
        FROM documents d JOIN kept3 USING (doc_id)
    )
    ORDER BY stage
    """,
    tags=("dedup", "pipeline", "cascade", "bloom", "llm-pipeline"),
)
def dd_docs_cascade_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation cascade with per-stage funnel accounting:
    benchmark sources held out → quality gate (score ≥ 0.5) → exact
    dedup (min doc_id per content digest) → MinHash-LSH cluster dedup
    (min-id survivor) → Bloom decontamination against benchmark
    shingles (≥5 flagged shingles drops the doc). Output is the
    5-stage manifest (stage, n_docs, n_tokens). Scale shape: each
    stage is its standalone query's production path — no all-pairs
    join anywhere, the Bloom bitset is a 16 KB broadcast tested
    map-side, and stage manifests are 1-row aggregates."""
    docs = load(spark, sf_dir, "documents")
    corpus = docs.where(~F.col("source").isin(*_CASCADE_BENCH))
    corpus_ids = corpus.select("doc_id")

    # Each kept{i} id-frame feeds BOTH the next stage and its funnel
    # manifest row — persisted (doc_id lists, node-sized) so the heavy
    # stage above it (quality featurization, LSH+CC) computes once per
    # job instead of once per consumer.
    q = tx.quality_features(corpus.select("doc_id", "text"))
    kept0 = persist(q.where(F.col("quality_score") >= 0.5).select("doc_id"))
    d0 = corpus.join(kept0, "doc_id", "left_semi")
    kept1 = persist(dd.exact_duplicates(d0, "doc_id").select(
        F.col("keep_id").alias("doc_id")
    ))
    d1 = corpus.join(kept1, "doc_id", "left_semi")

    from concurrent.futures import ThreadPoolExecutor
    from contextvars import copy_context

    from burst_db_spark.operators.bloom import bloom_contains, build_bloom

    # r15 (guide §2.3/§6 — filter BEFORE the explode): the bloom side
    # only needs the two BENCH sources' shingles and the contamination
    # scan only needs the kept2 survivors' — shingling the whole corpus
    # into sh_all and filtering after the Generate tokenized every doc
    # on both paths. Restrict each doc frame first: the source predicate
    # reaches the parquet scan on the bench side, and each doc pays the
    # tokenize+shingle explode at most once across the two passes.
    # Identical shingle sets (per-doc shingling is row-local).
    bench_docs = docs.where(F.col("source").isin(*_CASCADE_BENCH))
    bench_sh = dd.doc_shingles(bench_docs, "doc_id").select(
        "shingle"
    ).distinct()

    # Optimization r14 wave 12 (guide §2.6 — the bcubed-audit device):
    # the Bloom bitset build (an eager collect over the bench-source
    # shingles) and the LSH+CC fuzzy-dedup build (eager edge-list
    # checkpoint inside connected_components) are INDEPENDENT driver-side
    # actions that ran back-to-back; two driver threads overlap their
    # jobs on the scheduler. Both pipelines are deterministic and
    # scheduling-independent, so kept2 and the bitset — and the funnel
    # manifest — are identical to the sequential form.
    def _kept2() -> DataFrame:
        pairs = dd.minhash_lsh_dedup(d1, "doc_id", threshold=0.5)
        cc = dd.connected_components(pairs, d1, "doc_id")
        return persist(cc.where(
            F.col("doc_id") == F.col("cluster_id")
        ).select("doc_id"))

    # each pool thread runs in a copy of this context, so its persists
    # land in the caller's scope
    with ThreadPoolExecutor(max_workers=2) as pool:
        fk = pool.submit(copy_context().run, _kept2)
        fb = pool.submit(
            copy_context().run, build_bloom, bench_sh, "shingle", _CB_M, _CB_K
        )
        kept2, bits = fk.result(), fb.result()
    kept2_sh = dd.doc_shingles(
        docs.join(kept2, "doc_id", "left_semi"), "doc_id"
    )
    contaminated = (
        kept2_sh.where(
            bloom_contains(spark, F.col("shingle"), bits, _CB_M, _CB_K)
        )
        .groupBy("doc_id")
        .agg(F.count("*").alias("nf"))
        .where(F.col("nf") >= 5)
        .select("doc_id")
    )
    kept3 = kept2.join(contaminated, "doc_id", "left_anti")

    # Optimization r14 (guide §2.3): the five funnel rows each summed
    # token_count(text) over a semi-joined scan — five tokenizations of
    # the corpus. Tokenize ONCE into a persisted (doc_id, __ntok) frame
    # (doc-count rows, two ints wide); each stage row is then a semi
    # join + sum over it. Identical integer sums; oracle untouched.
    ntok = persist(docs.select(
        "doc_id", tx.token_count(F.col("text")).alias("__ntok")
    ))

    def stage_row(ids: DataFrame, name: str) -> DataFrame:
        return (
            ntok.join(ids, "doc_id", "left_semi")
            .agg(
                F.count("*").cast("bigint").alias("n_docs"),
                F.sum("__ntok").cast("bigint").alias("n_tokens"),
            )
            .select(F.lit(name).alias("stage"), "n_docs", "n_tokens")
        )

    return (
        stage_row(corpus_ids, "stage0_raw")
        .unionAll(stage_row(kept0, "stage1_quality"))
        .unionAll(stage_row(kept1, "stage2_exact"))
        .unionAll(stage_row(kept2, "stage3_fuzzy"))
        .unionAll(stage_row(kept3, "stage4_decontam"))
        .orderBy("stage")
    )


# ---------------------------------------------------------------------------
# J18: point-in-interval join driven by dynamic partition pruning.
# The blackout anti-join (P7/J10 semantics) executed the way a
# date-partitioned 100 TB fact table wants it: the heavy per-row work
# (timestamp bounds check + value quantization) runs ONLY on the
# partitions the runtime DPP filter keeps (the dates any blackout
# interval covers, ~17% here), and the anti-join answer falls out as
# per-type totals (a column-pruned count) minus the in-interval counts
# — the complement is never scanned for. Extends p12 (round7.py:431):
# there the dim filter prunes for an aggregate; here it drives a
# point-in-interval containment join.


def _j18_fixture(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write events date-partitioned + a per-type interval dim (two
    'blackout' windows and one 'maintenance' window per event_type,
    anchored at the type's first event date); deterministic content,
    throwaway location."""
    base = tmpdir("bds_j18_")
    fact_path = _os.path.join(base, "fact")
    iv_path = _os.path.join(base, "intervals")
    ev = load(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    ev.write.mode("overwrite").partitionBy("event_date").parquet(fact_path)
    d0 = ev.groupBy("event_type").agg(F.min("event_date").alias("d0"))
    windows = [
        ("blackout", 78, 162),     # day 3 06:00 .. day 6 18:00
        ("blackout", 312, 372),    # day 13 00:00 .. day 15 12:00
        ("maintenance", 480, 528),  # day 20 .. day 22 (filtered out)
    ]
    iv = d0.select(
        "event_type",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(kind).alias("kind"),
                        F.expr(
                            f"CAST(d0 AS TIMESTAMP) + INTERVAL {s} HOUR"
                        ).alias("start_ts"),
                        F.expr(
                            f"CAST(d0 AS TIMESTAMP) + INTERVAL {e} HOUR"
                        ).alias("end_ts"),
                    )
                    for kind, s, e in windows
                ]
            )
        ).alias("w"),
    ).select("event_type", "w.kind", "w.start_ts", "w.end_ts")
    iv.write.mode("overwrite").parquet(iv_path)
    return fact_path, iv_path


@register(
    "j18_point_in_interval_dpp",
    oracle="""
    WITH d0 AS (
        SELECT event_type,
               CAST(min(CAST(ts AS DATE)) AS TIMESTAMP) AS t0
        FROM events GROUP BY 1
    ),
    iv AS (
        SELECT event_type, t0 + INTERVAL 78 HOUR AS s,
               t0 + INTERVAL 162 HOUR AS e
        FROM d0
        UNION ALL
        SELECT event_type, t0 + INTERVAL 312 HOUR,
               t0 + INTERVAL 372 HOUR
        FROM d0
    ),
    ins AS (
        SELECT e.event_type,
               CAST(count(*) AS BIGINT) AS n_in,
               CAST(sum(CAST(floor(e.value * 1e6) AS BIGINT)) AS BIGINT)
                   AS sum_micros
        FROM events e
        JOIN iv ON iv.event_type = e.event_type
               AND e.ts >= iv.s AND e.ts < iv.e
        GROUP BY 1
    ),
    tot AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_total
        FROM events GROUP BY 1
    )
    SELECT t.event_type,
           CAST(COALESCE(i.n_in, 0) AS BIGINT) AS n_in_blackout,
           CAST(COALESCE(i.sum_micros, 0) AS BIGINT)
               AS sum_micros_in_blackout,
           CAST(t.n_total - COALESCE(i.n_in, 0) AS BIGINT) AS n_outside
    FROM tot t LEFT JOIN ins i USING (event_type)
    ORDER BY t.event_type
    """,
    tags=("J18", "interval-join", "dpp", "partition-pruning", "anti-join"),
)
def j18_point_in_interval_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type blackout accounting over a date-partitioned fact: the
    interval dim (filtered to kind='blackout' at runtime) explodes into
    the dates it covers, the broadcast join on (event_type, event_date)
    lets dynamic partition pruning skip every fact partition no
    interval touches, the exact ts-bounds predicate trims day-boundary
    events post-join, and the anti-join side (n_outside) is computed as
    the column-pruned per-type total minus the in-interval count — the
    complement partitions are never scanned for their values. The
    oracle recomputes the same intervals from the raw events table."""
    fact_path, iv_path = _j18_fixture(spark, sf_dir)
    fact = spark.read.parquet(fact_path)
    iv = spark.read.parquet(iv_path).where(F.col("kind") == "blackout")
    ivd = iv.withColumn(
        "event_date",
        F.explode(
            F.expr("sequence(CAST(start_ts AS DATE), CAST(end_ts AS DATE))")
        ),
    )
    ins = (
        fact.join(F.broadcast(ivd), ["event_type", "event_date"])
        .where(
            (F.col("ts") >= F.col("start_ts"))
            & (F.col("ts") < F.col("end_ts"))
        )
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_in"),
            F.sum(F.floor(F.col("value") * F.lit(1e6)).cast("bigint"))
            .cast("bigint")
            .alias("sum_micros"),
        )
    )
    tot = fact.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_total")
    )
    return (
        tot.join(ins, "event_type", "left")
        .select(
            "event_type",
            F.coalesce(F.col("n_in"), F.lit(0))
            .cast("bigint")
            .alias("n_in_blackout"),
            F.coalesce(F.col("sum_micros"), F.lit(0))
            .cast("bigint")
            .alias("sum_micros_in_blackout"),
            (F.col("n_total") - F.coalesce(F.col("n_in"), F.lit(0)))
            .cast("bigint")
            .alias("n_outside"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# T: measured MinHash-LSH recall curve. The audit that justifies the
# banding parameters (16 hashes, 4 bands × 4 rows): exact Jaccard
# pairs (lossless prefix-filter join, threshold 0.05 — low enough to
# capture the non-duplicate background, where recall SHOULD be ~0) are
# binned by true similarity (0.05-wide bins) and each bin reports the
# fraction the banded LSH candidate generation actually recovered,
# next to the theoretical S-curve 1 - (1 - s^r)^b at the bin midpoint.
# At 100 TB this is how LSH parameters are chosen and defended:
# measure recall on a corpus slice against the exact join, read the
# curve, move the knee. The exact side stays the lossless prefix
# filter (at τ=0.05 the prefix is ~95% of each set, so this audit is
# priced like the quadratic join it checks — run it on a slice, which
# is why bench pins it to sf0.01); the ORACLE runs the quadratic
# shingle join.

_RC_THRESHOLD = 0.05


@register(
    "t_minhash_recall_curve",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
              FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(count(*) AS BIGINT) AS common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    exact_pairs AS (
        SELECT id_a, id_b,
               common / (sa.n_sh + sb.n_sh - common) AS jaccard
        FROM common
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE common / (sa.n_sh + sb.n_sh - common) >= {_RC_THRESHOLD}
    ),
    {_minhash_pair_ctes(None)},
    binned AS (
        SELECT CAST(floor(jaccard * 20) AS BIGINT) AS bin, id_a, id_b
        FROM exact_pairs
    ),
    hit AS (
        SELECT b.bin,
               CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS hit
        FROM binned b
        LEFT JOIN cand c ON c.id_a = b.id_a AND c.id_b = b.id_b
    ),
    curve AS (
        SELECT bin,
               CAST(count(*) AS BIGINT) AS n_exact,
               CAST(sum(hit) AS BIGINT) AS n_lsh_hit
        FROM hit GROUP BY bin
    ),
    sc AS (SELECT bin, n_exact, n_lsh_hit,
                  least((bin + 0.5) / 20.0, 1.0) AS s
           FROM curve),
    s4c AS (SELECT bin, n_exact, n_lsh_hit, s * s * s * s AS s4 FROM sc),
    tc AS (SELECT bin, n_exact, n_lsh_hit, 1.0 - s4 AS t FROM s4c)
    SELECT bin, n_exact, n_lsh_hit,
           CAST(n_lsh_hit AS DOUBLE) / n_exact AS recall,
           1.0 - t * t * t * t AS expected_recall
    FROM tc
    ORDER BY bin
    """,
    tags=("text", "dedup", "lsh", "recall", "audit", "llm-pipeline"),
)
def t_minhash_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-similarity-bin (0.05-wide) LSH candidate recall against the
    exact Jaccard ≥ 0.05 pair set (lossless prefix-filter join), with
    the theoretical banding S-curve 1-(1-s^4)^4 at each bin midpoint
    for comparison. The expected-recall expression is written with the
    identical IEEE operation order in both engines (explicit repeated
    multiplication, no pow), so the doubles match bit-for-bit."""
    docs = load(spark, sf_dir, "documents")
    exact = dd.jaccard_prefix_pairs(docs, "doc_id",
                                    threshold=_RC_THRESHOLD)
    sigs = dd.minhash_signatures(docs, "doc_id")
    cands = dd.lsh_candidate_pairs(sigs, "doc_id")
    binned = exact.select(
        F.floor(F.col("jaccard") * 20).cast("bigint").alias("bin"),
        "id_a",
        "id_b",
    )
    hit = binned.join(
        cands.withColumn("hit", F.lit(1)), ["id_a", "id_b"], "left"
    ).select("bin", F.coalesce(F.col("hit"), F.lit(0)).alias("hit"))
    curve = hit.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n_exact"),
        F.sum("hit").cast("bigint").alias("n_lsh_hit"),
    )
    sc = curve.withColumn(
        "s", F.least((F.col("bin") + F.lit(0.5)) / F.lit(20.0), F.lit(1.0))
    )
    s4c = sc.withColumn(
        "s4", F.col("s") * F.col("s") * F.col("s") * F.col("s")
    )
    tc = s4c.withColumn("t", F.lit(1.0) - F.col("s4"))
    return tc.select(
        "bin",
        "n_exact",
        "n_lsh_hit",
        (F.col("n_lsh_hit").cast("double") / F.col("n_exact")).alias(
            "recall"
        ),
        (
            F.lit(1.0)
            - F.col("t") * F.col("t") * F.col("t") * F.col("t")
        ).alias("expected_recall"),
    ).orderBy("bin")


# ---------------------------------------------------------------------------
# DD: INCREMENTAL cross-snapshot MinHash dedup. The production shape of
# corpus dedup at 100 TB: the old corpus is never re-shingled — its
# signatures live in a signature store (here: the sig frame restricted
# to old ids, standing in for a parquet-backed store) — and only the
# NEW snapshot is shingled, signed, and probed against the stored bands
# (new ⋈ old band join; no new-new, no old-old pairs). Cost per
# ingest ∝ new data + index probe, independent of corpus age.

_INC_NH = 16  # must match operators.dedup.NUM_HASHES
_INC_BR = 4


def _inc_agree_sql() -> str:
    return " + ".join(
        f"CASE WHEN a.h{j} = b.h{j} THEN 1 ELSE 0 END" for j in range(_INC_NH)
    )


def _inc_band_joins_sql() -> str:
    return "\n        UNION ALL\n".join(
        f"        SELECT n.doc_id AS new_id, o.doc_id AS old_id"
        f" FROM newb n JOIN oldb o ON n.band{b} = o.band{b}"
        for b in range(_INC_NH // _INC_BR)
    )


@register(
    "dd_minhash_incremental",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    {_minhash_pair_ctes(None)},
    newb AS (SELECT * FROM bands WHERE doc_id % 3 = 0),
    oldb AS (SELECT * FROM bands WHERE doc_id % 3 <> 0),
    candx AS (
        SELECT DISTINCT new_id, old_id FROM (
{_inc_band_joins_sql()}
        )
    ),
    ver AS (
        SELECT c.new_id, c.old_id, ({_inc_agree_sql()}) / 16.0 AS est
        FROM candx c
        JOIN sig a ON a.doc_id = c.new_id
        JOIN sig b ON b.doc_id = c.old_id
    )
    SELECT new_id,
           CAST(min(old_id) AS BIGINT) AS dup_of_min,
           CAST(count(*) AS BIGINT) AS n_old_dups,
           max(est) AS max_est_sim
    FROM ver WHERE est >= 0.5
    GROUP BY new_id
    ORDER BY new_id
    """,
    tags=("dedup", "minhash", "incremental", "snapshot", "llm-pipeline"),
)
def dd_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-snapshot docs (doc_id % 3 == 0) that near-duplicate
    (est_sim ≥ 0.5) an OLD-corpus doc, found by probing the old bands
    with the new bands only: band join is new ⋈ old (never old ⋈ old —
    the old corpus was deduped when ingested), verify is the zip_with
    agreement fold over the two signature arrays. At 100 TB the old
    sig/band frames are parquet reads from the signature store; the
    new snapshot is the only thing shingled this run. Body extracted to
    operators/dedup.minhash_incremental_manifest (r10) so the 100x
    constant-density probe runs the IDENTICAL plan."""
    docs = load(spark, sf_dir, "documents")
    return dd.minhash_incremental_manifest(
        docs, "doc_id", F.col("doc_id") % 3 == 0, threshold=0.5
    )


# ---------------------------------------------------------------------------
# DD: source×source overlap matrix from per-source KMV sketches ONLY.
# The curation question "which sources duplicate each other?" answered
# without ever joining raw shingle sets pairwise: each source keeps a
# k-row bottom-k sketch of its shingle hashes (built with the a32/a36
# two-phase shard→merge, no hot-partition sort), and every pairwise
# intersection estimate is computed from 2k sketch rows at the pair's
# theta = min(kth_a, kth_b). 20 sources → 190 estimates from 20·k rows;
# at 100 TB the sketches are built once per ingest and the full matrix
# is re-derivable any time without touching the corpus. Sources whose
# distinct-hash count is below k are EXACT (sentinel theta = all-f:
# the sketch is the whole set).
#
# r10 split (VERDICT r9 item #6): the PRODUCTION row is sketch-only —
# no quadratic term anywhere in its plan. The exact pairwise-truth
# validation rides in the separate dd_source_overlap_exact_audit row,
# pinned to sf0.01 in bench.py, matching the dd_embedding_nn_exact_audit
# audit-vs-production convention.

_OV_K = 128

# sketch-side SQL shared by the production row and the audit row
_OV_EST_CTES = f"""{_SHINGLES_CTE},
    ss AS (SELECT DISTINCT d.source, s.shingle
           FROM sh s JOIN documents d USING (doc_id)),
    hs AS (SELECT DISTINCT source, md5(shingle) AS h FROM ss),
    sk AS (
        SELECT source, h FROM (
            SELECT source, h,
                   row_number() OVER (PARTITION BY source ORDER BY h) AS rn
            FROM hs
        ) WHERE rn <= {_OV_K}
    ),
    kth AS (SELECT source, max(h) AS kth_h, count(*) AS n_sk
            FROM sk GROUP BY source),
    th AS (SELECT source,
                  CASE WHEN n_sk >= {_OV_K} THEN kth_h
                       ELSE repeat('f', 32) END AS th
           FROM kth),
    spine AS (
        SELECT a.source AS src_a, b.source AS src_b,
               least(a.th, b.th) AS th
        FROM th a JOIN th b ON a.source < b.source
    ),
    ic AS (
        SELECT a.source AS src_a, b.source AS src_b, a.h
        FROM sk a JOIN sk b ON a.h = b.h AND a.source < b.source
    ),
    cnt AS (
        SELECT s.src_a, s.src_b, s.th,
               CAST(count(i.h) AS BIGINT) AS c
        FROM spine s
        LEFT JOIN ic i ON i.src_a = s.src_a AND i.src_b = s.src_b
                      AND i.h < s.th
        GROUP BY 1, 2, 3
    )"""

_OV_EST_EXPR = (
    f"CAST(c.c * {1 << 48}"
    " // CAST('0x' || substr(c.th, 1, 12) AS BIGINT) AS BIGINT)"
)


def _overlap_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src_a, src_b, est_inter) for all source pairs, from per-source
    bottom-k sketches only — every join is sketch-sized or
    source-count-sized; the corpus is touched once (shingle build)."""
    docs = load(spark, sf_dir, "documents")
    sh = dd.doc_shingles(docs, "doc_id")
    ss = (
        sh.join(docs.select("doc_id", "source"), "doc_id")
        .select("source", "shingle")
        .distinct()
    )
    hs = ss.select("source", F.md5("shingle").alias("h")).distinct()
    # two-phase bottom-k per source (dedup.two_phase_bottom_k idiom)
    sk = dd.two_phase_bottom_k(hs, ["source"], "h", _OV_K)
    kth = sk.groupBy("source").agg(
        F.max("h").alias("kth_h"), F.count("*").alias("n_sk")
    )
    th = kth.select(
        "source",
        F.when(F.col("n_sk") >= _OV_K, F.col("kth_h"))
        .otherwise(F.lit("f" * 32))
        .alias("th"),
    )
    ta, tb = th.alias("ta"), th.alias("tb")
    spine = (
        ta.join(tb, F.col("ta.source") < F.col("tb.source"))
        .select(
            F.col("ta.source").alias("src_a"),
            F.col("tb.source").alias("src_b"),
            F.least(F.col("ta.th"), F.col("tb.th")).alias("th"),
        )
    )
    a, b = sk.alias("a"), sk.alias("b")
    ic = a.join(
        b,
        (F.col("a.h") == F.col("b.h"))
        & (F.col("a.source") < F.col("b.source")),
    ).select(
        F.col("a.source").alias("src_a"),
        F.col("b.source").alias("src_b"),
        F.col("a.h").alias("h"),
    )
    cnt = (
        spine
        .join(
            F.broadcast(ic),
            (spine["src_a"] == ic["src_a"])
            & (spine["src_b"] == ic["src_b"])
            & (ic["h"] < spine["th"]),
            "left",
        )
        .groupBy(spine["src_a"], spine["src_b"], spine["th"])
        .agg(F.count(ic["h"]).cast("bigint").alias("c"))
    )
    return cnt.select(
        "src_a",
        "src_b",
        F.expr(
            f"CAST(c * CAST({1 << 48} AS BIGINT)"
            " DIV CAST(conv(substring(th, 1, 12), 16, 10) AS BIGINT)"
            " AS BIGINT)"
        ).alias("est_inter"),
    )


def _overlap_truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise shingle-intersection counts — the quadratic
    self-join the sketches exist to avoid. AUDIT ONLY (pinned sf):
    per-shingle fanout is bounded by C(20,2)=190 so it's linear-ish in
    the vocabulary at audit scale, but it re-reads the full corpus
    relation pairwise — at 100 TB you never run this."""
    docs = load(spark, sf_dir, "documents")
    sh = dd.doc_shingles(docs, "doc_id")
    ss = (
        sh.join(docs.select("doc_id", "source"), "doc_id")
        .select("source", "shingle")
        .distinct()
    )
    return (
        ss.alias("x")
        .join(
            ss.alias("y"),
            (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col("x.source") < F.col("y.source")),
        )
        .groupBy(
            F.col("x.source").alias("src_a"),
            F.col("y.source").alias("src_b"),
        )
        .agg(F.count("*").cast("bigint").alias("true_inter"))
    )


@register(
    "dd_source_overlap_matrix",
    oracle=f"""
    WITH {_OV_EST_CTES}
    SELECT c.src_a, c.src_b, {_OV_EST_EXPR} AS est_inter
    FROM cnt c
    ORDER BY c.src_a, c.src_b
    """,
    tags=("dedup", "sketch", "kmv", "theta", "overlap", "llm-pipeline"),
)
def dd_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 190 pairwise source-overlap estimates from 20 per-source
    bottom-k shingle sketches (two-phase shard→merge build) — the
    production row: sketch-sized joins only, no exact-truth term."""
    return _overlap_estimates(spark, sf_dir).orderBy("src_a", "src_b")


@register(
    "dd_source_overlap_exact_audit",
    oracle=f"""
    WITH {_OV_EST_CTES},
    truth AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(count(*) AS BIGINT) AS true_inter
        FROM ss a JOIN ss b ON a.shingle = b.shingle AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT c.src_a, c.src_b, {_OV_EST_EXPR} AS est_inter,
           CAST(COALESCE(t.true_inter, 0) AS BIGINT) AS true_inter
    FROM cnt c
    LEFT JOIN truth t ON t.src_a = c.src_a AND t.src_b = c.src_b
    ORDER BY c.src_a, c.src_b
    """,
    tags=("dedup", "sketch", "overlap", "audit", "quadratic-audit"),
)
def dd_source_overlap_exact_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sketch estimates side-by-side with the EXACT pairwise
    intersections (quadratic shingle self-join) — the validation that
    justifies trusting dd_source_overlap_matrix. Pinned to sf0.01 in
    bench.py like the other *_exact_audit rows."""
    est = _overlap_estimates(spark, sf_dir)
    truth = _overlap_truth(spark, sf_dir)
    return (
        est.join(F.broadcast(truth), ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            "est_inter",
            F.coalesce(F.col("true_inter"), F.lit(0))
            .cast("bigint")
            .alias("true_inter"),
        )
        .orderBy("src_a", "src_b")
    )


# ---------------------------------------------------------------------------
# Streaming decontamination: the cascade's Bloom stage as a STATELESS
# map over the ingest stream. The per-document decision (≥5 shingles
# testing positive against the benchmark bitset) is computed row-locally
# — shingle array built per row, membership COUNT per row via the
# broadcast bitset (operators/bloom.bloom_contained_count) — so the
# whole decontamination adds ZERO streaming state; the only stateful
# operator is the final per-source rollup. This is how the 100 TB
# ingest path stays decontaminated continuously: the 16 KB bitset is
# the only shared artifact, rebuilt only when the benchmark set
# changes. Oracle: the batch computation (row-local decisions are
# batching-independent by construction).


@register(
    "stream_decontaminate_bloom",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    corpus AS (SELECT doc_id, source FROM documents
               WHERE source NOT IN ('src0', 'src1')),
    bench AS (SELECT DISTINCT s.shingle FROM sh s
              JOIN documents d USING (doc_id)
              WHERE d.source IN ('src0', 'src1')),
    js AS (SELECT unnest([0, 1, 2]) AS j),
    tpos AS (SELECT DISTINCT
                 CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || shingle),
                       1, 8)) AS BIGINT) % {_CB_M} AS pos
             FROM bench CROSS JOIN js),
    cpos AS (SELECT s.doc_id, s.shingle,
                 CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || shingle),
                       1, 8)) AS BIGINT) % {_CB_M} AS pos
             FROM sh s JOIN corpus USING (doc_id) CROSS JOIN js),
    flag AS (
        SELECT doc_id, shingle,
               count(DISTINCT c.pos) AS np,
               count(DISTINCT CASE WHEN t.pos IS NOT NULL THEN c.pos END) AS ni
        FROM cpos c LEFT JOIN tpos t ON t.pos = c.pos
        GROUP BY 1, 2
    ),
    perdoc AS (
        SELECT doc_id,
               sum(CASE WHEN np = ni THEN 1 ELSE 0 END) AS nf
        FROM flag GROUP BY doc_id
    ),
    j AS (SELECT c.source, COALESCE(p.nf, 0) AS nf
          FROM corpus c LEFT JOIN perdoc p USING (doc_id))
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN nf < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN nf >= 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flagged
    FROM j
    GROUP BY source
    ORDER BY source
    """,
    tags=("streaming", "decontamination", "bloom", "stateless",
          "llm-pipeline"),
)
def stream_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus files stream in; each document is scored row-locally
    against the broadcast benchmark Bloom bitset (count of shingles
    testing positive, no explode, no per-doc state) and the per-source
    kept/flagged rollup is the stream's single stateful operator
    (complete mode, availableNow drain). Must equal the batch
    computation bit-for-bit — row-local decisions make the result
    batching-independent."""
    from burst_db_spark.operators.bloom import (
        bloom_contained_count,
        build_bloom,
    )
    from burst_db_spark.streaming import incremental as st

    docs = load(spark, sf_dir, "documents")
    # r15 (guide §2.3/§6 — filter BEFORE the explode): the bloom build
    # only needs the BENCH sources' shingles, but shingling the whole
    # corpus and then joining to bench_ids tokenized every document (the
    # doc_id join cannot be pushed below the Generate). Restrict the doc
    # frame first — the source predicate reaches the parquet scan
    # (PushedFilters) and only bench docs pay the tokenize+shingle
    # explode. Identical shingle set (per-doc shingling is row-local).
    bench_docs = docs.where(F.col("source").isin(*_CASCADE_BENCH))
    bench_sh = dd.doc_shingles(bench_docs, "doc_id").select(
        "shingle"
    ).distinct()
    bits = build_bloom(bench_sh, "shingle", _CB_M, _CB_K)

    corpus = docs.where(~F.col("source").isin(*_CASCADE_BENCH)).select(
        "doc_id", "source", "text"
    )
    tmp = tmpdir("bds_decontam_stream_")
    data_dir = f"{tmp}/in"
    # a few multi-row files, not one-per-core: the drain is one
    # availableNow batch either way, and fewer files means fewer
    # Arrow-UDF task launches in the scoring map (measured 2x on the
    # bench; on a real cluster the ingest stream arrives pre-chunked)
    corpus.coalesce(4).write.parquet(data_dir)
    stream = st.file_stream(spark, data_dir, corpus.schema)
    scored = stream.select(
        "source",
        bloom_contained_count(
            spark, tx.shingles(F.col("text")), bits, _CB_M, _CB_K
        ).alias("nf"),
    )
    agg = scored.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("nf") < 5, 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.sum(F.when(F.col("nf") >= 5, 1).otherwise(0))
        .cast("bigint")
        .alias("n_flagged"),
    )
    return drain(agg, tmp).orderBy("source")


# ---------------------------------------------------------------------------
# A38: SLIDING-window distinct counts from per-day KMV sketches — the
# time-dimension face of sketch mergeability (a27/a31/a32 showed the
# key dimension). Each day keeps a bottom-k sketch of user-id hashes
# (two-phase shard→merge build); every trailing-7-day estimate merges
# the 7 day-sketches (k rows each) and re-cuts — raw events are
# touched exactly once regardless of how many windows are asked. The
# sub-k case is EXACT by construction: if the merged distinct hash
# count is below k, every constituent day sketch was exact (a cut
# sketch implies ≥ k rows), so the union is the true set. At 100 TB:
# daily sketch partials land in a metadata store; any dashboard window
# (7d/30d/90d) is answered from day-count × k rows.

_SW_K = 64
_SW_POW48 = 1 << 48


@register(
    "a38_sliding_kmv_distinct",
    oracle=f"""
    WITH base AS (
        SELECT DISTINCT CAST(ts AS DATE) AS d,
               md5(CAST(user_id AS VARCHAR)) AS h
        FROM events
    ),
    skd AS (
        SELECT d, h FROM (
            SELECT d, h,
                   row_number() OVER (PARTITION BY d ORDER BY h) AS rn
            FROM base
        ) WHERE rn <= {_SW_K}
    ),
    spine AS (SELECT DISTINCT d AS w_end FROM base),
    win AS (
        SELECT s.w_end, k.h
        FROM spine s
        JOIN skd k ON k.d BETWEEN s.w_end - INTERVAL 6 DAY AND s.w_end
    ),
    merged AS (SELECT DISTINCT w_end, h FROM win),
    ranked AS (
        SELECT w_end, h,
               row_number() OVER (PARTITION BY w_end ORDER BY h) AS rn,
               count(*) OVER (PARTITION BY w_end) AS n_m
        FROM merged
    ),
    est AS (
        SELECT w_end,
               CASE WHEN any_value(n_m) >= {_SW_K}
                    THEN ({_SW_K} - 1) * {_SW_POW48}
                         // CAST('0x' || substr(
                               max(CASE WHEN rn = {_SW_K} THEN h END), 1, 12)
                            AS BIGINT)
                    ELSE any_value(n_m) END AS est_distinct
        FROM ranked WHERE rn <= {_SW_K}
        GROUP BY w_end
    ),
    truth AS (
        SELECT s.w_end,
               CAST(count(DISTINCT e.user_id) AS BIGINT) AS true_distinct
        FROM spine s
        JOIN events e ON CAST(e.ts AS DATE)
                         BETWEEN s.w_end - INTERVAL 6 DAY AND s.w_end
        GROUP BY s.w_end
    )
    SELECT e.w_end, CAST(e.est_distinct AS BIGINT) AS est_distinct,
           t.true_distinct
    FROM est e JOIN truth t USING (w_end)
    ORDER BY e.w_end
    """,
    tags=("A38", "sketch", "kmv", "sliding-window", "mergeable"),
)
def a38_sliding_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct-user estimates for every day, computed
    by merging per-day bottom-k sketches (never re-scanning events),
    next to the exact count. Two-phase sketch build, broadcast window
    spine join, integer-only estimator — the a32 formula per window."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        F.to_date("ts").alias("d"),
        F.md5(F.col("user_id").cast("string")).alias("h"),
    ).distinct()
    skd = dd.two_phase_bottom_k(base, ["d"], "h", _SW_K, n_shards=4)
    spine = base.select(F.col("d").alias("w_end")).distinct()
    win = spine.join(
        F.broadcast(skd),
        (F.col("d") >= F.date_sub(F.col("w_end"), 6))
        & (F.col("d") <= F.col("w_end")),
    ).select("w_end", "h")
    merged = win.distinct()
    w_rank = Window.partitionBy("w_end").orderBy("h")
    w_all = Window.partitionBy("w_end")
    ranked = (
        merged.withColumn("rn", F.row_number().over(w_rank))
        .withColumn("n_m", F.count("*").over(w_all))
    )
    est = (
        ranked.where(F.col("rn") <= _SW_K)
        .groupBy("w_end")
        .agg(
            F.any_value("n_m").alias("n_m"),
            F.max(F.when(F.col("rn") == _SW_K, F.col("h"))).alias("kth_h"),
        )
        .select(
            "w_end",
            F.when(
                F.col("n_m") >= _SW_K,
                F.expr(
                    f"CAST(({_SW_K} - 1) * CAST({_SW_POW48} AS BIGINT)"
                    " DIV CAST(conv(substring(kth_h, 1, 12), 16, 10)"
                    " AS BIGINT) AS BIGINT)"
                ),
            )
            .otherwise(F.col("n_m"))
            .cast("bigint")
            .alias("est_distinct"),
        )
    )
    # AUDIT-ONLY truth column: the exact per-window distinct re-reads
    # events once per window (7x row expansion). At scale you drop this
    # block — the sketch path above is the production answer.
    truth = (
        spine.join(
            ev.select(F.to_date("ts").alias("d"), "user_id"),
            (F.col("d") >= F.date_sub(F.col("w_end"), 6))
            & (F.col("d") <= F.col("w_end")),
        )
        .groupBy("w_end")
        .agg(F.count_distinct("user_id").cast("bigint").alias("true_distinct"))
    )
    return (
        est.join(truth, "w_end")
        .select("w_end", "est_distinct", "true_distinct")
        .orderBy("w_end")
    )


# ---------------------------------------------------------------------------
# P13: late materialization — the thin-probe / wide-fetch scan split.
# A selective predicate over NARROW columns runs first (the probe scan
# reads only doc_id/source/n_chars — at 100 TB that is a few percent of
# the bytes); the surviving ids then semi-join the WIDE scan, so the
# text payload is read only for matching rows' row groups. The single
# full-width scan with a pushed filter still DECODES the wide column
# for every row of every matching row group; splitting the scan bounds
# wide-column work by the survivor count. Same trade as the reference's
# two-phase spatial filter (P9) applied to payload width.


@register(
    "p13_late_materialization",
    oracle=r"""
    SELECT doc_id, source,
           CAST(n_chars AS BIGINT) AS n_chars,
           md5(text) AS text_md5,
           CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                AS BIGINT) AS n_tokens
    FROM documents
    WHERE source IN ('src3', 'src7') AND n_chars BETWEEN 150 AND 400
    ORDER BY doc_id
    """,
    tags=("P13", "scan", "late-materialization", "projection"),
)
def p13_late_materialization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter on the narrow columns first (probe scan: doc_id, source,
    n_chars only), broadcast-semi-join the survivors against the wide
    scan, and compute text digests/token counts for survivors alone.
    The oracle is the single-scan equivalent — identical rows, but the
    Spark plan's wide scan decodes text only for surviving row groups,
    which is the point at 100 TB payload widths."""
    docs = load(spark, sf_dir, "documents")
    probe = (
        docs.select("doc_id", "source", "n_chars")
        .where(
            F.col("source").isin("src3", "src7")
            & F.col("n_chars").between(150, 400)
        )
    )
    wide = docs.select("doc_id", "text")
    return (
        wide.join(F.broadcast(probe), "doc_id")
        .select(
            "doc_id",
            "source",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.md5("text").alias("text_md5"),
            tx.token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# T: LSH band-configuration sweep — the tuning table behind the recall
# curve. Same 16 min-hashes, three bandings (4×4, 8 bands × 2 rows,
# 2 bands × 8 rows); for every (config, true-Jaccard bin) the measured
# candidate recall sits next to the theoretical 1-(1-s^r)^b, so the
# knee of each S-curve is read straight off the driver-checked result.
# This is how banding is CHOSEN for a 100 TB dedup run: sweep configs
# on a slice against exact ground truth (the lossless prefix join),
# pick the knee that matches the target threshold, ship that config.
# Like the recall curve, the exact side prices as the quadratic join
# it audits — bench pins it to sf0.01.

_SWEEP_CONFIGS = ((4, 4), (2, 8), (8, 2))  # (band_rows r, n_bands b)


def _sweep_band_cols_sql(r: int, b: int, tag: str) -> str:
    cols = ",\n           ".join(
        "md5(concat_ws(','"
        + "".join(f", CAST(h{i * r + j} AS VARCHAR)" for j in range(r))
        + f")) AS band{i}"
        for i in range(b)
    )
    return f"bands_{tag} AS (SELECT doc_id,\n           {cols}\n    FROM sig)"


def _sweep_cand_sql(r: int, b: int, tag: str) -> str:
    joins = "\n        UNION ALL\n".join(
        f"        SELECT l.doc_id AS id_a, r.doc_id AS id_b"
        f" FROM bands_{tag} l JOIN bands_{tag} r"
        f" ON l.band{i} = r.band{i} AND l.doc_id < r.doc_id"
        for i in range(b)
    )
    return (
        f"cand_{tag} AS (\n        SELECT DISTINCT id_a, id_b FROM (\n"
        f"{joins}\n        )\n    )"
    )


def _pow_sql(base: str, n: int) -> str:
    return " * ".join([base] * n)


_SWEEP_BANDS_SQL = ",\n    ".join(
    _sweep_band_cols_sql(r, 16 // r, f"c{r}x{16 // r}")
    for r, _b in _SWEEP_CONFIGS
)
_SWEEP_CANDS_SQL = ",\n    ".join(
    _sweep_cand_sql(r, 16 // r, f"c{r}x{16 // r}")
    for r, _b in _SWEEP_CONFIGS
)
_SWEEP_HITS_SQL = " UNION ALL ".join(
    f"""SELECT '{r}x{16 // r}' AS config, e.bin,
               CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS hit
        FROM exact_pairs e LEFT JOIN cand_c{r}x{16 // r} c
          ON c.id_a = e.id_a AND c.id_b = e.id_b"""
    for r, _b in _SWEEP_CONFIGS
)
_SWEEP_EX_SQL = " UNION ALL ".join(
    f"""SELECT config, bin, n_exact, n_hit, s,
               1.0 - {_pow_sql(f"(1.0 - {_pow_sql('s', r)})", 16 // r)}
                   AS expected_recall
        FROM sc WHERE config = '{r}x{16 // r}' """
    for r, _b in _SWEEP_CONFIGS
)
_SWEEP_ORACLE = f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
              FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(count(*) AS BIGINT) AS common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    exact_pairs AS (
        SELECT id_a, id_b,
               CAST(floor(common / (sa.n_sh + sb.n_sh - common) * 20)
                    AS BIGINT) AS bin
        FROM common
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE common / (sa.n_sh + sb.n_sh - common) >= 0.05
    ),
    {_minhash_pair_ctes(None)},
    {_SWEEP_BANDS_SQL},
    {_SWEEP_CANDS_SQL},
    hits AS (
        {_SWEEP_HITS_SQL}
    ),
    curve AS (
        SELECT config, bin,
               CAST(count(*) AS BIGINT) AS n_exact,
               CAST(sum(hit) AS BIGINT) AS n_hit
        FROM hits GROUP BY 1, 2
    ),
    sc AS (SELECT config, bin, n_exact, n_hit,
                  least((bin + 0.5) / 20.0, 1.0) AS s
           FROM curve),
    ex AS (
        {_SWEEP_EX_SQL}
    )
    SELECT config, bin, n_exact, n_hit,
           CAST(n_hit AS DOUBLE) / n_exact AS recall,
           expected_recall
    FROM ex
    ORDER BY config, bin
    """


@register(
    "t_lsh_band_config_sweep",
    oracle=_SWEEP_ORACLE,
    tags=("text", "dedup", "lsh", "tuning", "audit", "llm-pipeline"),
)
def t_lsh_band_config_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured candidate recall per (banding config, 0.05-wide
    true-Jaccard bin) for 4×4 / 2×8 / 8×2 bandings of the same 16
    min-hashes, against the lossless prefix-filter exact join, with
    the theoretical S-curve at bin midpoints (explicit-multiply IEEE
    route — bit-identical cross-engine)."""
    docs = load(spark, sf_dir, "documents")
    # both frames feed all three config branches of ONE unioned action:
    # persist them or the τ=0.05 prefix-join verify (the dominant cost)
    # and the signature build re-execute per config (exchange reuse only
    # covers the shuffles, not the post-exchange verify work)
    inner = dd.jaccard_prefix_pairs(docs, "doc_id", threshold=0.05)
    exact = persist(inner.select(
        F.floor(F.col("jaccard") * 20).cast("bigint").alias("bin"),
        "id_a",
        "id_b",
    ))
    sigs = persist(dd.minhash_signatures(docs, "doc_id"))
    curves = []
    for r, b in _SWEEP_CONFIGS:
        tag = f"{r}x{b}"
        cands = dd.lsh_candidate_pairs(sigs, "doc_id", band_rows=r)
        hit = exact.join(
            cands.withColumn("hit", F.lit(1)), ["id_a", "id_b"], "left"
        ).select(
            F.lit(tag).alias("config"),
            "bin",
            F.coalesce(F.col("hit"), F.lit(0)).alias("hit"),
        )
        curve = hit.groupBy("config", "bin").agg(
            F.count("*").cast("bigint").alias("n_exact"),
            F.sum("hit").cast("bigint").alias("n_hit"),
        )
        s = F.least((F.col("bin") + F.lit(0.5)) / F.lit(20.0), F.lit(1.0))
        sr = s
        for _ in range(r - 1):
            sr = sr * s
        t = F.lit(1.0) - sr
        tb = t
        for _ in range(b - 1):
            tb = tb * t
        curves.append(
            curve.withColumn("s", s)
            .withColumn("expected_recall", F.lit(1.0) - tb)
            .select(
                "config",
                "bin",
                "n_exact",
                "n_hit",
                (F.col("n_hit").cast("double") / F.col("n_exact")).alias(
                    "recall"
                ),
                "expected_recall",
            )
        )
    out = curves[0]
    for c in curves[1:]:
        out = out.unionByName(c)
    return out.orderBy("config", "bin")


# ---------------------------------------------------------------------------
# DD: QUERY-DIRECTED multiprobe (Lv et al., VLDB 2007) as a registered,
# oracle-checked operator — the fixed-probe-budget variant the r9 100x
# rung showed is required at scale (flip-all probing grows with r and r
# grows with log2 N → 1.4x above linear; the T-budget restores
# sub-linear, SCALING.md). Per band, only the T bits with the smallest
# |plane margin| are flipped — the bits a true neighbor most likely
# disagrees on — so recall concentrates where it matters while probe
# volume stays b·(T+1) per vector. The oracle replicates the plane
# literals, fold order, band keys, margin ranking (ties by bit index =
# numpy stable argsort), asymmetric both-direction probing, and the
# exact cosine verify bit-for-bit.


from burst_db_spark.operators.similarity import (  # noqa: E402
    lsh_directed_multiprobe_oracle_sql as _directed_oracle_sql,
)


@register(
    "dd_embedding_nn_directed",
    oracle=_directed_oracle_sql(max_probe_bits=3),
    tags=("dedup", "embedding", "similarity", "lsh", "multiprobe",
          "query-directed"),
)
def dd_embedding_nn_directed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via margin-directed multiprobe LSH:
    8×4-bit bands, probe budget T=3 (flip the 3 most-uncertain bits per
    band), both-direction probing with pair normalization, exact cosine
    verify ≥ 0.4. Probe volume per vector is b·(T+1) — independent of
    the band width, the property that keeps the rung sub-linear at
    100x."""
    from burst_db_spark.operators import similarity as sim_ops

    emb = fan_out(load(spark, sf_dir, "embeddings"))
    return (
        sim_ops.lsh_near_dup_pairs_multiprobe(emb, max_probe_bits=3)
        .orderBy("id_a", "id_b")
    )

