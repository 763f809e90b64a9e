"""Round-15-era queries (added in build round 13) — the VERDICT r12
prescription plus new curation analytics:

- HIERARCHICAL codebook assignment (the knn_ivf_int8_funnel coarse-probe
  machinery wired into cell assignment, VERDICT r12 "What's wrong" #1):
  quantize the codebook into ~√k groups, probe the nprobe nearest group
  centers, argmin only over their member centroids — N·(√k + nprobe·√k)
  work instead of the flat argmin's k·N, which is the superlinear term
  when SemDeDup runs k ∝ N. The whole route (group seeds → membership →
  decimal group centers → probe → fine argmin) is deterministic
  relational algebra, so the oracle replays it end-to-end in DuckDB and
  the driver HASH-checks the machinery itself.
- Short-document substring dedup (VERDICT r12 #2): the sub-gram-width
  fallback re-expressed as a chunked Aho-Corasick multi-pattern scan
  (one mapInPandas pass, linear in N) instead of a broadcast
  nested-loop theta join; exercised here on a corpus AUGMENTED with
  deterministic short snippets so the path has hash evidence.
- Winsorized mean / MAD robust outliers: classic robust-quality-score
  aggregations for corpus QA, exact two-pass forms.
- Duplicated n-gram span fraction (Lee et al. 2022 "Deduplicating
  Training Data Makes Language Models Better", the ExactSubstr signal):
  per-document fraction of K-gram positions whose gram occurs elsewhere
  in the corpus.
- DoReMi-lite domain reweighting (Xie et al. 2023): unrolled
  exponentiated-gradient rounds over per-source excess-loss proxies —
  iterative training expressed as fixed relational rounds, hash-checked
  (the ep1/kmeans-unrolled playbook applied to mixture weights).

Reference parity: opera-adt/burst_db has no corpus layer — these extend
the LLM-pipeline surface (SURVEY.md "beyond the reference" mandate).

Cross-engine determinism: distances are ascending-dim folds; group
centers accumulate in DECIMAL(38,12); transcendentals round to 6
decimals on both engines; ties break on ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from burst_db_spark.catalog import load
from burst_db_spark.operators import similarity as sim
from burst_db_spark.registry import register
from burst_db_spark.streaming import drain

# -- Hierarchical (funnel) codebook assignment, oracle-checked -----------------

_HA_K = 96      # codebook size (>= sim.HIER_ASSIGN_THRESHOLD = 64)
_HA_G = 9       # isqrt(96) coarse groups
_HA_NPROBE = 3

_HA_H = "CAST(('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8)) AS BIGINT)"
_HA_GH = (
    "CAST(('0x' || substr(md5(CAST(cell AS VARCHAR)), 1, 8)) AS BIGINT)"
)


def _l2sq(a: str, b: str, dim: int = 64) -> str:
    return (
        f"list_reduce(list_transform(range(1, {dim + 1}), i -> "
        f"({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
    )


@register(
    "knn_hier_assign",
    oracle=f"""
    WITH e AS (
        SELECT vec_id AS id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    seeds AS (
        SELECT v AS cv, id AS sid, {_HA_H} AS h
        FROM e ORDER BY h, sid LIMIT {_HA_K}
    ),
    c0 AS (
        SELECT CAST(row_number() OVER (ORDER BY h, sid) AS INTEGER) AS cell,
               cv
        FROM seeds
    ),
    gseeds AS (
        SELECT cell AS scell, {_HA_GH} AS gh
        FROM c0 ORDER BY gh, scell LIMIT {_HA_G}
    ),
    g0 AS (
        SELECT CAST(row_number() OVER (ORDER BY gh, scell) AS INTEGER)
                   AS gid,
               scell
        FROM gseeds
    ),
    gvec AS (
        SELECT g0.gid, sc.cv AS sv
        FROM g0 JOIN c0 sc ON g0.scell = sc.cell
    ),
    gmem AS (
        SELECT cell, gid, cv FROM (
            SELECT c.cell, g.gid, c.cv,
                   {_l2sq("c.cv", "g.sv")} AS dist
            FROM c0 c CROSS JOIN gvec g
        ) QUALIFY row_number() OVER (
            PARTITION BY cell ORDER BY dist, gid) = 1
    ),
    gcent AS (
        SELECT gid, list(m ORDER BY dim) AS gc
        FROM (
            SELECT gid, dim,
                   CAST(sum(CAST(x AS DECIMAL(38, 12))) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE) AS m
            FROM (SELECT gid, unnest(cv) AS x,
                         unnest(range(1, 65)) AS dim
                  FROM gmem)
            GROUP BY gid, dim
        ) GROUP BY gid
    ),
    probe AS (
        SELECT id, gid FROM (
            SELECT e.id, g.gid, {_l2sq("e.v", "g.gc")} AS dist
            FROM e CROSS JOIN gcent g
        ) QUALIFY row_number() OVER (
            PARTITION BY id ORDER BY dist, gid) <= {_HA_NPROBE}
    ),
    fine AS (
        SELECT id, cell, dist FROM (
            SELECT e.id, m.cell, {_l2sq("e.v", "m.cv")} AS dist
            FROM probe p
            JOIN gmem m USING (gid)
            JOIN e ON e.id = p.id
        ) QUALIFY row_number() OVER (
            PARTITION BY id ORDER BY dist, cell) = 1
    )
    SELECT cell,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(min(id) AS BIGINT) AS min_id,
           CAST(max(id) AS BIGINT) AS max_id,
           CAST(sum(id) AS BIGINT) AS sum_id,
           CAST(sum(CAST(floor(dist * 1048576.0) AS BIGINT)) AS BIGINT)
               AS sum_dist_fx
    FROM fine GROUP BY cell
    """,
    tags=("knn", "ivf", "hierarchical", "funnel", "assignment",
          "embedding"),
)
def knn_hier_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The funnel assignment route hash-checked END-TO-END: a 96-cell
    given codebook (hash-seed vectors — the external-codebook form),
    coarse-quantized into 9 groups (seed rule on cell ids, membership
    by argmin, DECIMAL group-center means), each vector probing its 3
    nearest group centers and taking the fold-argmin over their member
    centroids. Per-cell fingerprint (count, id min/max/sum, fixed-point
    distance mass floor(dist·2^20) — floor on the identically-computed
    IEEE double has no tie-breaking rule, so no decimal-midpoint
    exposure exists) pins the full assignment, not a sample.

    This is the k ∝ N SemDeDup fix (VERDICT r12 #1): callers opting in
    via ``hier_threshold`` (the funnel is approximate and never engages
    implicitly — r13 ADVICE) route both ``assign_cells`` and the
    unrolled Lloyd trainer through this machinery, cutting the
    per-round assignment from k·N rows to a shuffle-free projection of
    N·(g + nprobe·k/g) distance folds."""
    emb = load(spark, sf_dir, "embeddings")
    h = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    seeds = (
        emb.select(
            F.col("embedding").alias("cv"),
            F.col("vec_id").alias("sid"),
            h.alias("h"),
        )
        .orderBy("h", "sid")
        .limit(_HA_K)
    )
    cents = seeds.withColumn(
        "cell", F.row_number().over(Window.orderBy("h", "sid"))
    ).select(
        "cell", F.transform("cv", lambda x: x.cast("double")).alias("cv")
    )
    groups_one = sim.hier_group_state(cents, _HA_G)
    # Optimization r14 (guide §2.2 — fan the compute-dense stage off the
    # single-file scan): the funnel's per-row distance folds are pure
    # CPU; without a repartition they run inside the one-partition
    # parquet scan task. Row-wise deterministic -> identical assignment.
    asg = sim.assign_cells_hier(
        emb.repartition(spark.sparkContext.defaultParallelism),
        groups_one,
        nprobe=_HA_NPROBE,
    )
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scored = asg.join(F.broadcast(cents), "cell").select(
        "cell",
        F.col("vec_id").alias("id"),
        sim._sqdist(v, F.col("cv")).alias("dist"),
    )
    return scored.groupBy("cell").agg(
        F.count("*").cast("bigint").alias("n_members"),
        F.min("id").cast("bigint").alias("min_id"),
        F.max("id").cast("bigint").alias("max_id"),
        F.sum("id").cast("bigint").alias("sum_id"),
        F.sum(F.floor(F.col("dist") * F.lit(1048576.0)).cast("bigint"))
        .cast("bigint")
        .alias("sum_dist_fx"),
    )


# -- Two-level funnel assignment, oracle-checked (VERDICT r13 #4) ---------------

_H2_G = 16       # level-1 groups (k^(2/3) sizing at k=96 rounds to 16-21)
_H2_G2 = 4       # level-2 super-groups
_H2_NPROBE2 = 2  # super-groups probed per vector
_H2_SH = "CAST(('0x' || substr(md5(CAST(gid AS VARCHAR)), 1, 8)) AS BIGINT)"


@register(
    "knn_hier2_assign",
    oracle=f"""
    WITH e AS (
        SELECT vec_id AS id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    seeds AS (
        SELECT v AS cv, id AS sid, {_HA_H} AS h
        FROM e ORDER BY h, sid LIMIT {_HA_K}
    ),
    c0 AS (
        SELECT CAST(row_number() OVER (ORDER BY h, sid) AS INTEGER) AS cell,
               cv
        FROM seeds
    ),
    gseeds AS (
        SELECT cell AS scell, {_HA_GH} AS gh
        FROM c0 ORDER BY gh, scell LIMIT {_H2_G}
    ),
    g0 AS (
        SELECT CAST(row_number() OVER (ORDER BY gh, scell) AS INTEGER)
                   AS gid,
               scell
        FROM gseeds
    ),
    gvec AS (
        SELECT g0.gid, sc.cv AS sv
        FROM g0 JOIN c0 sc ON g0.scell = sc.cell
    ),
    gmem AS (
        SELECT cell, gid, cv FROM (
            SELECT c.cell, g.gid, c.cv,
                   {_l2sq("c.cv", "g.sv")} AS dist
            FROM c0 c CROSS JOIN gvec g
        ) QUALIFY row_number() OVER (
            PARTITION BY cell ORDER BY dist, gid) = 1
    ),
    gcent AS (
        SELECT gid, list(m ORDER BY dim) AS gc
        FROM (
            SELECT gid, dim,
                   CAST(sum(CAST(x AS DECIMAL(38, 12))) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE) AS m
            FROM (SELECT gid, unnest(cv) AS x,
                         unnest(range(1, 65)) AS dim
                  FROM gmem)
            GROUP BY gid, dim
        ) GROUP BY gid
    ),
    sgseeds AS (
        SELECT gid AS sgid0, {_H2_SH} AS sh
        FROM gcent ORDER BY sh, sgid0 LIMIT {_H2_G2}
    ),
    sg0 AS (
        SELECT CAST(row_number() OVER (ORDER BY sh, sgid0) AS INTEGER)
                   AS sgid,
               sgid0
        FROM sgseeds
    ),
    sgvec AS (
        SELECT sg0.sgid, g.gc AS ssv
        FROM sg0 JOIN gcent g ON sg0.sgid0 = g.gid
    ),
    sgmem AS (
        SELECT gid, sgid FROM (
            SELECT g.gid, s.sgid,
                   {_l2sq("g.gc", "s.ssv")} AS dist
            FROM gcent g CROSS JOIN sgvec s
        ) QUALIFY row_number() OVER (
            PARTITION BY gid ORDER BY dist, sgid) = 1
    ),
    sgcent AS (
        SELECT sgid, list(m ORDER BY dim) AS sgc
        FROM (
            SELECT sgid, dim,
                   CAST(sum(CAST(x AS DECIMAL(38, 12))) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE) AS m
            FROM (SELECT m2.sgid, unnest(g.gc) AS x,
                         unnest(range(1, 65)) AS dim
                  FROM gcent g JOIN sgmem m2 USING (gid))
            GROUP BY sgid, dim
        ) GROUP BY sgid
    ),
    probe2 AS (
        SELECT id, sgid FROM (
            SELECT e.id, s.sgid, {_l2sq("e.v", "s.sgc")} AS dist
            FROM e CROSS JOIN sgcent s
        ) QUALIFY row_number() OVER (
            PARTITION BY id ORDER BY dist, sgid) <= {_H2_NPROBE2}
    ),
    gprobe AS (
        SELECT id, gid FROM (
            SELECT e.id, m.gid, {_l2sq("e.v", "g.gc")} AS dist
            FROM probe2 p
            JOIN sgmem m USING (sgid)
            JOIN gcent g ON g.gid = m.gid
            JOIN e ON e.id = p.id
        ) QUALIFY row_number() OVER (
            PARTITION BY id ORDER BY dist, gid) <= {_HA_NPROBE}
    ),
    fine AS (
        SELECT id, cell, dist FROM (
            SELECT e.id, mm.cell, {_l2sq("e.v", "mm.cv")} AS dist
            FROM gprobe p
            JOIN gmem mm USING (gid)
            JOIN e ON e.id = p.id
        ) QUALIFY row_number() OVER (
            PARTITION BY id ORDER BY dist, cell) = 1
    )
    SELECT cell,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(min(id) AS BIGINT) AS min_id,
           CAST(max(id) AS BIGINT) AS max_id,
           CAST(sum(id) AS BIGINT) AS sum_id,
           CAST(sum(CAST(floor(dist * 1048576.0) AS BIGINT)) AS BIGINT)
               AS sum_dist_fx
    FROM fine GROUP BY cell
    """,
    tags=("knn", "ivf", "hierarchical", "two-level", "funnel",
          "assignment", "embedding"),
)
def knn_hier2_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TWO-level funnel route hash-checked END-TO-END (VERDICT r13
    #4): the same 96-cell given codebook as knn_hier_assign, level-1
    grouped into {_H2_G} groups, the group centers level-2 grouped into
    {_H2_G2} super-groups (same seed rule on gid, same argmin
    membership, same DECIMAL(38,12) means — the construction recurses
    verbatim); each vector probes its {_H2_NPROBE2} nearest
    super-centers, folds distances over only those super-groups' member
    group centers to pick {_HA_NPROBE} gids, then fine-argmins their
    member cells. Per-cell fingerprint identical to knn_hier_assign's
    (fixed-point floor(dist·2^20) distance mass — no rounding route).

    This pins the N·k^(1/3) assignment
    (operators/similarity.hier_group_state2 / assign_cells_hier2) that
    kmeans_unrolled_stats routes through past HIER2_ASSIGN_THRESHOLD
    when the funnel is opted in — the r13 residual-superlinearity fix."""
    emb = load(spark, sf_dir, "embeddings")
    h = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    seeds = (
        emb.select(
            F.col("embedding").alias("cv"),
            F.col("vec_id").alias("sid"),
            h.alias("h"),
        )
        .orderBy("h", "sid")
        .limit(_HA_K)
    )
    cents = seeds.withColumn(
        "cell", F.row_number().over(Window.orderBy("h", "sid"))
    ).select(
        "cell", F.transform("cv", lambda x: x.cast("double")).alias("cv")
    )
    state2 = sim.hier_group_state2(cents, _H2_G, _H2_G2)
    # fan-out as in knn_hier_assign (guide §2.2): row-wise deterministic
    # distance folds, identical assignment on any partitioning
    asg = sim.assign_cells_hier2(
        emb.repartition(spark.sparkContext.defaultParallelism),
        state2,
        nprobe2=_H2_NPROBE2,
        nprobe=_HA_NPROBE,
    )
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scored = asg.join(F.broadcast(cents), "cell").select(
        "cell",
        F.col("vec_id").alias("id"),
        sim._sqdist(v, F.col("cv")).alias("dist"),
    )
    return scored.groupBy("cell").agg(
        F.count("*").cast("bigint").alias("n_members"),
        F.min("id").cast("bigint").alias("min_id"),
        F.max("id").cast("bigint").alias("max_id"),
        F.sum("id").cast("bigint").alias("sum_id"),
        F.sum(F.floor(F.col("dist") * F.lit(1048576.0)).cast("bigint"))
        .cast("bigint")
        .alias("sum_dist_fx"),
    )


# -- Short-doc substring dedup via the Aho-Corasick pass -----------------------

_SS_OFF = 1_000_000


@register(
    "t_substring_dedup_shorts",
    oracle=f"""
    WITH aug AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {_SS_OFF} AS doc_id, substr(text, 5, 8) AS text
        FROM documents WHERE doc_id % 7 = 0 AND length(text) >= 12
    )
    SELECT a.doc_id,
           CAST(min(b.doc_id) AS BIGINT) AS contained_in_min,
           CAST(count(DISTINCT b.doc_id) AS BIGINT) AS n_containers
    FROM aug a JOIN aug b
      ON a.doc_id <> b.doc_id
     AND length(a.text) > 0
     AND length(a.text) < length(b.text)
     AND position(a.text IN b.text) > 0
    WHERE a.doc_id > {_SS_OFF}
    GROUP BY a.doc_id
    """,
    tags=("T", "dedup", "substring", "short-docs", "aho-corasick",
          "llm-pipeline"),
)
def t_substring_dedup_shorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sub-gram-width fallback of the substring-containment dedup,
    exercised with hash evidence: the corpus is AUGMENTED with a
    deterministic 8-char snippet of every 7th document (shorter than
    the K=12 gram width, so it cannot anchor), and those snippets are
    resolved by the chunked Aho-Corasick multi-pattern scan
    (operators/multipattern.py) — ONE linear mapInPandas pass per 64k
    patterns instead of the |shorts|·N broadcast nested-loop join this
    replaced (VERDICT r12 #2; plan pinned BNLJ-free in
    tests/test_plan_shapes.py). The oracle runs the quadratic
    theta-join this plan avoids.

    Contract notes (r13 ADVICE): empty patterns are excluded by
    definition on both paths (length(a.text) > 0 in the oracle,
    len > 0 in the shorts filter), and building this DataFrame is
    EAGER on the shorts side — the chunk drain scans documents at
    plan-construction time, so EXPLAIN-only callers pay one scan."""
    from burst_db_spark.queries.round8 import contained_doc_ids

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    snippets = docs.where(
        (F.col("doc_id") % 7 == 0) & (F.length("text") >= 12)
    ).select(
        (F.col("doc_id") + F.lit(_SS_OFF)).alias("doc_id"),
        F.substring("text", 5, 8).alias("text"),
    )
    aug = docs.unionByName(snippets)
    hits = contained_doc_ids(aug)
    return hits.where(F.col("doc_id") > _SS_OFF)


# -- Robust aggregations: winsorized mean, MAD outliers ------------------------


@register(
    "a47_winsorized_mean",
    oracle="""
    WITH r AS (
        SELECT event_type, value, event_id,
               CAST(row_number() OVER (PARTITION BY event_type
                                       ORDER BY value, event_id) AS BIGINT)
                   AS rn,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM events
    ),
    b AS (
        SELECT event_type, any_value(n) AS n,
               max(CASE WHEN rn <= n // 10 + 1 THEN value END) AS lo,
               min(CASE WHEN rn >= n - n // 10 THEN value END) AS hi
        FROM r GROUP BY event_type
    )
    SELECT r.event_type, b.n,
           b.lo AS lo, b.hi AS hi,
           CAST(sum(CAST(floor(least(greatest(r.value, b.lo), b.hi)
                               * 1048576.0) AS BIGINT)) AS BIGINT)
               AS wsum_fx
    FROM r JOIN b USING (event_type)
    GROUP BY r.event_type, b.n, b.lo, b.hi
    """,
    tags=("aggregate", "robust", "winsorize", "order-statistics"),
)
def a47_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (10%-clamped) value mass per event type — the robust
    mean that survives heavy-tailed junk. Clamp bounds are ORDER
    STATISTICS (values at ranks floor(n/10)+1 and n-floor(n/10), ties
    broken by event_id), not interpolated quantiles: picked doubles are
    actual data values, so both engines clamp identically and lo/hi are
    emitted RAW (bit-identical, no rounding). The clamped mass hashes
    as floor(x·2^20) bigints summed: the ·2^20 multiply is an exact
    power-of-two scale and floor has NO tie-breaking rule, so the
    surface is engine-invariant by construction (r13 post-mortem:
    round(double,6)→DECIMAL diverges at exact 6dp midpoints — HALF_UP
    vs half-even). wsum_fx is in 2^-20 value units.

    Scale shape: one rank window per event_type (the same shuffle an
    exact quantile needs) + one rollup; no second scan of the data."""
    ev = load(spark, sf_dir, "events")
    wt = Window.partitionBy("event_type").orderBy("value", "event_id")
    wp = Window.partitionBy("event_type")
    r = ev.select(
        "event_type",
        "value",
        "event_id",
        F.row_number().over(wt).cast("bigint").alias("rn"),
        F.count("*").over(wp).cast("bigint").alias("n"),
    )
    b = r.groupBy("event_type").agg(
        F.any_value("n").alias("n"),
        F.max(
            F.when(F.col("rn") <= F.floor(F.col("n") / 10) + 1, F.col("value"))
        ).alias("lo"),
        F.min(
            F.when(
                F.col("rn") >= F.col("n") - F.floor(F.col("n") / 10),
                F.col("value"),
            )
        ).alias("hi"),
    )
    clamped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        r.drop("n")
        .join(F.broadcast(b), "event_type")
        .groupBy("event_type", "n", "lo", "hi")
        .agg(
            F.sum(F.floor(clamped * F.lit(1048576.0)).cast("bigint"))
            .cast("bigint")
            .alias("wsum_fx")
        )
        .select("event_type", "n", "lo", "hi", "wsum_fx")
    )


@register(
    "a48_mad_outliers",
    oracle="""
    WITH med AS (
        SELECT source, median(n_chars) AS med
        FROM documents GROUP BY source
    ),
    dev AS (
        SELECT d.source, d.n_chars, m.med,
               abs(d.n_chars - m.med) AS ad
        FROM documents d JOIN med m USING (source)
    ),
    mad AS (
        SELECT source, any_value(med) AS med, median(ad) AS mad
        FROM dev GROUP BY source
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(2 * m.med) AS BIGINT) AS med2,
           CAST(round(4 * m.mad) AS BIGINT) AS mad4,
           CAST(sum(CASE WHEN 6745 * CAST(round(4 * abs(d.n_chars - m.med))
                                          AS BIGINT)
                              > 35000 * CAST(round(4 * m.mad) AS BIGINT)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM documents d JOIN mad m USING (source)
    GROUP BY d.source, m.med, m.mad
    """,
    tags=("aggregate", "robust", "mad", "outliers"),
)
def a48_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust document-length outliers per source via the MAD modified
    z-score (Iglewicz & Hoaglin): |0.6745·(x−med)| > 3.5·MAD. Lengths
    are ints, so the exact interpolated median is a multiple of 0.5 and
    the MAD a multiple of 0.25 — 2·med and 4·MAD are EXACT integers,
    and the outlier test cross-multiplies to the all-integer
    6745·(4|x−med|) > 35000·(4·MAD): no float comparison anywhere near
    the decision boundary, both engines count identically.

    Scale shape: two grouped exact medians (two rank-free sort-agg
    passes over the same source partitioning) + one rollup."""
    docs = load(spark, sf_dir, "documents")
    med = docs.groupBy("source").agg(F.median("n_chars").alias("med"))
    dev = docs.join(F.broadcast(med), "source").withColumn(
        "ad", F.abs(F.col("n_chars") - F.col("med"))
    )
    mad = dev.groupBy("source").agg(
        F.any_value("med").alias("med"), F.median("ad").alias("mad")
    )
    j = docs.join(F.broadcast(mad), "source")
    is_out = (
        6745 * F.round(4 * F.abs(F.col("n_chars") - F.col("med"))).cast("bigint")
        > 35000 * F.round(4 * F.col("mad")).cast("bigint")
    )
    return j.groupBy("source", "med", "mad").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(is_out, 1).otherwise(0)).cast("bigint").alias(
            "n_outliers"
        ),
    ).select(
        "source",
        "n",
        F.round(2 * F.col("med")).cast("bigint").alias("med2"),
        F.round(4 * F.col("mad")).cast("bigint").alias("mad4"),
        "n_outliers",
    )


# -- Duplicated n-gram span fraction (Lee et al. 2022 ExactSubstr signal) ------

_NG_K = 8  # token n-gram width

_NG_TOKS = r"string_split_regex(lower(trim(text)), '\s+')"


@register(
    "t_dup_ngram_spans",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, list_filter({_NG_TOKS}, w -> len(w) > 0) AS t
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t) - {_NG_K} + 2),
                      i -> md5(array_to_string(t[i:i + {_NG_K} - 1], ' '))))
                   AS g
        FROM toks WHERE len(t) >= {_NG_K}
    ),
    freq AS (
        SELECT g, CAST(count(*) AS BIGINT) AS c FROM grams GROUP BY g
    ),
    per_doc AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN f.c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup
        FROM grams JOIN freq f USING (g)
        GROUP BY doc_id
    )
    SELECT doc_id, n_grams, n_dup,
           round(CAST(n_dup AS DOUBLE) / CAST(n_grams AS DOUBLE), 6)
               AS dup_frac6
    FROM per_doc WHERE n_dup > 0
    """,
    tags=("T", "dedup", "ngram-spans", "exact-substr", "llm-pipeline"),
)
def t_dup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated n-gram mass — the ExactSubstr signal of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better") at token-8-gram granularity: the fraction of a document's
    gram positions whose gram occurs >= 2 times in the whole corpus.
    Those positions are exactly the spans ExactSubstr would cut; the
    per-doc fraction is the dedup-pressure score curators threshold on.

    Scale shape: grams explode linearly (one md5 per position — the
    gram string never leaves the projection), ONE groupBy on the gram
    key (the same shuffle a suffix-array shard build pays), one join
    back and a per-doc rollup. No pair join anywhere."""
    from burst_db_spark.operators import text as tx

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(tx.tokens(F.col("text")), lambda w: F.length(w) > 0).alias(
            "t"
        ),
    ).where(F.size("t") >= _NG_K)
    # Optimization r14 (guide §2.3/§2.4 — the t_substring_dedup wave-1
    # device): corpus frequency via count() OVER (PARTITION BY g)
    # replaces aggregate + join-back — the tokenize+md5 gram stream is
    # now computed ONCE and crosses ONE exchange instead of two; the
    # per-row c is the same integer the join attached. The compact doc
    # rows additionally fan out across cores before the compute-dense
    # gram projection (single-file scan).
    from pyspark.sql.window import Window as _W

    grams = toks.repartition(
        spark.sparkContext.defaultParallelism
    ).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - _NG_K + 1),
                lambda i: F.md5(
                    F.concat_ws(" ", F.slice(F.col("t"), i, _NG_K))
                ),
            )
        ).alias("g"),
    )
    c = F.count("*").over(_W.partitionBy("g")).cast("bigint")
    per_doc = (
        grams.withColumn("c", c)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("c") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup"),
        )
    )
    return per_doc.where(F.col("n_dup") > 0).select(
        "doc_id",
        "n_grams",
        "n_dup",
        F.round(
            F.col("n_dup").cast("double") / F.col("n_grams").cast("double"), 6
        ).alias("dup_frac6"),
    )


# -- DoReMi-lite: unrolled exponentiated-gradient domain reweighting -----------

_DM_ROUNDS = 5
_DM_ETA = "1.0"     # EG step size (literal on both engines)
_DM_SMOOTH = "0.01"  # uniform smoothing mass


def _doremi_round_cte(r: int) -> str:
    """One EG round as a single CTE referencing the previous round
    EXACTLY ONCE — the reductions (⟨w,ℓ⟩ and the normalizer) are
    frame-wide WINDOW sums, not separate aggregating CTEs, because a
    round that references its predecessor twice re-expands the whole
    chain 2^rounds times under CTE inlining (both engines)."""
    return f"""
    w{r} AS (
        SELECT source, loss6, k,
               round((1.0 - {_DM_SMOOTH}) * (u / z) + {_DM_SMOOTH} / k, 6)
                   AS w
        FROM (
            SELECT source, loss6, k, u,
                   CAST(sum(CAST(u AS DECIMAL(18, 6))) OVER ()
                        AS DOUBLE) AS z
            FROM (
                SELECT source, loss6, k,
                       round(w * exp({_DM_ETA} * (loss6 - dot)), 6) AS u
                FROM (
                    SELECT source, loss6, k, w,
                           CAST(sum(CAST(w AS DECIMAL(18, 6))
                                    * CAST(loss6 AS DECIMAL(18, 6)))
                                OVER () AS DOUBLE) AS dot
                    FROM w{r - 1}
                )
            )
        )
    )"""


@register(
    "t_doremi_weights",
    oracle=f"""
    WITH stats AS (
        SELECT source,
               CAST(sum(len({_NG_TOKS})) AS BIGINT) AS toks,
               CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY source
    ),
    losses AS (
        SELECT source,
               round((CAST(toks AS DOUBLE) / CAST(n AS DOUBLE))
                     / max(CAST(toks AS DOUBLE) / CAST(n AS DOUBLE))
                           OVER (), 6) AS loss6,
               CAST(count(*) OVER () AS DOUBLE) AS k
        FROM stats
    ),
    w0 AS (
        SELECT source, loss6, k, round(1.0 / k, 6) AS w FROM losses
    ),
    {",".join(_doremi_round_cte(r) for r in range(1, _DM_ROUNDS + 1))}
    {" UNION ALL ".join(
        f"SELECT CAST({r} AS INTEGER) AS round, source, w AS weight6 "
        f"FROM w{r}" for r in range(1, _DM_ROUNDS + 1)
    )}
    """,
    tags=("T", "doremi", "domain-mixture", "exponentiated-gradient",
          "unrolled", "llm-pipeline"),
)
def t_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain mixture weights (Xie et al. 2023), the EG
    dynamics unrolled into fixed relational rounds and hash-checked
    (the ep1/kmeans-unrolled playbook applied to mixture training): per
    round w ∝ w·exp(η·(ℓ − ⟨w,ℓ⟩)), renormalized and mixed with uniform
    smoothing. The per-domain "excess loss" proxy is a fixed data
    statistic (max-normalized mean tokens/doc — no neural proxy model
    in a SQL engine, documented honestly); the EG update,
    normalization, and smoothing are the paper's.

    Determinism AND plan shape: weights live on a 6dp grid (rounded
    after every transcendental); the two per-round reductions are
    order-free DECIMAL sums computed as frame-wide WINDOW aggregates so
    each round references its predecessor exactly once — a round that
    reads the previous frame twice re-expands the lineage 2^rounds
    times (measured: the two-reference form never finished at sf0.01;
    this one runs in seconds). The whole training loop costs one corpus
    scan + k-row (k = #domains) algebra."""
    docs = load(spark, sf_dir, "documents")
    from burst_db_spark.operators import text as tx

    stats = docs.groupBy("source").agg(
        F.sum(F.size(tx.tokens(F.col("text")))).cast("bigint").alias("toks"),
        F.count("*").cast("bigint").alias("n"),
    )
    wall = Window.partitionBy()
    avg = F.col("toks").cast("double") / F.col("n").cast("double")
    losses = stats.select(
        "source",
        F.round(avg / F.max(avg).over(wall), 6).alias("loss6"),
        F.count("*").over(wall).cast("double").alias("k"),
    )
    eta, sm = float(_DM_ETA), float(_DM_SMOOTH)
    w = losses.withColumn("w", F.round(1.0 / F.col("k"), 6))
    outs = []
    for r in range(1, _DM_ROUNDS + 1):
        dot = (
            F.sum(
                F.col("w").cast("decimal(18,6)")
                * F.col("loss6").cast("decimal(18,6)")
            )
            .over(wall)
            .cast("double")
        )
        w = w.withColumn("dot", dot).withColumn(
            "u",
            F.round(
                F.col("w") * F.exp(eta * (F.col("loss6") - F.col("dot"))), 6
            ),
        )
        z = F.sum(F.col("u").cast("decimal(18,6)")).over(wall).cast("double")
        w = (
            w.withColumn("z", z)
            .select(
                "source",
                "loss6",
                "k",
                F.round(
                    (1.0 - sm) * (F.col("u") / F.col("z")) + sm / F.col("k"),
                    6,
                ).alias("w"),
            )
        )
        outs.append(
            w.select(
                F.lit(r).cast("int").alias("round"),
                "source",
                F.col("w").alias("weight6"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# -- Curve-sorted sink roundtrip -----------------------------------------------


@register(
    "o8_curve_sorted_roundtrip",
    oracle="""
    SELECT tx, ty,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(p_partkey) AS BIGINT) AS key_sum
    FROM (
        SELECT p_partkey,
               CAST(('0x' || substr(md5(CAST(p_partkey AS VARCHAR)), 1, 8))
                    AS BIGINT) % 4 AS tx,
               CAST(('0x' || substr(md5(CAST(p_partkey AS VARCHAR)), 9, 8))
                    AS BIGINT) % 4 AS ty
        FROM part
    ) GROUP BY tx, ty
    """,
    tags=("layout", "hilbert", "sink", "roundtrip"),
)
def o8_curve_sorted_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sinks.write_curve_sorted end-to-end: derive deterministic (x, y)
    points from part keys, persist HILBERT-clustered parquet (range
    exchange on the curve code + in-partition sort), read the layout
    back and rollup per coarse tile. The oracle computes the same
    rollup from the source table directly — a curve sort must reorder,
    never alter, so the tile fingerprints (count + key sum) hash-match
    iff the sink is content-preserving. Row-group pruning quality for
    this layout is pinned separately in tests/test_layout_skipping.py
    (hilbert 4/16 candidate row groups vs morton 7/16, shuffled
    16/16)."""
    from burst_db_spark.queries.slayer import _tmpdir
    from burst_db_spark.sinks import write_curve_sorted

    part = load(spark, sf_dir, "part").select("p_partkey")
    hx = F.conv(
        F.substring(F.md5(F.col("p_partkey").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    hy = F.conv(
        F.substring(F.md5(F.col("p_partkey").cast("string")), 9, 8), 16, 10
    ).cast("bigint")
    pts = part.select(
        "p_partkey",
        (hx % (1 << 20)).cast("double").alias("x"),
        (hy % (1 << 20)).cast("double").alias("y"),
        (hx % 4).alias("tx"),
        (hy % 4).alias("ty"),
    )
    out = _tmpdir("o8_hilbert")
    write_curve_sorted(
        pts, out, "x", "y", 0.0, float(1 << 20), curve="hilbert", n_files=4
    )
    back = spark.read.parquet(out)
    return back.groupBy("tx", "ty").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("p_partkey").cast("bigint").alias("key_sum"),
    )


# -- Relational Naive Bayes: domain-separability confusion audit ---------------

_NB_B = 256  # hashed token buckets (vocabulary size of the model)

_NB_BUCKET = (
    "CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) % " + str(_NB_B)
)


@register(
    "t_nb_domain_confusion",
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
    pred AS (
        SELECT doc_id, true_source, cand AS pred_source
        FROM scores
        QUALIFY row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, cand) = 1
    )
    SELECT true_source, pred_source, CAST(count(*) AS BIGINT) AS n
    FROM pred GROUP BY true_source, pred_source
    """,
    tags=("T", "naive-bayes", "domain", "classifier", "confusion",
          "llm-pipeline"),
)
def t_nb_domain_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-separability audit via a multinomial Naive Bayes
    classifier trained RELATIONALLY: hashed-token-bucket counts per
    source (add-1 smoothing over a {_NB_B}-bucket vocabulary), log
    priors from source sizes, every document scored against all
    sources, argmax prediction, and the (true, predicted) confusion
    rollup. The whole "train a model" step is two groupBys — the same
    pattern a 100 TB domain tagger uses (model = broadcast k×B counts,
    scoring = one join on the bucket key).

    Determinism: per-bucket log-likelihoods and priors quantize as
    floor(ln·2^20) bigints (floor has no tie-breaking rule — no
    decimal-midpoint exposure, the r13 failure class); per-(doc,
    source) evidence is an exact integer sum of n_db·ll_fx
    (order-free), argmax ties break on source name — exact bigint
    comparison, so predictions are engine-identical."""
    from burst_db_spark.operators import text as tx

    docs = load(spark, sf_dir, "documents")
    # fan the tokenize+md5 explode across all cores (doc_shingles
    # device; r14, guide §2 — the scan is one small file)
    n_parts = spark.sparkContext.defaultParallelism
    tb = docs.repartition(n_parts).select(
        "doc_id",
        "source",
        F.explode(
            F.filter(tx.tokens(F.col("text")), lambda w: F.length(w) > 0)
        ).alias("term"),
    ).select(
        "doc_id",
        "source",
        (
            F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast("bigint")
            % _NB_B
        ).alias("b"),
    )
    # Optimization r14 (guide §2.3): `db` is the only consumer of the
    # tokenize+md5 explode; the model's (source, b) counts are the SAME
    # integers re-aggregated from db's per-doc counts (source is
    # functionally determined by doc_id), so the corpus is tokenized
    # ONCE instead of twice. Exact bigint sums — results unchanged; the
    # oracle still spells both groupBys from the token stream.
    db = tb.groupBy("doc_id", "b").agg(
        F.any_value("source").alias("true_source"),
        F.count("*").cast("bigint").alias("n_db"),
    ).persist()
    model = db.groupBy(F.col("true_source").alias("source"), "b").agg(
        F.sum("n_db").cast("bigint").alias("c_sb")
    )
    totals = model.groupBy("source").agg(
        F.sum("c_sb").cast("bigint").alias("c_s")
    )
    ll = model.join(F.broadcast(totals), "source").select(
        "source",
        "b",
        F.floor(
            F.log(
                (F.col("c_sb").cast("double") + 1.0)
                / (F.col("c_s").cast("double") + float(_NB_B))
            )
            * F.lit(1048576.0)
        )
        .cast("bigint")
        .alias("ll_fx"),
    )
    n_total = docs.agg(F.count("*").cast("double").alias("nt"))
    priors = (
        docs.groupBy("source")
        .agg(F.count("*").cast("double").alias("nd"))
        .crossJoin(F.broadcast(n_total))
        .select(
            F.col("source").alias("psource"),
            F.floor(
                F.log(F.col("nd") / F.col("nt")) * F.lit(1048576.0)
            )
            .cast("bigint")
            .alias("lp_fx"),
        )
    )
    contrib = F.col("n_db") * F.col("ll_fx")
    scores = (
        db.join(F.broadcast(ll), "b")
        .join(F.broadcast(priors), F.col("source") == F.col("psource"))
        .groupBy("doc_id", "source")
        .agg(
            F.any_value("true_source").alias("true_source"),
            (
                F.sum(contrib).cast("bigint")
                + F.any_value("lp_fx").cast("bigint")
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("source")
    )
    pred = (
        scores.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("true_source", F.col("source").alias("pred_source"))
    )
    return pred.groupBy("true_source", "pred_source").agg(
        F.count("*").cast("bigint").alias("n")
    )


# -- Moore-Lewis cross-entropy-difference data selection ------------------------

_ML_LANG = "de"   # the in-domain slice
_ML_TOPK = 50


@register(
    "t_moore_lewis_select",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, list_filter({_NG_TOKS}, w -> len(w) > 0) AS t
        FROM documents
    ),
    bg AS (
        SELECT doc_id, lang, t[i] AS w1, t[i + 1] AS w2
        FROM t, unnest(range(1, len(t))) AS r(i)
        WHERE len(t) >= 2
    ),
    uni_g AS (
        SELECT w1 AS w, CAST(count(*) AS BIGINT) AS c1
        FROM bg GROUP BY w1
    ),
    v_g AS (SELECT CAST(count(*) AS BIGINT) AS v
            FROM (SELECT DISTINCT unnest(t) FROM t)),
    bi_g AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
             FROM bg GROUP BY w1, w2),
    bg_in AS (SELECT * FROM bg WHERE lang = '{_ML_LANG}'),
    uni_i AS (
        SELECT w1 AS w, CAST(count(*) AS BIGINT) AS c1
        FROM bg_in GROUP BY w1
    ),
    v_i AS (SELECT CAST(count(*) AS BIGINT) AS v
            FROM (SELECT DISTINCT unnest(t) FROM t WHERE lang = '{_ML_LANG}')),
    bi_i AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
             FROM bg_in GROUP BY w1, w2),
    scored AS (
        SELECT b.doc_id,
               CAST(floor(ln(CAST(COALESCE(bi.c12, 0) + 1 AS DOUBLE)
                             / CAST(COALESCE(ui.c1, 0)
                                    + (SELECT v FROM v_i) AS DOUBLE))
                          * 1048576.0) AS BIGINT) AS lp_in_fx,
               CAST(floor(ln(CAST(bg2.c12 + 1 AS DOUBLE)
                             / CAST(ug.c1 + (SELECT v FROM v_g) AS DOUBLE))
                          * 1048576.0) AS BIGINT) AS lp_gen_fx
        FROM bg b
        LEFT JOIN bi_i bi ON b.w1 = bi.w1 AND b.w2 = bi.w2
        LEFT JOIN uni_i ui ON b.w1 = ui.w
        JOIN bi_g bg2 ON b.w1 = bg2.w1 AND b.w2 = bg2.w2
        JOIN uni_g ug ON b.w1 = ug.w
        WHERE b.lang <> '{_ML_LANG}'
    ),
    per_doc AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum(lp_in_fx) AS BIGINT) AS s_in,
               CAST(sum(lp_gen_fx) AS BIGINT) AS s_gen
        FROM scored GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams,
           CAST((s_gen - s_in) // n_bigrams AS BIGINT) AS ce_diff_fx
    FROM per_doc
    ORDER BY ce_diff_fx, doc_id LIMIT {_ML_TOPK}
    """,
    tags=("T", "moore-lewis", "selection", "cross-entropy",
          "llm-pipeline"),
)
def t_moore_lewis_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moore-Lewis (2010) intelligent data selection: score every
    OUT-of-domain document by cross-entropy difference
    H_in(doc) − H_gen(doc) under two add-1-smoothed bigram LMs — one
    trained on the in-domain slice (lang='{_ML_LANG}'), one on the whole
    corpus — and keep the top-{_ML_TOPK} most in-domain-like docs. The
    classic cheap alternative to DSIR's hashed importance ratios
    (t_dsir_importance), using real conditional bigram models instead
    of unigram bucket frequencies.

    Determinism: per-bigram log-probs quantize as floor(ln·2^20)
    bigints then bigint-sum per doc (order-free; floor has no
    tie-breaking — no decimal-midpoint exposure, the r13 failure
    class); the final per-token difference is one integer division
    (`div`/`//` both truncate toward zero); rank ties on doc_id.

    Scale shape: both "models" are the same two groupBys any bigram LM
    costs; scoring is two hash joins on the bigram key. The in-domain
    model rides broadcast (in-domain corpora are small by definition —
    that is the Moore-Lewis setting)."""
    from burst_db_spark.operators import text as tx

    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "lang",
        F.filter(tx.tokens(F.col("text")), lambda w: F.length(w) > 0).alias(
            "t"
        ),
    )
    tc = F.col("t")
    pairs = F.when(
        F.size(tc) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(tc) - 2),
            lambda i: F.struct(
                F.get(tc, i).alias("w1"), F.get(tc, i + 1).alias("w2")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bg = t.select("doc_id", "lang", F.explode(pairs).alias("p")).select(
        "doc_id", "lang", "p.w1", "p.w2"
    )
    uni_g = bg.groupBy("w1").agg(F.count("*").cast("bigint").alias("c1_g"))
    v_g = (
        t.select(F.explode("t").alias("w"))
        .agg(F.countDistinct("w").cast("bigint").alias("v_g"))
    )
    bi_g = bg.groupBy("w1", "w2").agg(
        F.count("*").cast("bigint").alias("c12_g")
    )
    bg_in = bg.where(F.col("lang") == _ML_LANG)
    uni_i = bg_in.groupBy("w1").agg(
        F.count("*").cast("bigint").alias("c1_i")
    )
    v_i = (
        t.where(F.col("lang") == _ML_LANG)
        .select(F.explode("t").alias("w"))
        .agg(F.countDistinct("w").cast("bigint").alias("v_i"))
    )
    bi_i = bg_in.groupBy("w1", "w2").agg(
        F.count("*").cast("bigint").alias("c12_i")
    )
    pool = bg.where(F.col("lang") != _ML_LANG)
    scored = (
        pool.join(F.broadcast(bi_i), ["w1", "w2"], "left")
        .join(F.broadcast(uni_i), "w1", "left")
        .join(bi_g, ["w1", "w2"])
        .join(uni_g, "w1")
        .crossJoin(F.broadcast(v_i))
        .crossJoin(F.broadcast(v_g))
        .select(
            "doc_id",
            F.floor(
                F.log(
                    (F.coalesce(F.col("c12_i"), F.lit(0)) + 1).cast("double")
                    / (
                        F.coalesce(F.col("c1_i"), F.lit(0)) + F.col("v_i")
                    ).cast("double")
                )
                * F.lit(1048576.0)
            )
            .cast("bigint")
            .alias("lp_in_fx"),
            F.floor(
                F.log(
                    (F.col("c12_g") + 1).cast("double")
                    / (F.col("c1_g") + F.col("v_g")).cast("double")
                )
                * F.lit(1048576.0)
            )
            .cast("bigint")
            .alias("lp_gen_fx"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.sum("lp_in_fx").cast("bigint").alias("s_in"),
        F.sum("lp_gen_fx").cast("bigint").alias("s_gen"),
    )
    return (
        per_doc.select(
            "doc_id",
            "n_bigrams",
            F.expr("(s_gen - s_in) div n_bigrams")
            .cast("bigint")
            .alias("ce_diff_fx"),
        )
        .orderBy("ce_diff_fx", "doc_id")
        .limit(_ML_TOPK)
    )


# -- HITS hubs/authorities, all-integer unrolled --------------------------------

_HITS_TOPK = 25


@register(
    "g5_hits_unrolled",
    oracle=f"""
    WITH edges AS (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
               's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    h1 AS (
        SELECT src, CAST(count(*) AS BIGINT) AS h FROM edges GROUP BY src
    ),
    a1 AS (
        SELECT dst, CAST(sum(h) AS BIGINT) AS a
        FROM edges JOIN h1 USING (src) GROUP BY dst
    ),
    h2 AS (
        SELECT src, CAST(sum(a) AS BIGINT) AS h
        FROM edges JOIN a1 USING (dst) GROUP BY src
    ),
    a2 AS (
        SELECT dst, CAST(sum(h) AS BIGINT) AS a
        FROM edges JOIN h2 USING (src) GROUP BY dst
    ),
    hubs AS (
        SELECT 'hub' AS role, src AS id,
               CAST((h * 1048576) // (SELECT max(h) FROM h2) AS BIGINT)
                   AS score_fx,
               CAST(h AS BIGINT) AS mass
        FROM h2 ORDER BY h DESC, src LIMIT {_HITS_TOPK}
    ),
    auths AS (
        SELECT 'authority' AS role, dst AS id,
               CAST((a * 1048576) // (SELECT max(a) FROM a2) AS BIGINT)
                   AS score_fx,
               CAST(a AS BIGINT) AS mass
        FROM a2 ORDER BY a DESC, dst LIMIT {_HITS_TOPK}
    )
    SELECT * FROM hubs UNION ALL SELECT * FROM auths
    """,
    tags=("graph", "hits", "hubs-authorities", "iterative", "unrolled"),
)
def g5_hits_unrolled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg 1999) hubs/authorities over the
    customer→supplier purchase graph, TWO unrolled mutual-reinforcement
    rounds. The trick that makes the iteration hash-exact with no
    ordered folds: starting from a≡1, every update is an INTEGER sum
    (h₁ = outdeg, a₁ = Σh₁, h₂ = Σa₁, a₂ = Σh₂ — bigint throughout,
    shuffle-order-free), and normalization happens ONCE at the end —
    as the EXACT integer (mass·2^20) div max_mass (round-14 midpoint
    audit: the old round(h/mx, 6) had a pre-image within 1e-9 of a 6dp
    midpoint at sf0.01 — tests/test_midpoint_property.py now forbids
    that class). Contrast
    pagerank's double-valued rounds, which need the two-level
    source-ordered fold for bit parity.

    Scale shape: each half-round is one edges⋈scores hash join + one
    groupBy — the same bounded shuffle pair as a PageRank step; scores
    are node-sized, top-k is TakeOrdered."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias(
                "src"
            ),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias(
                "dst"
            ),
        )
        .distinct()
        .persist()
    )
    # Optimization r14 (guide §2.3 + §3): h2 feeds hmax + hubs + a2, and
    # a2 feeds amax + auths — uncached, every reference re-ran the whole
    # join+groupBy chain back to h1 (the before-plan replicates it 4x,
    # 86 exchanges). A lazy persist does not help: the consumers run as
    # parallel stages of one job and race to materialize the same cache.
    # Eagerly materialize each half-round's node-sized score frame
    # (localCheckpoint — the repo's standard iterative device; integer
    # sums are shuffle-order-free, so values are identical), and pick
    # the score-side join strategy by MEASURED size: broadcast while it
    # fits (the checkpoint makes the count a stored-block count), else
    # the hash equi-join — the 100 TB fallback (the n_sig gate device).
    def _ckpt(df: DataFrame) -> DataFrame:
        return df.localCheckpoint(eager=True)

    def _fit(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if df.count() <= 500_000 else df

    h1 = _ckpt(
        edges.groupBy("src").agg(F.count("*").cast("bigint").alias("h"))
    )
    a1 = _ckpt(
        edges.join(_fit(h1), "src")
        .groupBy("dst")
        .agg(F.sum("h").cast("bigint").alias("a"))
    )
    h2 = _ckpt(
        edges.join(_fit(a1), "dst")
        .groupBy("src")
        .agg(F.sum("a").cast("bigint").alias("h"))
    )
    a2 = _ckpt(
        edges.join(_fit(h2), "src")
        .groupBy("dst")
        .agg(F.sum("h").cast("bigint").alias("a"))
    )
    hmax = h2.agg(F.max("h").cast("bigint").alias("mx"))
    amax = a2.agg(F.max("a").cast("bigint").alias("mx"))
    hubs = (
        h2.crossJoin(F.broadcast(hmax))
        .select(
            F.lit("hub").alias("role"),
            F.col("src").alias("id"),
            F.expr("(h * CAST(1048576 AS BIGINT)) div mx")
            .cast("bigint")
            .alias("score_fx"),
            F.col("h").cast("bigint").alias("mass"),
        )
        .orderBy(F.col("mass").desc(), "id")
        .limit(_HITS_TOPK)
    )
    auths = (
        a2.crossJoin(F.broadcast(amax))
        .select(
            F.lit("authority").alias("role"),
            F.col("dst").alias("id"),
            F.expr("(a * CAST(1048576 AS BIGINT)) div mx")
            .cast("bigint")
            .alias("score_fx"),
            F.col("a").cast("bigint").alias("mass"),
        )
        .orderBy(F.col("mass").desc(), "id")
        .limit(_HITS_TOPK)
    )
    return hubs.unionByName(auths)


# -- Page-Hinkley drift monitor --------------------------------------------------


@register(
    "w22_page_hinkley",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    pre AS (
        SELECT event_type, day, n,
               CAST(sum(n) OVER w AS BIGINT) AS s,
               CAST(row_number() OVER w AS BIGINT) AS t
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS UNBOUNDED PRECEDING)
    ),
    term AS (
        SELECT event_type, day,
               CAST(((2 * n * t - 2 * s - t) * 524288) // t AS BIGINT)
                   AS d_fx,
               CAST(max(t) OVER (PARTITION BY event_type) AS BIGINT) AS tt,
               CAST(max(s) OVER (PARTITION BY event_type) AS BIGINT) AS st
        FROM pre
    ),
    msum AS (
        SELECT event_type, day, tt, st,
               CAST(sum(d_fx) OVER w AS BIGINT) AS m
        FROM term
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS UNBOUNDED PRECEDING)
    ),
    m AS (
        SELECT event_type, day, tt, st, m,
               CAST(min(m) OVER w AS BIGINT) AS runmin
        FROM msum
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS UNBOUNDED PRECEDING)
    )
    SELECT event_type, day,
           CAST(m - runmin AS BIGINT) AS ph_fx,
           (m - runmin > (3 * st * 1048576) // tt) AS drift_flag
    FROM m
    """,
    tags=("window", "drift", "page-hinkley", "monitoring"),
)
def w22_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley test (Page 1954's second device) over per-type
    daily counts — completes the drift battery (PSI/KS/Mann-Whitney
    distributional, mean-shift flank, CUSUM fixed-baseline): PH tracks
    deviation from the RUNNING mean, so it adapts to slow level changes
    and fires only on abrupt ones. Same prefix identity as CUSUM:
    PH_t = m_t − min_{i≤t} m_i with m_t = Σ(x_i − x̄_i − δ), δ=0.5,
    λ = 3·(final mean).

    Determinism: each term x_i − S_i/i − δ = (2nt−2s−t)/(2t) is a
    RATIONAL of exact integers, so the hash surface is all-integer
    fixed-point: d_fx = ((2nt−2s−t)·2^19) div t — Spark `div` and
    DuckDB `//` both truncate toward zero — then bigint prefix sums /
    running min over the day-pinned window, and the flag compares
    bigints against λ_fx = (3·st·2^20) div tt. No float or decimal
    rounding exists anywhere (r13 post-mortem: round(double,6)→DECIMAL
    hits an EXACT 6dp midpoint whenever t is divisible by 128, where
    HALF_UP and half-even engines legally diverge). ph_fx is the PH
    statistic in 2^-20 count units."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("bigint").alias("n"))
    wd = Window.partitionBy("event_type").orderBy("day")
    wcum = wd.rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy("event_type")
    pre = daily.select(
        "event_type",
        "day",
        "n",
        F.sum("n").over(wcum).cast("bigint").alias("s"),
        F.row_number().over(wd).cast("bigint").alias("t"),
    )
    term = pre.select(
        "event_type",
        "day",
        F.expr(
            "((2 * n * t - 2 * s - t) * CAST(524288 AS BIGINT)) div t"
        ).alias("d_fx"),
        F.max("t").over(wall).cast("bigint").alias("tt"),
        F.max("s").over(wall).cast("bigint").alias("st"),
    )
    md = term.withColumn(
        "m", F.sum("d_fx").over(wcum).cast("bigint")
    ).withColumn("runmin", F.min("m").over(wcum).cast("bigint"))
    lam = F.expr("(3 * st * CAST(1048576 AS BIGINT)) div tt")
    return md.select(
        "event_type",
        "day",
        (F.col("m") - F.col("runmin")).cast("bigint").alias("ph_fx"),
        ((F.col("m") - F.col("runmin")) > lam).alias("drift_flag"),
    )


# -- Streaming Page-Hinkley: maintained state + the w22 detector ---------------


@register(
    "stream_page_hinkley",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    pre AS (
        SELECT event_type, day, n,
               CAST(sum(n) OVER w AS BIGINT) AS s,
               CAST(row_number() OVER w AS BIGINT) AS t
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS UNBOUNDED PRECEDING)
    ),
    term AS (
        SELECT event_type, day,
               CAST(((2 * n * t - 2 * s - t) * 524288) // t AS BIGINT)
                   AS d_fx,
               CAST(max(t) OVER (PARTITION BY event_type) AS BIGINT) AS tt,
               CAST(max(s) OVER (PARTITION BY event_type) AS BIGINT) AS st
        FROM pre
    ),
    msum AS (
        SELECT event_type, day, tt, st,
               CAST(sum(d_fx) OVER w AS BIGINT) AS m
        FROM term
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS UNBOUNDED PRECEDING)
    ),
    m AS (
        SELECT event_type, day, tt, st, m,
               CAST(min(m) OVER w AS BIGINT) AS runmin
        FROM msum
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS UNBOUNDED PRECEDING)
    )
    SELECT event_type, day,
           CAST(m - runmin AS BIGINT) AS ph_fx,
           (m - runmin > (3 * st * 1048576) // tt) AS drift_flag
    FROM m
    """,
    tags=("streaming", "drift", "page-hinkley", "oracle-checked"),
)
def stream_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-on Page-Hinkley monitoring: Structured Streaming maintains
    the per-type DAILY COUNT state (tumbling windows, complete mode,
    availableNow drain — the SAME maintained state stream_cusum and
    stream_mean_shift read) and the w22 detector runs over the
    snapshot. Third monitor on one state store: flank test for abrupt
    shifts, CUSUM for small persistent drifts vs a FIXED baseline,
    Page-Hinkley for departures from the RUNNING mean (adapts to slow
    level changes). Must equal w22_page_hinkley's oracle exactly —
    streamed counts are integers, task order cannot perturb anything.
    State survives restarts without re-reading drained input
    (tests/test_streaming.py pins that for this exact maintenance
    shape)."""
    import tempfile

    from burst_db_spark.streaming import incremental as st

    src = load(spark, sf_dir, "events").select("event_type", "ts")
    tmp = tempfile.mkdtemp(prefix="bds_stream_ph_")
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

    wd = Window.partitionBy("event_type").orderBy("day")
    wcum = wd.rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy("event_type")
    pre = daily.select(
        "event_type",
        "day",
        "n",
        F.sum("n").over(wcum).cast("bigint").alias("s"),
        F.row_number().over(wd).cast("bigint").alias("t"),
    )
    term = pre.select(
        "event_type",
        "day",
        F.expr(
            "((2 * n * t - 2 * s - t) * CAST(524288 AS BIGINT)) div t"
        ).alias("d_fx"),
        F.max("t").over(wall).cast("bigint").alias("tt"),
        F.max("s").over(wall).cast("bigint").alias("st"),
    )
    md = term.withColumn(
        "m", F.sum("d_fx").over(wcum).cast("bigint")
    ).withColumn("runmin", F.min("m").over(wcum).cast("bigint"))
    lam = F.expr("(3 * st * CAST(1048576 AS BIGINT)) div tt")
    return md.select(
        "event_type",
        "day",
        (F.col("m") - F.col("runmin")).cast("bigint").alias("ph_fx"),
        ((F.col("m") - F.col("runmin")) > lam).alias("drift_flag"),
    )


# -- Gopher rule ablation funnel -----------------------------------------------

_GA_RULES = (
    "word_count", "mean_word_len", "symbol_ratio", "alpha_words",
    "stopwords",
)


@register(
    "t_gopher_ablation",
    oracle=r"""
    WITH w AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents
    ),
    feats AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_words,
               CAST(list_reduce(list_prepend(0, list_transform(
                   toks, t -> len(t))), (x, y) -> x + y) AS BIGINT)
                   AS sum_word_len,
               CAST(len(list_filter(toks,
                   t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT)
                   AS n_alpha_words,
               CAST(len(list_filter(toks,
                   t -> t LIKE '%#%' OR t LIKE '%...%')) AS BIGINT)
                   AS n_symbol_words,
               CAST(len(list_filter(list_transform(toks, t -> lower(t)),
                   t -> t IN ('the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'))) AS BIGINT) AS n_stop_hits
        FROM w
    ),
    flags AS (
        SELECT doc_id,
               (n_words BETWEEN 50 AND 100000) AS ok1,
               (sum_word_len >= 3 * n_words
                AND sum_word_len <= 10 * n_words) AS ok2,
               (n_symbol_words * 10 <= n_words) AS ok3,
               (n_alpha_words * 10 >= n_words * 8) AS ok4,
               (n_stop_hits >= 2) AS ok5
        FROM feats
    ),
    scored AS (
        SELECT *,
               (CASE WHEN NOT ok1 THEN 1 ELSE 0 END
                + CASE WHEN NOT ok2 THEN 1 ELSE 0 END
                + CASE WHEN NOT ok3 THEN 1 ELSE 0 END
                + CASE WHEN NOT ok4 THEN 1 ELSE 0 END
                + CASE WHEN NOT ok5 THEN 1 ELSE 0 END) AS n_fail
        FROM flags
    )
    SELECT * FROM (
        SELECT CAST(1 AS INTEGER) AS rule_order,
               'word_count' AS rule,
               CAST(sum(CASE WHEN ok1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS cum_pass,
               CAST(sum(CASE WHEN NOT ok1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS any_fail,
               CAST(sum(CASE WHEN NOT ok1 AND n_fail = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS sole_fail
        FROM scored
        UNION ALL
        SELECT 2, 'mean_word_len',
               CAST(sum(CASE WHEN ok1 AND ok2 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(sum(CASE WHEN NOT ok2 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(sum(CASE WHEN NOT ok2 AND n_fail = 1
                             THEN 1 ELSE 0 END) AS BIGINT)
        FROM scored
        UNION ALL
        SELECT 3, 'symbol_ratio',
               CAST(sum(CASE WHEN ok1 AND ok2 AND ok3 THEN 1 ELSE 0 END)
                   AS BIGINT),
               CAST(sum(CASE WHEN NOT ok3 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(sum(CASE WHEN NOT ok3 AND n_fail = 1
                             THEN 1 ELSE 0 END) AS BIGINT)
        FROM scored
        UNION ALL
        SELECT 4, 'alpha_words',
               CAST(sum(CASE WHEN ok1 AND ok2 AND ok3 AND ok4
                             THEN 1 ELSE 0 END) AS BIGINT),
               CAST(sum(CASE WHEN NOT ok4 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(sum(CASE WHEN NOT ok4 AND n_fail = 1
                             THEN 1 ELSE 0 END) AS BIGINT)
        FROM scored
        UNION ALL
        SELECT 5, 'stopwords',
               CAST(sum(CASE WHEN ok1 AND ok2 AND ok3 AND ok4 AND ok5
                             THEN 1 ELSE 0 END) AS BIGINT),
               CAST(sum(CASE WHEN NOT ok5 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(sum(CASE WHEN NOT ok5 AND n_fail = 1
                             THEN 1 ELSE 0 END) AS BIGINT)
        FROM scored
    ) ORDER BY rule_order
    """,
    tags=("text", "quality", "gopher", "ablation", "llm-pipeline"),
)
def t_gopher_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule ABLATION for the Gopher battery (which rule bites): per rule
    in canonical order, the cumulative funnel survivor count (docs
    passing rules 1..k), the marginal fail count, and the SOLE-CAUSE
    count (docs failing exactly this rule — the docs this rule alone
    removes). The ledger curators read before reordering or dropping a
    rule; t_gopher_rules reports the per-source totals, this reports
    the rule interaction structure. All-integer end to end.

    Scale shape: the same single map + one corpus-level rollup (the 5
    UNION branches aggregate the SAME cached flags projection — Spark
    computes one scan; each branch is a 1-row aggregate)."""
    from burst_db_spark.operators import text as tx
    from burst_db_spark.queries.round14 import (
        _GOPHER_MAX_WORDS,
        _GOPHER_MIN_WORDS,
        _GOPHER_STOPS,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", tx.tokens(F.col("text")).alias("toks"))
    n_words = F.size("toks").cast("bigint")
    sum_word_len = F.aggregate(
        F.transform("toks", F.length), F.lit(0), lambda a, x: a + x
    ).cast("bigint")
    n_alpha = F.size(
        F.filter("toks", lambda t: t.rlike("[A-Za-z]"))
    ).cast("bigint")
    n_symbol = F.size(
        F.filter("toks", lambda t: t.contains("#") | t.contains("..."))
    ).cast("bigint")
    n_stop = F.size(
        F.filter(
            F.transform("toks", F.lower), lambda t: t.isin(*_GOPHER_STOPS)
        )
    ).cast("bigint")
    feats = toks.select(
        "doc_id",
        n_words.alias("n_words"),
        sum_word_len.alias("swl"),
        n_alpha.alias("na"),
        n_symbol.alias("ns"),
        n_stop.alias("nst"),
    )
    flags = feats.select(
        "doc_id",
        F.col("n_words").between(
            _GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS
        ).alias("ok1"),
        (
            (F.col("swl") >= 3 * F.col("n_words"))
            & (F.col("swl") <= 10 * F.col("n_words"))
        ).alias("ok2"),
        (F.col("ns") * 10 <= F.col("n_words")).alias("ok3"),
        (F.col("na") * 10 >= F.col("n_words") * 8).alias("ok4"),
        (F.col("nst") >= 2).alias("ok5"),
    )
    nf = sum(
        F.when(~F.col(f"ok{i}"), 1).otherwise(0) for i in range(1, 6)
    )
    scored = flags.withColumn("n_fail", nf).persist()

    def row(order: int, rule: str, cum_cols: list[str], ok: str):
        cum = F.lit(True)
        for c in cum_cols:
            cum = cum & F.col(c)
        return scored.agg(
            F.sum(F.when(cum, 1).otherwise(0)).cast("bigint").alias(
                "cum_pass"
            ),
            F.sum(F.when(~F.col(ok), 1).otherwise(0)).cast("bigint").alias(
                "any_fail"
            ),
            F.sum(
                F.when((~F.col(ok)) & (F.col("n_fail") == 1), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("sole_fail"),
        ).select(
            F.lit(order).cast("int").alias("rule_order"),
            F.lit(rule).alias("rule"),
            "cum_pass",
            "any_fail",
            "sole_fail",
        )

    out = row(1, "word_count", ["ok1"], "ok1")
    cums = ["ok1"]
    for i, rule in enumerate(_GA_RULES[1:], start=2):
        cums = cums + [f"ok{i}"]
        out = out.unionByName(row(i, rule, cums, f"ok{i}"))
    return out.orderBy("rule_order")


# -- Duplicate-cluster size distribution ----------------------------------------


@register(
    "dd_dup_cluster_size_dist",
    oracle="""
    WITH g AS (
        SELECT md5(lower(trim(text))) AS digest,
               CAST(count(*) AS BIGINT) AS sz
        FROM documents GROUP BY 1
    )
    SELECT sz AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(sz) AS BIGINT) AS n_docs,
           CAST(sum(sz - 1) AS BIGINT) AS n_removable
    FROM g GROUP BY sz
    """,
    tags=("dedup", "diagnostics", "cluster-size", "llm-pipeline"),
)
def dd_dup_cluster_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate CLUSTER SIZE distribution — the diagnostic
    curators read before choosing a dedup policy (drop vs SoftDeDup
    reweighting): per cluster size, how many content-digest groups,
    how many documents they hold, and how many dedup would remove
    (size−1 each). All-integer; one digest groupBy (the shuffle any
    exact dedup pays) + one histogram rollup on the group-sized frame."""
    docs = load(spark, sf_dir, "documents")
    g = docs.groupBy(
        F.md5(F.lower(F.trim(F.col("text")))).alias("digest")
    ).agg(F.count("*").cast("bigint").alias("sz"))
    return g.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count("*").cast("bigint").alias("n_clusters"),
        F.sum("sz").cast("bigint").alias("n_docs"),
        F.sum(F.col("sz") - 1).cast("bigint").alias("n_removable"),
    )
