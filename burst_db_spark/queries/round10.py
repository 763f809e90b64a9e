"""Round-10 queries: deterministic corpus shuffle + epoch sharding (a
seeded global permutation cut into fixed-size dataloader shards with NO
global sort — hash-range partitioning + broadcast cumulative offsets),
and incremental embedding near-dup detection (new vectors probe the
STORED band keys of the old corpus — old vectors are never re-hashed,
the embedding mirror of dd_minhash_incremental's snapshot-ingest shape).

Reference parity: opera-adt/burst_db has no training-data path — these
extend the LLM-pipeline surface (SURVEY.md "beyond the reference"
mandate). Every oracle is ANSI SQL the driver runs on DuckDB; the
permutation/hash keys are the repo's engine-portable md5 family so both
engines derive bit-identical ranks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from burst_db_spark.catalog import load
from burst_db_spark.operators.packing import epoch_shuffle
from burst_db_spark.registry import register
from burst_db_spark.runner import checkpoint, persist, tmpdir
from burst_db_spark.streaming import drain

# ---------------------------------------------------------------------------
# T: deterministic corpus shuffle + epoch sharding (VERDICT r9 item #7)

_ES_N_SHARDS = 8


@register(
    "t_epoch_shard_shuffle",
    oracle=f"""
    WITH eps AS (SELECT unnest([0, 1]) AS epoch),
    r AS (
        SELECT epoch, doc_id,
               md5('ep' || CAST(epoch AS VARCHAR) || ':'
                   || CAST(doc_id AS VARCHAR)) AS rk
        FROM documents CROSS JOIN eps
    ),
    ranked AS (
        SELECT CAST(epoch AS INTEGER) AS epoch, doc_id,
               CAST(CAST('0x' || substr(rk, 1, 8) AS BIGINT)
                    * {_ES_N_SHARDS} // 4294967296 AS INTEGER) AS hash_shard,
               CAST(row_number() OVER (
                   PARTITION BY epoch ORDER BY rk, doc_id
               ) AS BIGINT) AS epoch_pos,
               CAST(count(*) OVER (PARTITION BY epoch) AS BIGINT) AS n
        FROM r
    )
    SELECT epoch, doc_id, hash_shard, epoch_pos,
           CAST((epoch_pos - 1) * {_ES_N_SHARDS} // n AS INTEGER) AS shard
    FROM ranked
    """,
    tags=("llm-pipeline", "shuffle", "epoch-shard", "deterministic"),
)
def t_epoch_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two epochs of seeded corpus shuffle over ``documents``: per epoch
    an independent md5-keyed global permutation (``epoch_pos`` is the
    exact 1-based rank — the oracle's plain ``row_number() OVER (ORDER
    BY md5(seed:id))``) and the fixed-size dataloader shard cut from it,
    computed with hash-range partitioning + broadcast offsets instead of
    a global sort (operators/packing.epoch_shuffle). A hash match here
    proves the no-global-sort decomposition reproduces the global
    permutation exactly, per epoch."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    parts = [
        epoch_shuffle(docs, "doc_id", f"ep{e}", _ES_N_SHARDS)
        .withColumn("epoch", F.lit(e))
        for e in (0, 1)
    ]
    return parts[0].unionByName(parts[1]).select(
        "epoch", "doc_id", "hash_shard", "epoch_pos", "shard"
    )

# ---------------------------------------------------------------------------
# DD: incremental embedding near-dup (VERDICT r9 item #8)

from burst_db_spark.operators.similarity import (  # noqa: E402
    lsh_incremental_oracle_sql,
    lsh_near_dup_incremental,
)


@register(
    "dd_embedding_nn_incremental",
    oracle=lsh_incremental_oracle_sql("vec_id % 3 = 0"),
    tags=("dedup", "embedding", "lsh", "incremental", "snapshot",
          "llm-pipeline"),
)
def dd_embedding_nn_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-snapshot vectors (vec_id % 3 == 0) that near-duplicate
    (cos ≥ 0.4) an OLD-corpus vector: new band keys probe the STORED
    old-corpus band frame (new ⋈ old equi-join only — old vectors are
    never re-hashed; operators/similarity.lsh_near_dup_incremental),
    exact cosine verifies survivors by id-join against the store. The
    embedding mirror of dd_minhash_incremental's ingest shape."""
    emb = load(spark, sf_dir, "embeddings")
    return lsh_near_dup_incremental(emb, F.col("vec_id") % 3 == 0)

# ---------------------------------------------------------------------------
# T: deterministic weighted multi-source interleave (mixing schedule)

from burst_db_spark.operators.packing import interleave_by_weight  # noqa: E402

# weights 1/2/3 by source-number mod 3 — lcm 6, strides 6/3/2
_MIX_WEIGHTS = {f"src{i}": 1 + (i % 3) for i in range(20)}
_MIX_LCM = 6


def _mix_values_sql() -> str:
    return ", ".join(
        f"('{s}', {_MIX_LCM // w})" for s, w in sorted(_MIX_WEIGHTS.items())
    )


@register(
    "t_interleave_by_weight",
    oracle=f"""
    WITH w(source, stride) AS (VALUES {_mix_values_sql()}),
    r AS (
        SELECT doc_id, source,
               CAST(row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5('mix0:' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS BIGINT) AS src_rank
        FROM documents
    )
    SELECT r.doc_id, r.source, r.src_rank,
           CAST(r.src_rank * w.stride AS BIGINT) AS vtime
    FROM r JOIN w USING (source)
    """,
    tags=("llm-pipeline", "mixing", "interleave", "deterministic"),
)
def t_interleave_by_weight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus MIXING SCHEDULE: sources weighted 1/2/3 (by source
    number mod 3) interleave by integer stride scheduling — source s
    emits its k-th doc (seeded per-source permutation, hash-range ranks
    with no hot per-source sort) at virtual time k·(lcm/w_s). Reading in
    vtime order delivers weight-proportional mixing in every prefix,
    deterministically (operators/packing.interleave_by_weight)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    return interleave_by_weight(docs, "doc_id", "source", _MIX_WEIGHTS)

# ---------------------------------------------------------------------------
# Streaming incremental MinHash dedup: the dd_minhash_incremental ingest
# shape made CONTINUOUS. The old corpus's signature store (sig + band
# frames) is the STATIC side of a stream-static equi-join — Spark keeps
# zero join state for it; the arriving snapshot computes its signatures
# ROW-LOCALLY (dedup.row_local_minhash — array_min over the doc's own
# shingle array, bit-identical to the batch explode+groupBy signatures)
# so no stateful aggregation precedes the join. The stream's single
# stateful operator is the final per-new-doc manifest rollup
# (collect_set dedupes multi-band matches). Batching-independent by
# construction: the streamed manifest must equal the batch oracle
# bit-for-bit.

from burst_db_spark.queries.round9 import (  # noqa: E402
    _SHINGLES_CTE as _R9_SHINGLES_CTE,
    _inc_agree_sql as _r9_inc_agree_sql,
    _inc_band_joins_sql as _r9_inc_band_joins_sql,
    _minhash_pair_ctes as _r9_minhash_pair_ctes,
)


@register(
    "stream_minhash_incremental",
    oracle=f"""
    WITH {_R9_SHINGLES_CTE},
    {_r9_minhash_pair_ctes(None)},
    newb AS (SELECT * FROM bands WHERE doc_id % 3 = 0),
    oldb AS (SELECT * FROM bands WHERE doc_id % 3 <> 0),
    candx AS (
        SELECT DISTINCT new_id, old_id FROM (
{_r9_inc_band_joins_sql()}
        )
    ),
    ver AS (
        SELECT c.new_id, c.old_id, ({_r9_inc_agree_sql()}) / 16.0 AS est
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
    tags=("streaming", "dedup", "minhash", "incremental", "llm-pipeline"),
)
def stream_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-snapshot docs STREAM in and probe the static old-corpus band
    store (stream-static join, zero join state); signatures are computed
    row-locally on the stream, the per-new-doc manifest rollup is the
    only stateful operator (complete mode, availableNow drain). Must
    equal the batch dd_minhash_incremental manifest bit-for-bit."""
    from burst_db_spark.operators import dedup as dd
    from burst_db_spark.operators import text as tx
    from burst_db_spark.streaming import incremental as st

    docs = load(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 3 == 0

    # static signature store (old corpus): batch signatures + bands
    old_sigs = dd.minhash_signatures(docs.where(~is_new), "doc_id")
    sig_arr = F.array(*[F.col(f"h{j}") for j in range(16)])
    old_sig = old_sigs.select(
        F.col("doc_id").alias("old_id"), sig_arr.alias("sig_b")
    )
    old_bands = dd.lsh_band_frame(old_sigs, "doc_id").select(
        F.col("doc_id").alias("old_id"), "band_idx", "band_key"
    )

    new_corpus = docs.where(is_new).select("doc_id", "text")
    tmp = tmpdir("bds_inc_stream_")
    data_dir = f"{tmp}/in"
    new_corpus.coalesce(4).write.parquet(data_dir)
    stream = st.file_stream(spark, data_dir, new_corpus.schema)

    sh = tx.shingles(F.col("text"))
    # two-step signature: digests land in a real column first, so md5
    # runs K/4 times per shingle instead of K (measured 5x at sf0.1;
    # see dedup.shingle_digests)
    signed = (
        stream.where(F.size(sh) > 0)
        .select(
            F.col("doc_id").alias("new_id"),
            dd.shingle_digests(sh).alias("digs"),
        )
        .select(
            "new_id",
            dd.minhash_from_digests(F.col("digs")).alias("sig_a"),
        )
        .select(
            "new_id",
            "sig_a",
            F.posexplode(dd.row_local_band_keys(F.col("sig_a"))).alias(
                "band_idx", "band_key"
            ),
        )
    )
    agree = F.aggregate(
        F.zip_with(
            F.col("sig_a"), F.col("sig_b"), lambda x, y: (x == y).cast("int")
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    scored = (
        signed.join(old_bands, ["band_idx", "band_key"])
        .join(old_sig, "old_id")
        .withColumn("est", agree / F.lit(16.0))
        .where(F.col("est") >= 0.5)
    )
    agg = scored.groupBy("new_id").agg(
        F.collect_set("old_id").alias("dups"),
        F.max("est").alias("max_est_sim"),
    )
    return (
        drain(agg, tmp)
        .select(
            "new_id",
            F.array_min("dups").cast("bigint").alias("dup_of_min"),
            F.size("dups").cast("bigint").alias("n_old_dups"),
            "max_est_sim",
        )
        .orderBy("new_id")
    )

# ---------------------------------------------------------------------------
# DD: deletion propagation through dedup clusters (data governance).
# Right-to-be-forgotten at corpus scale: deleting documents must not
# silently delete their dedup CLUSTERS — when a cluster's surviving
# representative (the min doc id the dedup pass kept) is itself deleted,
# the next-smallest surviving member must be promoted, and clusters
# whose members are all deleted must be surfaced as gone. One pass over
# the cluster assignment (min-label CC, the sub-quadratic path), no
# re-dedup of the corpus.

from burst_db_spark.queries.round4 import (  # noqa: E402
    _minhash_pair_ctes as _r4_minhash_pair_ctes,
)

_DEL_PRED = "doc_id % 17 = 0"


@register(
    "dd_delete_propagation",
    oracle=f"""
    WITH RECURSIVE {_R9_SHINGLES_CTE},
    {_r4_minhash_pair_ctes(None)},
    edges AS (SELECT id_a AS src, id_b AS dst FROM lsh_pairs
              UNION SELECT id_b, id_a FROM lsh_pairs),
    reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    assign AS (SELECT src AS doc_id, min(dst) AS cluster_id
               FROM reach GROUP BY src)
    SELECT cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(CASE WHEN {_DEL_PRED} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_deleted,
           CAST(min(CASE WHEN NOT ({_DEL_PRED}) THEN doc_id END) AS BIGINT)
               AS new_rep,
           cluster_id % 17 = 0 AS rep_changed
    FROM assign GROUP BY cluster_id
    HAVING sum(CASE WHEN {_DEL_PRED} THEN 1 ELSE 0 END) > 0
    ORDER BY cluster_id
    """,
    tags=("dedup", "clustering", "governance", "deletion", "llm-pipeline"),
)
def dd_delete_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clusters touched by a delete list (doc_id % 17 == 0): member and
    deleted counts, the promoted representative (min SURVIVING member;
    NULL when the whole cluster is forgotten), and whether the
    representative changed (the old rep — the cluster_id itself, the
    min member the dedup pass kept — was deleted). Reuses the stored
    cluster assignment; the corpus is never re-deduped."""
    from burst_db_spark.operators import dedup as dd

    docs = load(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_dedup(docs, "doc_id", threshold=0.5)
    cc = dd.connected_components(pairs, docs, "doc_id")
    is_del = F.col("doc_id") % 17 == 0
    return (
        cc.groupBy("cluster_id")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.sum(is_del.cast("int")).cast("bigint").alias("n_deleted"),
            F.min(F.when(~is_del, F.col("doc_id")))
            .cast("bigint")
            .alias("new_rep"),
        )
        .where(F.col("n_deleted") > 0)
        .select(
            "cluster_id",
            "n_members",
            "n_deleted",
            "new_rep",
            (F.col("cluster_id") % 17 == 0).alias("rep_changed"),
        )
        .orderBy("cluster_id")
    )

# ---------------------------------------------------------------------------
# W5b: reference-date selection WITH per-frame event dates — the part of
# the reference's state machine (reference_dates.py:105-157) the r10 w5
# oracle left to pytest goldens: an event date without enough
# accumulated acquisitions MOVES the last emitted reference instead of
# appending one (and when the FIRST reference moves, the interval
# anchor moves with it). The recursion emits a CHANGE row per append or
# move; the final reference list takes, per (frame, ref_idx), the LAST
# change — exactly python's refs[-1] = t overwrite. Event dates are
# derived relationally on both sides (min event date + 10 and + 20 days
# per frame), so no literals ride in the SQL.

_W5B_INTERVAL = 7
_W5B_MIN_ACQ = 5

_W5B_ORACLE = f"""
    WITH RECURSIVE ord AS (
        SELECT CAST(user_id AS INTEGER) AS frame_fid, ts,
               row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
        FROM events
    ),
    evd AS (
        SELECT frame_fid, CAST(min(CAST(ts AS DATE)) + INTERVAL 10 DAY AS DATE) AS d
        FROM ord GROUP BY frame_fid
        UNION ALL
        SELECT frame_fid, CAST(min(CAST(ts AS DATE)) + INTERVAL 20 DAY AS DATE)
        FROM ord GROUP BY frame_fid
    ),
    walk AS (
        SELECT frame_fid, rn, ts,
               1 AS n_refs, ts AS first_ref, 1 AS grp, 1 AS chg
        FROM ord WHERE rn = 1
        UNION ALL
        SELECT o.frame_fid, o.rn, o.ts,
               CASE WHEN s.emit THEN s.n_refs + 1 ELSE s.n_refs END,
               -- the move re-anchors at the CURRENT acquisition (python:
               -- refs[-1] = t), i.e. s.ots — NOT the previous row's ts
               CASE WHEN s.mv AND s.n_refs = 1 THEN s.ots ELSE s.first_ref END,
               CASE WHEN s.emit OR s.mv THEN 0 ELSE s.grp + 1 END,
               CASE WHEN s.emit THEN 1 WHEN s.mv THEN 2 ELSE 0 END
        FROM (
            SELECT w.*, o.ts AS ots, o.rn AS orn,
                   ((CAST(floor((epoch(o.ts) - epoch(w.first_ref))
                                / 86400.0) AS BIGINT)
                         >= w.n_refs * {_W5B_INTERVAL}
                     OR e.d IS NOT NULL)
                    AND w.grp + 1 >= {_W5B_MIN_ACQ}) AS emit,
                   (e.d IS NOT NULL
                    AND w.grp + 1 < {_W5B_MIN_ACQ}) AS mv
            FROM walk w
            JOIN ord o ON o.frame_fid = w.frame_fid AND o.rn = w.rn + 1
            LEFT JOIN evd e ON e.frame_fid = o.frame_fid
                           AND e.d = CAST(o.ts AS DATE)
        ) s
        JOIN ord o ON o.frame_fid = s.frame_fid AND o.rn = s.orn
    )
    SELECT frame_fid, CAST(n_refs AS INTEGER) AS ref_idx, ts AS ref_date
    FROM walk WHERE chg > 0
    QUALIFY row_number() OVER (
        PARTITION BY frame_fid, n_refs ORDER BY rn DESC
    ) = 1
    """


@register(
    "w5b_reference_dates_events",
    oracle=_W5B_ORACLE,
    tags=("W5", "applyInPandas", "derived-oracle", "recursive-cte",
          "event-dates"),
)
def w5b_reference_dates_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-date selection WITH per-frame event dates (each frame's
    min date + 10 and + 20 days): exercises the MOVE rule — an event
    with < min_acquisitions accumulated relocates the last reference
    (shifting the interval anchor when it is the first) — against a
    recursive-CTE replay that reduces the overwrite to last-change-wins
    per (frame, ref_idx). Event dates arrive as a DataFrame — never a
    driver-collected dict pickled into every task — and ride into the
    kernel's single shuffle as a broadcast per-frame array."""
    from burst_db_spark.plans.reference_dates import reference_dates

    ev = load(spark, sf_dir, "events").select(
        F.col("user_id").cast("int").alias("frame_fid"),
        F.col("ts").alias("sensing_time"),
    )
    evd = (
        ev.groupBy("frame_fid")
        .agg(F.min(F.to_date("sensing_time")).alias("d0"))
        .select(
            "frame_fid",
            F.explode(
                F.array(F.date_add("d0", 10), F.date_add("d0", 20))
            ).alias("event_date"),
        )
    )
    # evd is a per-key aggregate (2 dates/frame), so its per-frame date
    # sets are broadcast-sized by construction
    return reference_dates(
        ev, evd, interval_days=_W5B_INTERVAL, min_acquisitions=_W5B_MIN_ACQ
    )

# ---------------------------------------------------------------------------
# DD: snapshot novelty from KMV sketches — "how much genuinely NEW
# content does this crawl bring?" answered from two k-row bottom-k
# sketches (new-snapshot shingle hashes vs the old corpus's stored
# sketch) by inclusion–exclusion over three KMV estimates (new, old,
# union-of-sketches). Sub-k sides are EXACT (the sketch is the whole
# set). All estimator math is integer (the a32 (k-1)·2^48 // r48
# idiom), so the row hash-checks bit-for-bit. The exact validation
# columns are LINEAR (distinct + anti-join distinct — no pairwise
# term), so unlike the overlap matrix they may ride in the production
# row.

_NOV_K = 128


def _nov_est_sql(n: str, r48: str) -> str:
    return (
        f"CASE WHEN {n} < {_NOV_K} THEN {n} "
        f"ELSE ({_NOV_K} - 1) * {1 << 48} // {r48} END"
    )


@register(
    "dd_snapshot_novelty",
    oracle=f"""
    WITH {_R9_SHINGLES_CTE},
    hs AS (
        SELECT DISTINCT
               CASE WHEN d.doc_id % 3 = 0 THEN 'new' ELSE 'old' END AS side,
               md5(s.shingle) AS h
        FROM sh s JOIN documents d USING (doc_id)
    ),
    sk AS (
        SELECT side, h FROM (
            SELECT side, h,
                   row_number() OVER (PARTITION BY side ORDER BY h) AS rn
            FROM hs
        ) WHERE rn <= {_NOV_K}
    ),
    per_side AS (
        SELECT side, CAST(count(*) AS BIGINT) AS n_sk,
               CAST('0x' || substr(max(h), 1, 12) AS BIGINT) AS r48
        FROM sk GROUP BY side
    ),
    mu AS (
        SELECT h FROM (
            SELECT h, row_number() OVER (ORDER BY h) AS rn
            FROM (SELECT DISTINCT h FROM sk)
        ) WHERE rn <= {_NOV_K}
    ),
    u AS (
        SELECT CAST(count(*) AS BIGINT) AS n_sk,
               CAST('0x' || substr(max(h), 1, 12) AS BIGINT) AS r48
        FROM mu
    ),
    ests AS (
        SELECT
            (SELECT CAST({_nov_est_sql('n_sk', 'r48')} AS BIGINT)
             FROM per_side WHERE side = 'new') AS est_new,
            (SELECT CAST({_nov_est_sql('n_sk', 'r48')} AS BIGINT)
             FROM per_side WHERE side = 'old') AS est_old,
            (SELECT CAST({_nov_est_sql('n_sk', 'r48')} AS BIGINT)
             FROM u) AS est_union
    ),
    exact AS (
        SELECT
            (SELECT CAST(count(*) AS BIGINT) FROM hs
             WHERE side = 'new') AS exact_new,
            (SELECT CAST(count(*) AS BIGINT) FROM hs a
             WHERE a.side = 'new' AND NOT EXISTS (
                 SELECT 1 FROM hs b
                 WHERE b.side = 'old' AND b.h = a.h)) AS exact_novel
    )
    SELECT est_new, est_old, est_union,
           greatest(CAST(0 AS BIGINT),
                    est_new + est_old - est_union) AS est_inter,
           greatest(CAST(0 AS BIGINT),
                    est_new - greatest(CAST(0 AS BIGINT),
                                       est_new + est_old - est_union))
               AS est_novel,
           exact_new, exact_novel
    FROM ests, exact
    """,
    tags=("dedup", "sketch", "kmv", "novelty", "llm-pipeline"),
)
def dd_snapshot_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row novelty manifest for the new snapshot (doc_id % 3 == 0):
    KMV estimates of new / old / union distinct shingle hashes, the
    inclusion–exclusion intersection and novel-content estimates
    (integer-exact, clamped at 0), and the LINEAR exact validation
    columns. At 100 TB the old sketch is k stored rows; the new side is
    the only thing hashed this ingest."""
    from burst_db_spark.operators import dedup as dd

    docs = load(spark, sf_dir, "documents")
    # doc_shingles already carries doc_id — the side tag is computed
    # directly on the shingle frame, no join back to docs
    hs = (
        dd.doc_shingles(docs, "doc_id")
        .select(
            F.when(F.col("doc_id") % 3 == 0, F.lit("new"))
            .otherwise(F.lit("old"))
            .alias("side"),
            F.md5("shingle").alias("h"),
        )
        .distinct()
    )
    sk = dd.two_phase_bottom_k(hs, ["side"], "h", _NOV_K)
    per_side = sk.groupBy("side").agg(
        F.count("*").cast("bigint").alias("n_sk"),
        F.conv(F.substring(F.max("h"), 1, 12), 16, 10)
        .cast("bigint")
        .alias("r48"),
    )

    def est(n: str = "n_sk", r: str = "r48"):
        return F.when(F.col(n) < _NOV_K, F.col(n)).otherwise(
            F.expr(f"CAST(({_NOV_K} - 1) * CAST({1 << 48} AS BIGINT)"
                   f" DIV {r} AS BIGINT)")
        ).cast("bigint")

    from pyspark.sql import Window as _W

    mu = (
        sk.select("h")
        .distinct()
        .withColumn("rn", F.row_number().over(_W.orderBy("h")))
        .where(F.col("rn") <= _NOV_K)
    )
    u = mu.agg(
        F.count("*").cast("bigint").alias("n_sk"),
        F.conv(F.substring(F.max("h"), 1, 12), 16, 10)
        .cast("bigint")
        .alias("r48"),
    )
    ests = (
        per_side.groupBy()
        .pivot("side", ["new", "old"])
        .agg(F.first(est()))
        .withColumnRenamed("new", "est_new")
        .withColumnRenamed("old", "est_old")
        .crossJoin(F.broadcast(u.select(est().alias("est_union"))))
    )
    new_hs = hs.where(F.col("side") == "new").select("h")
    old_hs = hs.where(F.col("side") == "old").select("h")
    exact = (
        new_hs.agg(F.count("*").cast("bigint").alias("exact_new"))
        .crossJoin(
            F.broadcast(
                new_hs.join(old_hs, "h", "left_anti")
                .agg(F.count("*").cast("bigint").alias("exact_novel"))
            )
        )
    )
    inter = F.greatest(
        F.lit(0).cast("bigint"),
        F.col("est_new") + F.col("est_old") - F.col("est_union"),
    )
    return ests.crossJoin(F.broadcast(exact)).select(
        "est_new",
        "est_old",
        "est_union",
        inter.alias("est_inter"),
        F.greatest(F.lit(0).cast("bigint"), F.col("est_new") - inter)
        .alias("est_novel"),
        "exact_new",
        "exact_novel",
    )

# ---------------------------------------------------------------------------
# T: padding-waste estimator — the batch-packing efficiency diagnostic a
# training pipeline reads before choosing PADDED length-bucketed
# batching over concat-and-chunk packing (t_pack_sequences). For each
# power-of-two length bucket: docs, real tokens, padded slots
# (n_docs x bucket ceiling), and the waste fraction. Pure map-side
# column math + one groupBy — linear at any corpus size; the per-row
# quantities are exact integers so the double division is the only
# float and is written with identical operand order in both engines.

from burst_db_spark.operators.text import token_count  # noqa: E402


@register(
    "t_padding_waste",
    oracle="""
    WITH tc AS (
        SELECT CAST(len(string_split_regex(lower(trim(text)), '\\s+'))
                    AS INTEGER) AS n_tokens
        FROM documents
    ),
    b AS (
        SELECT n_tokens,
               CAST(CASE WHEN n_tokens <= 16 THEN 16
                    ELSE power(2, ceil(log2(n_tokens))) END AS BIGINT)
                   AS bucket_max
        FROM tc
    )
    SELECT bucket_max,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(count(*) * bucket_max AS BIGINT) AS padded_slots,
           1.0 - CAST(sum(n_tokens) AS DOUBLE)
                 / CAST(count(*) * bucket_max AS DOUBLE) AS waste_frac
    FROM b
    GROUP BY bucket_max
    ORDER BY bucket_max
    """,
    tags=("llm-pipeline", "packing", "diagnostics"),
)
def t_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per power-of-two length bucket (ceiling >= 16): document count,
    real token total, padded slot total, and the padding waste fraction
    — the table that says what length-bucketed padded batching costs vs
    packing on this corpus."""
    docs = load(spark, sf_dir, "documents")
    tc = docs.select(token_count(F.col("text")).alias("n_tokens"))
    bucket = F.when(F.col("n_tokens") <= 16, F.lit(16).cast("bigint")).otherwise(
        F.expr("CAST(power(2, ceil(log2(n_tokens))) AS BIGINT)")
    )
    return (
        tc.select("n_tokens", bucket.alias("bucket_max"))
        .groupBy("bucket_max")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
            (F.count("*") * F.first("bucket_max"))
            .cast("bigint")
            .alias("padded_slots"),
        )
        .select(
            "bucket_max",
            "n_docs",
            "sum_tokens",
            "padded_slots",
            (
                F.lit(1.0)
                - F.col("sum_tokens").cast("double")
                / F.col("padded_slots").cast("double")
            ).alias("waste_frac"),
        )
        .orderBy("bucket_max")
    )

# ---------------------------------------------------------------------------
# T: tokenizer fertility by source — tokens per byte (and per char) per
# corpus source, the mix-diagnostic that flags sources the tokenizer
# serves poorly. Integer sums per group; the two ratios are the only
# doubles (identical operand order both engines).


@register(
    "t_tokenizer_fertility",
    oracle="""
    WITH tc AS (
        SELECT source,
               CAST(len(string_split_regex(lower(trim(text)), '\\s+'))
                    AS BIGINT) AS n_tokens,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents
    )
    SELECT source,
           CAST(sum(n_tokens) AS BIGINT) AS tokens,
           CAST(sum(n_bytes) AS BIGINT) AS bytes,
           CAST(sum(n_tokens) AS DOUBLE) / CAST(sum(n_bytes) AS DOUBLE)
               AS tokens_per_byte,
           CAST(sum(n_tokens) AS DOUBLE) / CAST(sum(n_chars) AS DOUBLE)
               AS tokens_per_char
    FROM tc GROUP BY source ORDER BY source
    """,
    tags=("llm-pipeline", "tokenizer", "diagnostics"),
)
def t_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source whitespace-token fertility: total tokens, total UTF-8
    bytes, tokens/byte and tokens/char."""
    docs = load(spark, sf_dir, "documents")
    tc = docs.select(
        "source",
        token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        F.octet_length("text").cast("bigint").alias("n_bytes"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    return (
        tc.groupBy("source")
        .agg(
            F.sum("n_tokens").cast("bigint").alias("tokens"),
            F.sum("n_bytes").cast("bigint").alias("bytes"),
            (
                F.sum("n_tokens").cast("double")
                / F.sum("n_bytes").cast("double")
            ).alias("tokens_per_byte"),
            (
                F.sum("n_tokens").cast("double")
                / F.sum("n_chars").cast("double")
            ).alias("tokens_per_char"),
        )
        .orderBy("source")
    )

# ---------------------------------------------------------------------------
# DD: INCREMENTAL cluster maintenance — merge an arriving snapshot into
# the STORED dedup cluster assignment without re-deduping the old
# corpus. Edges for the merge CC are (a) the stored assignment as STAR
# edges (member -> its cluster representative: one edge per old doc,
# re-derivable from the label store — the original pair graph is never
# reloaded) and (b) the new pairs from the incremental band probe
# (new ⋈ old plus new ⋈ new within the snapshot). Components over that
# union reproduce exactly the clusters a full re-dedup would find,
# because every old cluster is connected through its star. Oracle:
# recursive-CTE closure over the same union graph.


@register(
    "dd_cluster_incremental",
    oracle=f"""
    WITH RECURSIVE {_R9_SHINGLES_CTE},
    {_r4_minhash_pair_ctes(None)},
    old_pairs AS (
        SELECT id_a, id_b FROM lsh_pairs
        WHERE id_a % 3 <> 0 AND id_b % 3 <> 0
    ),
    old_reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents WHERE doc_id % 3 <> 0
        UNION
        SELECT r.src, e.dst FROM old_reach r
        JOIN (SELECT id_a AS src, id_b AS dst FROM old_pairs
              UNION SELECT id_b, id_a FROM old_pairs) e ON r.dst = e.src
    ),
    stored AS (SELECT src AS doc_id, min(dst) AS cluster_id
               FROM old_reach GROUP BY src),
    star AS (SELECT doc_id AS id_a, cluster_id AS id_b
             FROM stored WHERE doc_id <> cluster_id),
    new_pairs AS (
        SELECT id_a, id_b FROM lsh_pairs
        WHERE id_a % 3 = 0 OR id_b % 3 = 0
    ),
    all_edges AS (
        SELECT id_a AS src, id_b AS dst FROM star
        UNION SELECT id_b, id_a FROM star
        UNION SELECT id_a, id_b FROM new_pairs
        UNION SELECT id_b, id_a FROM new_pairs
    ),
    reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.dst FROM reach r JOIN all_edges e ON r.dst = e.src
    ),
    assign AS (SELECT src AS doc_id, min(dst) AS cluster_id
               FROM reach GROUP BY src)
    SELECT cluster_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new
    FROM assign GROUP BY cluster_id
    HAVING sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) > 0
    ORDER BY cluster_id
    """,
    tags=("dedup", "clustering", "incremental", "snapshot", "llm-pipeline"),
)
def dd_cluster_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clusters containing at least one NEW-snapshot doc after merging
    the snapshot into the stored assignment: member counts and new-doc
    counts per cluster. The old corpus contributes only its label-store
    star edges (one row per old doc); candidate pairs touching the
    snapshot come from the band probe. Components over star ∪ new
    equal a full re-dedup's clusters exactly."""
    from burst_db_spark.operators import dedup as dd

    docs = load(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 3 == 0
    # ONE dedup pass: signatures are per-doc-deterministic, so the
    # old-only pair set is exactly the full pair set restricted to
    # old×old — no second shingle/sign/band pass over the old corpus
    # (the oracle's old_pairs CTE derives it the same way). Persisted
    # once; split by predicate.
    all_pairs = dd.minhash_lsh_dedup(docs, "doc_id", threshold=0.5)
    all_p = persist(all_pairs.select("id_a", "id_b"))
    old_pairs = all_p.where(
        (F.col("id_a") % 3 != 0) & (F.col("id_b") % 3 != 0)
    )
    # the stored assignment (stand-in for the label store): clusters of
    # the OLD corpus only
    old_docs = docs.where(~is_new)
    # persisted: referenced three times below (two endpoint rewrites +
    # sizes); under CC's union-find path its plan is already leaf-sized
    # (vertices ⋈ broadcast local labels), so no checkpoint is needed
    stored = persist(dd.connected_components(old_pairs, old_docs, "doc_id"))
    # pairs touching the snapshot (new-old + new-new); at 100 TB these
    # come from the incremental probe against the stored band frames
    # (dd_minhash_incremental machinery)
    new_pairs = all_p.where(
        (F.col("id_a") % 3 == 0) | (F.col("id_b") % 3 == 0)
    )
    # Optimization r14 (guide §2.3 — shrink the graph, not the shuffle):
    # the merge CC used to run over the FULL doc spine with one star edge
    # per old doc (corpus-sized work per snapshot). The output only needs
    # clusters containing a new doc, so contract every old endpoint to
    # its stored cluster representative and run CC on the REDUCED graph:
    # nodes = new docs ∪ touched old-cluster reps. Labels are provably
    # identical: CC labels are component-minimum ids, each old cluster's
    # rep IS its minimum member, and every reduced-graph component's min
    # node id therefore equals the full-graph component's min doc id.
    # Membership counts come from the stored sizes (old clusters are
    # internally connected through their star, so they merge atomically).
    # Work is now proportional to the snapshot + touched clusters.
    lbl_a = stored.select(
        F.col("doc_id").alias("id_a"), F.col("cluster_id").alias("ca")
    )
    lbl_b = stored.select(
        F.col("doc_id").alias("id_b"), F.col("cluster_id").alias("cb")
    )
    # snapshot-sized; eagerly checkpointed because the node spine and
    # the merge CC reference it three times — every un-truncated
    # reference re-inlines the whole LSH candidate pipeline into the
    # final plan (measured 109–193 Exchange nodes vs 16 checkpointed,
    # with the spine re-executing the candidate joins at final exec)
    mapped = checkpoint(
        new_pairs.join(lbl_a, "id_a", "left")
        .join(lbl_b, "id_b", "left")
        .select(
            F.coalesce("ca", F.col("id_a")).alias("id_a"),
            F.coalesce("cb", F.col("id_b")).alias("id_b"),
        )
    )
    nodes = (
        docs.where(is_new)
        .select("doc_id")
        .unionByName(mapped.select(F.col("id_a").alias("doc_id")))
        .unionByName(mapped.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    cc = dd.connected_components(mapped, nodes, "doc_id")
    sizes = stored.groupBy("cluster_id").agg(
        F.count("*").cast("bigint").alias("sz")
    )
    return (
        cc.join(
            sizes.withColumnRenamed("cluster_id", "doc_id"), "doc_id", "left"
        )
        .groupBy("cluster_id")
        .agg(
            F.sum(F.coalesce(F.col("sz"), F.lit(1).cast("bigint")))
            .cast("bigint")
            .alias("n_docs"),
            F.sum(is_new.cast("int")).cast("bigint").alias("n_new"),
        )
        .where(F.col("n_new") > 0)
        .orderBy("cluster_id")
    )
