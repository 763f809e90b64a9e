"""Round-6 queries: the WRITE half of the Spark-4 Python DataSource
surface (batch two-phase-commit writer + streaming append sink for the
zarr_py format), the forced-DISTRIBUTED connected-components path, the
Arrow-optimized Python UDF surface, framed audio features, A-ES
weighted sampling, count-min sketch merge, the exhaustive-probe derived
oracle for the trained-IVF path, and Spark 4's recursive CTE surface.

These register BEHIND the driver sampling prefix this round (the r5
verdict ordered the stale-row rotation first) and lead round 7's.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from burst_db_spark.catalog import load
from burst_db_spark.queries.textops import _SHINGLES_CTE
from burst_db_spark.registry import register
from burst_db_spark.runner import persist, tmpdir
from burst_db_spark.streaming import run_drain

# ---------------------------------------------------------------------------
# S14: Python DataSource WRITER (df.write.format("zarr_py")) round-trip


@register(
    "s14_zarr_py_writer",
    oracle="""
    WITH cells AS (
        SELECT (year(l_shipdate) - 1995) * 12 + month(l_shipdate) - 1 AS t,
               l_suppkey % 8 AS si, l_partkey % 8 AS pi,
               CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS v
        FROM lineitem GROUP BY 1, 2, 3
    )
    SELECT CAST(pi AS BIGINT) AS pi,
           CAST(sum(v) AS BIGINT) AS total_qty,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(max(v) AS BIGINT) AS max_cell
    FROM cells
    WHERE t >= 24 AND si < 6
    GROUP BY 1
    ORDER BY 1
    """,
    tags=("S14", "zarr", "datasource-api", "writer", "two-phase-commit"),
)
def s14_zarr_py_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE half of the Spark-4 Python DataSource API
    (sources/pyds.py ZarrPyWriter): the quantity cube goes OUT through
    ``df.write.format("zarr_py").mode("overwrite")`` — a real two-phase
    commit (tasks stage whole chunk files; the driver verifies no chunk
    was written by two tasks, then publishes chunks + .zarray
    atomically-per-file) — and comes back via the registered reader.
    ``chunk_repartitioned`` provides the one-exchange layout that makes
    chunk ownership exclusive; a DIFFERENT slice than s13 (late months,
    low supplier cells, plus a max) is aggregated so this row cannot
    pass off the read path alone. At 100 TB this is the pattern for
    writing sharded tensor/cube artifacts from a 1000-executor job
    without a coordinator."""
    from burst_db_spark.sources.pyds import register_zarr_py
    from burst_db_spark.sources.zarr import chunk_repartitioned

    store = os.path.join(tmpdir("bds_s14_"), "cube")
    li = load(spark, sf_dir, "lineitem")
    cells = (
        li.select(
            ((F.year("l_shipdate") - 1995) * 12 + F.month("l_shipdate") - 1).alias(
                "t"
            ),
            (F.col("l_suppkey") % 8).alias("si"),
            (F.col("l_partkey") % 8).alias("pi"),
            F.floor("l_quantity").cast("bigint").alias("q"),
        )
        .groupBy("t", "si", "pi")
        .agg(F.sum("q").cast("bigint").alias("v"))
    )
    register_zarr_py(spark)
    (
        chunk_repartitioned(cells, ["t", "si", "pi"], [12, 8, 8])
        .write.format("zarr_py")
        .option("store", store)
        .option("dims", "t,si,pi")
        .option("value_col", "v")
        .option("shape", "84,8,8")
        .option("chunks", "12,8,8")
        .option("compressor", '{"id": "zlib", "level": 6}')
        .mode("overwrite")
        .save()
    )
    back = (
        spark.read.format("zarr_py")
        .option("store", store)
        .option("dims", "t,si,pi")
        .option("value_col", "v")
        .load()
    )
    return (
        back.where((F.col("v") > 0) & (F.col("t") >= 24) & (F.col("si") < 6))
        .groupBy(F.col("pi").cast("bigint").alias("pi"))
        .agg(
            F.sum("v").cast("bigint").alias("total_qty"),
            F.count("*").cast("bigint").alias("n_cells"),
            F.max("v").cast("bigint").alias("max_cell"),
        )
        .orderBy("pi")
    )


# ---------------------------------------------------------------------------
# Streaming zarr sink: writeStream.format("zarr_py") appends t-chunks


@register(
    "stream_zarr_append_sink",
    oracle="""
    WITH daily AS (
        SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS t,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    )
    SELECT CAST(t // 7 AS BIGINT) AS week,
           CAST(sum(n) AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(max(n) AS BIGINT) AS peak_day
    FROM daily GROUP BY 1 ORDER BY 1
    """,
    tags=("Str", "zarr", "datasource-api", "stream-writer", "oracle-checked"),
)
def stream_zarr_append_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Python DataSource SINK (ZarrPyStreamWriter): daily
    event counts stream into a growing 1-D zarr cube —
    ``writeStream.format("zarr_py")`` — four mtime-ordered micro-batches
    each carrying one whole t-chunk of days, per-batch two-phase commit
    growing ``shape[0]`` monotonically (the exact growth model the
    zarr_py STREAM READER consumes, so the two halves compose into a
    cube-to-cube pipeline). Exactly-once: commit(batchId) records the
    published t extent; a replayed batch re-stages identical bytes.
    The oracle recomputes the weekly rollup of the day cells straight
    from events — hash-equal iff no day was lost, duplicated, or torn
    across the stream."""
    from burst_db_spark.sources.pyds import register_zarr_py
    from burst_db_spark.sources.zarr import chunk_repartitioned

    register_zarr_py(spark)
    tmp = tmpdir("bds_szs_")
    store = os.path.join(tmp, "cube")
    cells = (
        load(spark, sf_dir, "events")
        .select(
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).alias(
                "t"
            )
        )
        .groupBy("t")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    # one parquet file per t-chunk of 8 days, mtime-ordered -> each
    # micro-batch appends exactly one chunk row-range
    now = 1_700_000_000
    for i in range(4):
        d = f"{tmp}/in/b{i}"
        cells.where((F.col("t") >= i * 8) & (F.col("t") < (i + 1) * 8)).coalesce(
            1
        ).write.parquet(d)
        for fn in os.listdir(d):
            os.utime(os.path.join(d, fn), (now + i * 3600,) * 2)

    stream = (
        spark.readStream.format("parquet")
        .schema("t long, n long")
        .option("maxFilesPerTrigger", "1")
        .load(f"{tmp}/in/*")
    )
    run_drain(
        spark,
        chunk_repartitioned(stream, ["t"], [8], n_partitions=4)
        .writeStream.format("zarr_py")
        .option("store", store)
        .option("dims", "t")
        .option("value_col", "n")
        .option("shape", "8")  # grows per committed batch: 8->16->24->32
        .option("chunks", "8")
        .outputMode("append"),
        tmp,
    )
    back = (
        spark.read.format("zarr_py")
        .option("store", store)
        .option("dims", "t")
        .option("value_col", "n")
        .load()
    )
    return (
        back.where(F.col("n") > 0)
        .groupBy(F.floor(F.col("t") / 7).cast("bigint").alias("week"))
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.count("*").cast("bigint").alias("n_days"),
            F.max("n").cast("bigint").alias("peak_day"),
        )
        .orderBy("week")
    )


# ---------------------------------------------------------------------------
# G4: connected components FORCED down the distributed iterative path


@register(
    "g4_cc_iterative",
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
    )
    SELECT CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN doc_id = cluster_id THEN 0 ELSE 1 END)
                AS BIGINT) AS n_relabeled,
           CAST(min(cluster_id) AS BIGINT) AS first_cluster,
           CAST(max(cluster_id) AS BIGINT) AS last_cluster
    FROM labels
    """,
    tags=("graph", "connected-components", "iterative", "distributed-path"),
)
def g4_cc_iterative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components with the local union-find fast path DISABLED
    (``local_edge_gate=0``): every label comes from the distributed
    iterative min-label propagation — O(log diameter) join+min-agg
    rounds, the ONLY path that exists at 100 TB edge volumes.
    ``dd_dedup_clusters`` exercises the gated small-graph path at driver
    scale; this row pins the big-graph path against the same
    recursive-CTE transitive-closure oracle (summarized, so the check
    covers every label without a 500-row result)."""
    from burst_db_spark.operators import dedup as dd

    docs = load(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(docs, "doc_id", threshold=0.2)
    labels = dd.connected_components(pairs, docs, "doc_id", local_edge_gate=0)
    return labels.agg(
        F.countDistinct("cluster_id").cast("bigint").alias("n_clusters"),
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(
            F.when(F.col("doc_id") == F.col("cluster_id"), 0).otherwise(1)
        )
        .cast("bigint")
        .alias("n_relabeled"),
        F.min("cluster_id").cast("bigint").alias("first_cluster"),
        F.max("cluster_id").cast("bigint").alias("last_cluster"),
    )


# ---------------------------------------------------------------------------
# F10: Arrow-optimized Python UDF (useArrow=True)


@register(
    "f_arrow_udf_normalize",
    oracle="""
    SELECT upper(substr(trim(p_name), 1, 4)) AS prefix,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(CAST(p_size AS BIGINT)) AS BIGINT) AS total_size
    FROM part
    GROUP BY 1 ORDER BY 1
    """,
    tags=("F10", "udf", "arrow", "python-udf"),
)
def f_arrow_udf_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized Python scalar UDF (``useArrow=True`` — Spark 4's
    batched Arrow transfer for plain ``F.udf``, the middle ground
    between row-pickled UDFs and full pandas_udfs): a string normalizer
    (trim → upper → 4-char prefix) applied to part names, then grouped.
    The hot path stays a single vectorized exchange per batch; the
    oracle is the same expression in SQL. Kept deliberately tiny — the
    engine's real kernels use pandas_udf/applyInPandas (geo/udfs.py,
    similarity.py); this row pins the third UDF transport working."""
    norm = F.udf(
        lambda s: s.strip().upper()[:4] if s is not None else None,
        "string",
        useArrow=True,
    )
    part = load(spark, sf_dir, "part")
    return (
        part.select(norm("p_name").alias("prefix"), "p_size")
        .groupBy("prefix")
        .agg(
            F.count("*").cast("bigint").alias("n_parts"),
            F.sum(F.col("p_size").cast("bigint")).cast("bigint").alias(
                "total_size"
            ),
        )
        .orderBy("prefix")
    )


# ---------------------------------------------------------------------------
# MM: framed audio features over real decoded PCM


@register(
    "mm_audio_windows",
    oracle="""
    WITH s AS (
        SELECT user_id,
               CAST(least(greatest(floor(value * 10 + 0.5), -32000), 32000)
                    AS BIGINT) AS smp,
               (row_number() OVER (PARTITION BY user_id ORDER BY event_id)
                - 1) // 64 AS fidx,
               row_number() OVER (PARTITION BY user_id ORDER BY event_id)
                AS rn
        FROM events
    ),
    lagged AS (
        SELECT user_id, smp, fidx,
               lag(smp) OVER (PARTITION BY user_id ORDER BY rn) AS prev,
               lag(fidx) OVER (PARTITION BY user_id ORDER BY rn) AS pfidx
        FROM s
    ),
    frames AS (
        SELECT user_id, fidx,
               CAST(sum(smp * smp) AS BIGINT) AS energy
        FROM s GROUP BY 1, 2
    ),
    zc AS (
        SELECT user_id,
               CAST(count(*) FILTER (WHERE smp * prev < 0 AND fidx = pfidx)
                    AS BIGINT) AS zero_crossings
        FROM lagged GROUP BY 1
    )
    SELECT f.user_id AS user_id,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(sum(energy) AS BIGINT) AS total_energy,
           CAST(max(energy) AS BIGINT) AS max_frame_energy,
           CAST(max(zc.zero_crossings) AS BIGINT) AS zero_crossings
    FROM frames f JOIN zc ON f.user_id = zc.user_id
    GROUP BY 1
    """,
    tags=("multimodal", "audio", "real-decode", "feature-extraction"),
)
def mm_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Framed audio feature extraction (operators/multimodal.py
    audio_window_features): per-user event values quantized to PCM16,
    encoded into REAL WAV containers, decoded back, framed into
    64-sample windows, and reduced to per-frame energy + zero-crossing
    counts — the VAD/energy-gate preprocessing shape of a speech
    training pipeline. All integer arithmetic, so the oracle reproduces
    quantization + framing + crossings relationally and the decoded
    features hash-match exactly (fails if the codec drops, reorders, or
    corrupts one sample)."""
    from burst_db_spark.operators import multimodal as mm

    ev = load(spark, sf_dir, "events")
    return mm.audio_window_features(
        ev, key="user_id", value_col="value", order_col="event_id", frame=64
    )


# ---------------------------------------------------------------------------
# T: deterministic weighted sampling (A-ES exponential races)


@register(
    "t_weighted_sample",
    oracle="""
    WITH keyed AS (
        SELECT source, doc_id, n_chars,
               ln((CAST(('0x' || substr(md5('wsamp:' || CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) + 0.5) / 4294967296.0)
               / CAST(n_chars AS DOUBLE) AS aes_key
        FROM documents
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY source ORDER BY aes_key DESC, doc_id
        ) AS rn
        FROM keyed
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(sum(n_chars) AS BIGINT) AS sampled_chars,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum,
           CAST(min(doc_id) AS BIGINT) AS first_id,
           CAST(max(doc_id) AS BIGINT) AS last_id
    FROM ranked WHERE rn <= 25
    GROUP BY source ORDER BY source
    """,
    tags=("text", "sampling", "weighted", "curation"),
)
def t_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, 25 docs per source,
    probability proportional to document length (A-ES exponential
    races, Efraimidis–Spirakis 2006 — public literature): rank by
    ln(u)/weight with u a salted-md5 pure function of doc_id, take the
    per-stratum top-k. Deterministic across engines, re-runs, and
    cluster sizes — the reproducible quality-weighted counterpart to
    t_stratified_sample's uniform thresholds. The id_checksum /
    first/last columns pin the EXACT selected set, so the hash check
    proves both engines rank the same keys the same way."""
    from burst_db_spark.operators.packing import weighted_sample_topk

    docs = load(spark, sf_dir, "documents")
    picked = weighted_sample_topk(
        docs, key="doc_id", strata_col="source", weight_col="n_chars", k=25
    )
    return (
        picked.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_sampled"),
            F.sum("n_chars").cast("bigint").alias("sampled_chars"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
            F.min("doc_id").cast("bigint").alias("first_id"),
            F.max("doc_id").cast("bigint").alias("last_id"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# A31: count-min sketch — build per day, MERGE across days, probe


@register(
    "a31_countmin_merge",
    oracle="""
    WITH probes AS (
        SELECT DISTINCT user_id FROM events ORDER BY user_id LIMIT 5
    ),
    depths AS (SELECT unnest(range(0, 4)) AS d),
    cells AS (
        SELECT CAST(ts AS DATE) AS day, d.d AS d,
               CAST(('0x' || substr(md5(d.d || ':' || CAST(user_id AS VARCHAR)),
                                    1, 8)) AS BIGINT) % 64 AS bucket,
               CAST(count(*) AS BIGINT) AS n
        FROM events CROSS JOIN depths d
        GROUP BY 1, 2, 3
    ),
    merged AS (
        SELECT d, bucket, CAST(sum(n) AS BIGINT) AS total
        FROM cells GROUP BY 1, 2
    ),
    est AS (
        SELECT p.user_id,
               CAST(min(m.total) AS BIGINT) AS cms_estimate
        FROM probes p
        CROSS JOIN depths d
        JOIN merged m
          ON m.d = d.d
         AND m.bucket = CAST(('0x' || substr(md5(d.d || ':' ||
                              CAST(p.user_id AS VARCHAR)), 1, 8))
                             AS BIGINT) % 64
        GROUP BY 1
    ),
    exact AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS exact_count
        FROM events WHERE user_id IN (SELECT user_id FROM probes)
        GROUP BY 1
    )
    SELECT e.user_id AS user_id, x.exact_count AS exact_count,
           e.cms_estimate AS cms_estimate,
           CAST(e.cms_estimate - x.exact_count AS BIGINT) AS overcount
    FROM est e JOIN exact x ON e.user_id = x.user_id
    ORDER BY 1
    """,
    tags=("A31", "sketch", "count-min", "mergeable"),
)
def a31_countmin_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch with the MERGE property exercised end-to-end —
    the heavy-hitter sibling of a27's HLL union: per-day 4x64 sketches
    (one map-side groupBy over (day, depth, md5-bucket) — the explode is
    4 rows/event, all JVM), summed cell-wise across days (sketch
    merge == plain addition, the 100 TB re-aggregation property), then
    probed for the five smallest user ids: estimate = min over depths of
    the merged cell. Everything is exact integer arithmetic on both
    engines, so est, exact, and the CMS overcount (always >= 0 by the
    theorem) hash-match bit-for-bit — unlike approx_distinct, the sketch
    itself is deterministic."""
    ev = load(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"), "user_id"
    )
    depths = F.array(*[F.lit(i) for i in range(4)])

    def bucket(d: F.Column, key: F.Column) -> F.Column:
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(d.cast("string"), F.lit(":"),
                                   key.cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 64
        )

    cells = (
        ev.select("day", "user_id", F.explode(depths).alias("d"))
        .groupBy("day", "d", bucket(F.col("d"), F.col("user_id")).alias("bucket"))
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    merged = cells.groupBy("d", "bucket").agg(
        F.sum("n").cast("bigint").alias("total")
    )
    probes = (
        ev.select("user_id").distinct().orderBy("user_id").limit(5)
    )
    probe_cells = probes.select(
        "user_id", F.explode(depths).alias("d")
    ).withColumn("bucket", bucket(F.col("d"), F.col("user_id")))
    est = (
        probe_cells.join(merged, ["d", "bucket"])
        .groupBy("user_id")
        .agg(F.min("total").cast("bigint").alias("cms_estimate"))
    )
    exact = (
        ev.join(F.broadcast(probes), "user_id")
        .groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("exact_count"))
    )
    return (
        est.join(exact, "user_id")
        .select(
            "user_id",
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count"))
            .cast("bigint")
            .alias("overcount"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# KNN: trained-IVF machinery made hash-checkable via exhaustive probing


from burst_db_spark.queries.similarity import _cos_sql as _cos  # noqa: E402

_KNN_EXH_ORACLE = f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id >= 20 AND vec_id < 35),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    scored AS (
        SELECT query_id, neighbor_id, {_cos("qv", "cv")} AS cos
        FROM c CROSS JOIN q
        WHERE neighbor_id != query_id
    )
    SELECT query_id, neighbor_id,
           CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY cos DESC, neighbor_id
           ) AS INTEGER) AS rank,
           cos
    FROM scored
    QUALIFY rank <= 5
    """


@register(
    "knn_ivf_learned_exhaustive",
    oracle=_KNN_EXH_ORACLE,
    tags=("similarity", "ann", "ivf", "kmeans", "derived-oracle"),
)
def knn_ivf_learned_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived-oracle trick applied to the LEARNED-codebook IVF path
    (the last ANN no-oracle row): train Lloyd's k-means (seeded,
    iterative — not SQL-expressible), assign every vector to its argmin
    cell, then run the cell-partitioned search with every query probing
    ALL 8 cells. Each candidate lives in exactly one cell, so the
    union of cell-restricted searches IS the exact brute-force top-k —
    whatever centroids training produced. The DuckDB oracle is the
    brute-force definition, so a hash match proves the trained
    assignment + cell-partitioned join + rank machinery loses or
    duplicates no candidate. The REALISTIC pruned configuration
    (nprobe=1) stays covered by knn_cosine_ivf_learned (rows-only) and
    the recall audits."""
    from burst_db_spark.operators.similarity import (
        assign_cells,
        cosine_topk_partitioned,
        kmeans_codebook,
    )

    emb = load(spark, sf_dir, "embeddings")
    codebook = kmeans_codebook(emb, k=8, iters=2)
    # Optimization r14 (guide §2.3): the assigned-cell table feeds BOTH
    # the query subset and the candidate side of the cell join —
    # uncached, the per-row k-distance argmin assignment evaluated
    # twice. Persist + eager count (the wave-4 device; assignment is
    # row-wise deterministic, values identical).
    cells = persist(assign_cells(emb, codebook))
    cells.count()
    queries = (
        cells.where((F.col("vec_id") >= 20) & (F.col("vec_id") < 35))
        .select("vec_id", "embedding")
        .withColumn("cell", F.explode(F.sequence(F.lit(1), F.lit(8))))
    )
    return cosine_topk_partitioned(cells, queries, cell_col="cell", k=5)


# ---------------------------------------------------------------------------
# F11: Spark-4 recursive CTE — calendar spine gap-fill


@register(
    "f_recursive_cte_gapfill",
    oracle="""
    WITH RECURSIVE spine(d) AS (
        SELECT CAST(min(ts) AS DATE) FROM events
        UNION ALL
        SELECT CAST(d + INTERVAL 1 DAY AS DATE) FROM spine
        WHERE d < (SELECT CAST(max(ts) AS DATE) FROM events)
    ),
    daily AS (
        SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    )
    SELECT s.d AS day,
           CAST(coalesce(daily.n, 0) AS BIGINT) AS n_events,
           coalesce(daily.n, 0) > 0 AS has_events
    FROM spine s LEFT JOIN daily ON daily.d = s.d
    ORDER BY day
    """,
    tags=("F11", "recursive-cte", "spark4", "gap-fill"),
)
def f_recursive_cte_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's RECURSIVE CTE surface (WITH RECURSIVE ... UNION ALL —
    resolved by Catalyst's ResolveWithCTE into an iterative union
    execution): a calendar day spine over [min(ts), max(ts)],
    left-joined to daily counts so silent gap days surface as zero rows.
    The bounds are computed once and inlined as literals; the spine's
    day offsets come from a HEAP-INDEX recursion (each step emits
    children 2i+1 and 2i+2 of the working set), so the N+1 days take
    ceil(log2(N+1)) iterations, not N. On empty input the spine is one
    NULL day and no recursion runs (the non-recursive branch below).
    The DuckDB oracle grows the same day set one row per step, so the
    result matches while the Spark side keeps the recursion short. The
    production gap-fill shape remains sequence()+explode
    (w12_linear_interpolation) — one generate, no iterative plan; this
    row exists to pin the recursion feature itself, the SQL analog of
    the engine's iterative operators (connected components, PageRank)."""
    events = load(spark, sf_dir, "events")
    # r15 restructure (guide §2.3/§5; VERDICT r14 item 4). The original
    # one-day-per-step recursion (plans/r15/f_recursive_cte_gapfill_
    # before.txt) had TWO surplus costs the plan dump proves: (a) the
    # recursive step's Filter holds `scalar-subquery [max(ts) over the
    # parquet scan]` INSIDE the UnionLoop, re-evaluated every iteration
    # — one full events re-scan per spine day; (b) the loop runs
    # datediff(max,min) iterations of a one-row step, each a driver-paced
    # job. Fix keeps the RECURSIVE surface this row exists to pin and the
    # identical result: the date bounds are computed ONCE (same CAST
    # semantics, evaluated by Spark itself) and inlined as literals, and
    # the spine is generated by HEAP-INDEX recursion — step k emits
    # children 2i+1 and 2i+2 of every index in the working set, so every
    # integer in [0, N] is produced exactly once in ceil(log2(N+1))
    # iterations instead of N. Same day set [min_d, max_d], same oracle.
    row = spark.sql(
        "SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi,"
        " datediff(CAST(max(ts) AS DATE), CAST(min(ts) AS DATE)) AS n"
        " FROM {events}",
        events=events,
    ).first()
    if row["lo"] is None:
        # empty input: the original anchor emits one NULL row and the
        # recursion stops (NULL < max is not true) — replicate it
        spine_sql = "SELECT CAST(NULL AS DATE) AS d"
    else:
        lo, n_days = row["lo"].isoformat(), int(row["n"])
        spine_sql = f"""
        WITH RECURSIVE idx(i) AS (
            SELECT 0
            UNION ALL
            SELECT i * 2 + o AS i
            FROM idx CROSS JOIN (SELECT 1 AS o UNION ALL SELECT 2 AS o)
            WHERE i * 2 + o <= {n_days}
        )
        SELECT date_add(DATE'{lo}', i) AS d FROM idx
        """
    return spark.sql(f"""
        WITH spine AS ({spine_sql}),
        daily AS (
            SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n
            FROM {{events}} GROUP BY 1
        )
        SELECT s.d AS day,
               CAST(coalesce(daily.n, 0) AS BIGINT) AS n_events,
               coalesce(daily.n, 0) > 0 AS has_events
        FROM spine s LEFT JOIN daily ON daily.d = s.d
        ORDER BY day
    """, events=events)


# ---------------------------------------------------------------------------
# S15: schema evolution across parquet shards (mergeSchema)


@register(
    "s15_schema_evolution",
    oracle="""
    SELECT CAST(event_id % 2 AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null_props,
           CAST(CAST(sum(CAST(value AS DECIMAL(18, 6))) AS DECIMAL(28, 6))
                AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1 ORDER BY 1
    """,
    tags=("S15", "schema-evolution", "mergeSchema", "parquet"),
)
def s15_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across shard generations — how a long-lived
    corpus actually accumulates: an OLD shard written without ``props``
    and a NEW shard written with it land in one directory, and
    ``mergeSchema`` reconciles them (old rows surface NULL for the
    added column; Spark unions the footers per file, no rewrite of old
    data — the 100 TB property: adding a column must not touch existing
    shards). The aggregate pins the reconciliation: every old-shard row
    must read back with NULL props, every new-shard row with its value,
    and the decimal-exact value sum proves no row was dropped or
    duplicated across the generations."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "value", "props"
    )
    tmp = tmpdir("bds_s15_")
    old = ev.where(F.col("event_id") % 2 == 0).drop("props")
    new = ev.where(F.col("event_id") % 2 == 1)
    old.write.parquet(f"{tmp}/data/gen=0")
    new.write.parquet(f"{tmp}/data/gen=1")
    merged = (
        spark.read.option("mergeSchema", "true").parquet(f"{tmp}/data")
    )
    return (
        merged.groupBy((F.col("event_id") % 2).cast("bigint").alias("shard"))
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(F.col("props").isNull().cast("bigint"))
            .cast("bigint")
            .alias("n_null_props"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("decimal(28,6)")
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# J16: as-of join with tolerance (merge_asof semantics)


@register(
    "j16_asof_tolerance",
    oracle="""
    WITH v AS (
        SELECT event_id, ts, user_id FROM events WHERE event_type = 'view'
    ),
    p AS (
        SELECT event_id, ts, user_id FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id AS buy_id,
           p.user_id AS user_id,
           CASE WHEN v.ts IS NOT NULL
                 AND p.ts - v.ts <= INTERVAL 30 MINUTES
                THEN v.event_id END AS asof_view_id,
           CASE WHEN v.ts IS NOT NULL
                 AND p.ts - v.ts <= INTERVAL 30 MINUTES
                THEN v.ts END AS asof_view_ts
    FROM p ASOF LEFT JOIN v
      ON p.user_id = v.user_id AND v.ts <= p.ts
    """,
    tags=("J16", "asof", "tolerance", "timeseries"),
)
def j16_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with TOLERANCE (pandas merge_asof(tolerance=...) /
    tick-store semantics, the variant plain j12 can't express): each
    purchase attaches the same user's most recent prior view ONLY if it
    happened within 30 minutes — a stale attribution is worse than
    none, so out-of-tolerance rows keep NULLs instead of being dropped
    (LEFT-preserving: the row count equals the purchase count exactly).
    One exchange on user_id (union + ordered window carry), no range
    join. The oracle is DuckDB's native ASOF LEFT JOIN with the
    tolerance applied as a CASE mask — two independent formulations of
    the same semantics agreeing hash-exactly."""
    from burst_db_spark.operators.joins import asof_join_tolerance

    ev = load(spark, sf_dir, "events").select("event_id", "ts", "user_id",
                                              "event_type")
    views = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "ts", "user_id"
    )
    buys = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("buy_id"), "ts", "user_id"
    )
    out = asof_join_tolerance(
        buys,
        views.withColumn("view_ts", F.col("ts")),
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        value_cols=["view_id", "view_ts"],
        tolerance_seconds=1800,
    )
    return out.select(
        "buy_id",
        "user_id",
        F.col("asof_view_id").alias("asof_view_id"),
        F.col("asof_view_ts").alias("asof_view_ts"),
    )
