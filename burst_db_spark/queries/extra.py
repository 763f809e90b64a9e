"""Additional coverage queries: lag deltas, top-k per group, the EP1
frame-partitioning pipeline (rows-only — DP optimization isn't SQL), and
embedding-cosine near-duplicate pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from burst_db_spark.catalog import load
from burst_db_spark.operators.setops import topk_per_group
from burst_db_spark.operators import similarity as sim_ops
from burst_db_spark.operators.similarity import cosine
from burst_db_spark.registry import register
from burst_db_spark.runner import persist
from burst_db_spark.session import fan_out


@register(
    "w_lag_delta",
    oracle="""
    SELECT event_id, user_id,
           epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                  ORDER BY ts, event_id)
               AS gap_us
    FROM events
    """,
    tags=("W2", "lag"),
)
def w_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key inter-arrival gaps (the sessionization building block,
    reconcile_and_label_db.py:322-327) surfaced directly.

    Exact integer microseconds — a double-seconds gap differs in the last
    ulp between engines (µs/1e6 subtraction order)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    return ev.select("event_id", "user_id", gap.alias("gap_us"))


@register(
    "o5_topk_per_group",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice
    FROM orders
    QUALIFY row_number() OVER (
        PARTITION BY o_orderpriority
        ORDER BY o_totalprice DESC, o_orderkey
    ) <= 3
    """,
    tags=("topk-per-group",),
)
def o5_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per priority — the standard OLAP window pattern."""
    orders = load(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    return topk_per_group(
        orders,
        ["o_orderpriority"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        3,
    )


def _ep1_minimal_oracle() -> str:
    from burst_db_spark.plans.ep1_oracle import minimal_db_oracle_sql

    return minimal_db_oracle_sql()


def _ep1_partition_oracle() -> str:
    from burst_db_spark.plans.ep1_oracle import frame_partition_oracle_sql

    return frame_partition_oracle_sql()


@register(
    "ep1_minimal_db",
    oracle=_ep1_minimal_oracle(),
    tags=("EP1", "geo", "utm"),
)
def ep1_minimal_db(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP1 tail end-to-end (build_frame_db.py:409-450 + make_minimal_db):
    frames -> EPSG classification (incl. antimeridian + Norway/Svalbard
    rules) -> per-EPSG forward projection -> meter envelope -> 30 m snap
    with 5 km margin -> the minimal-DB integer columns. Oracle: full SQL
    re-derivation (plans/ep1_oracle.py) — the DP replayed as a recursive
    CTE, the split/EPSG/Greenland geometry in closed form, and the Snyder
    projection series transcribed term-for-term; all-integer output, so
    the 30 m snap absorbs libm-vs-numpy ulp noise (measured margin:
    ≥0.0019 grid units ≈ 5.6 cm). Exactness of the projection itself is
    additionally anchored by golden tests against the published
    utm-package vector (tests/test_geo.py)."""
    from burst_db_spark.plans import fixtures
    from burst_db_spark.plans.frame_db import build_frames, enrich_frames

    trip = fixtures.burst_triplets(spark, n_triplets=600, n_tracks=12)
    frames, _bridge = build_frames(trip)
    return enrich_frames(frames).select(
        "frame_fid", "epsg", "uxmin", "uymin", "uxmax", "uymax"
    ).orderBy("frame_fid")


@register(
    "ep1_frame_partition",
    oracle=_ep1_partition_oracle(),
    tags=("EP1", "F5", "applyInPandas"),
)
def ep1_frame_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP1 frame partitioning end-to-end on the deterministic burst
    fixtures (sf-independent): land-run grouping → per-run DP solver →
    frames table. Oracle: the DP optimum IS SQL-expressible at fixture
    size — plans/ep1_oracle.py enumerates every size composition with a
    recursive CTE and reproduces the solver's exact descending-size
    tie-break via reversed-path lexicographic order (hash-exact vs the
    applyInPandas solver, doubles included)."""
    from burst_db_spark.plans import fixtures
    from burst_db_spark.plans.frame_db import build_frames

    trip = fixtures.burst_triplets(spark, n_triplets=600, n_tracks=12)
    frames, _bridge = build_frames(trip)
    return frames.orderBy("frame_fid")


@register(
    "dd_embedding_nn",
    oracle=sim_ops.lsh_oracle_sql(),
    tags=("dedup", "embedding", "similarity", "lsh", "scale-path"),
)
def dd_embedding_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-pruned (the 100 TB path).

    Sign-bit LSH over deterministic hyperplanes → banded bucket keys →
    ONE self-equi-join on (band_idx, band_key) → exact cosine on the
    surviving candidates only. No cartesian pair-join anywhere; the
    oracle replicates the identical plane literals and fold order so the
    candidate set and cosines are bit-identical. Recall vs the exact
    all-pairs baseline is measured by ``dd_embedding_nn_exact_audit``.
    """
    return sim_ops.lsh_near_dup_pairs(fan_out(load(spark, sf_dir, "embeddings")))


@register(
    "dd_embedding_nn_multiprobe",
    oracle=sim_ops.lsh_multiprobe_oracle_sql(),
    tags=("dedup", "embedding", "similarity", "lsh", "multiprobe"),
)
def dd_embedding_nn_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via MULTI-PROBE sign-bit LSH: half the
    bands of ``dd_embedding_nn`` (8×4 bits vs 16), each vector also
    probing every 1-bit flip of its band keys — Hamming-1 band matches
    become candidates, so the smaller signature keeps the recall. The
    probe explode is bounded (b·(r+1) rows/vector) and the join stays a
    hash equi-join on (band_idx, key). Oracle replicates planes, folds,
    keys, and probe masks bit-for-bit."""
    return sim_ops.lsh_near_dup_pairs_multiprobe(
        fan_out(load(spark, sf_dir, "embeddings"))
    )


@register(
    "dd_embedding_nn_exact_audit",
    oracle="""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_reduce(list_transform(range(1, len(a.embedding) + 1),
                   i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
                   (x, y) -> x + y)
               / (sqrt(list_reduce(list_transform(range(1, len(a.embedding) + 1),
                   i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)),
                   (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(range(1, len(b.embedding) + 1),
                   i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
                   (x, y) -> x + y))) AS cos
        FROM e a JOIN e b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cos FROM pairs WHERE cos >= 0.4
    """,
    tags=("dedup", "embedding", "similarity"),
)
def dd_embedding_nn_exact_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIT-SCALE ONLY: exact all-pairs embedding-cosine near-dup pairs.

    O(N²) by construction — the measuring stick for the LSH path's
    recall at small SF, never the 100 TB path. The registered scale
    query is ``dd_embedding_nn`` (sign-bit LSH banding, bounded joins).
    """
    from burst_db_spark.operators.similarity import _dot, _norm

    emb = load(spark, sf_dir, "embeddings")
    # precompute each vector's norm ONCE (same left-fold expression →
    # bit-identical to computing it per pair, 3x less work on N² pairs);
    # the fan-out spreads the nested-loop join's N²/2 pairs over tasks
    with_norm = persist(
        fan_out(emb)
        .select("vec_id", "embedding", _norm(F.col("embedding")).alias("nrm"))
    )
    a = with_norm.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = with_norm.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn(
            "cos", _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        )
        .where(F.col("cos") >= 0.4)
        .select("id_a", "id_b", "cos")
    )
