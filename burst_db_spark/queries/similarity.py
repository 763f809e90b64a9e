"""Similarity-search queries over the embeddings table (array<float>).

Cross-engine float determinism: both sides compute dot products as an
element-ordered left fold in DOUBLE (Spark ``aggregate`` with 0.0 init ≡
DuckDB ``list_reduce`` — the 0.0+x1 first step is exact), so cosine values
match bit-for-bit and rank ties break on neighbor_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from burst_db_spark.catalog import load
from burst_db_spark.operators import similarity as sim
from burst_db_spark.queries.extra5 import _cos_sql
from burst_db_spark.registry import register

N_QUERIES = 10
TOP_K = 3


@register(
    "knn_cosine_brute",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    scored AS (
        SELECT query_id, neighbor_id, {_cos_sql("qv", "cv")} AS cos
        FROM c CROSS JOIN q
        WHERE neighbor_id != query_id
    )
    SELECT query_id, neighbor_id,
           CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY cos DESC, neighbor_id
           ) AS INTEGER) AS rank,
           cos
    FROM scored
    QUALIFY rank <= {TOP_K}
    """,
    tags=("similarity", "knn"),
)
def knn_cosine_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k: broadcast the query set, stream the
    candidates, one bounded top-k window at the end."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    return sim.cosine_topk(emb, queries, k=TOP_K)


@register(
    "knn_cosine_ivf",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS qcell
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv, label AS ccell
          FROM embeddings),
    scored AS (
        SELECT query_id, neighbor_id, {_cos_sql("qv", "cv")} AS cos
        FROM c JOIN q ON c.ccell = q.qcell
        WHERE neighbor_id != query_id
    )
    SELECT query_id, neighbor_id,
           CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY cos DESC, neighbor_id
           ) AS INTEGER) AS rank,
           cos
    FROM scored
    QUALIFY rank <= {TOP_K}
    """,
    tags=("similarity", "ann", "ivf"),
)
def knn_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: restrict candidates to the query's coarse cell
    (the label column stands in for a k-means cell id) — the pruned scale
    path; at 100 TB the cell comes from a broadcast codebook argmin."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    return sim.cosine_topk_partitioned(emb, queries, k=TOP_K)


def _ivf_multiprobe_sql(k: int = 8, n_queries: int = N_QUERIES, top_k: int = TOP_K) -> str:
    """DuckDB SQL for the multi-probe IVF search: identical centroid
    literals and left-fold distance accumulation, successive-argmin probe
    selection, cell-restricted exact top-k."""
    cents = sim.lsh_planes(k, dim=64)

    def dist(c: list[float]) -> str:
        lit = "[" + ", ".join(repr(x) for x in c) + "]"
        return (
            "list_reduce(list_transform(range(1, 65), i -> "
            f"(CAST(embedding[i] AS DOUBLE) - ({lit})[i]) * "
            f"(CAST(embedding[i] AS DOUBLE) - ({lit})[i])), (x, y) -> x + y)"
        )

    dists = "[" + ",\n               ".join(dist(c) for c in cents) + "]"
    return f"""
    WITH d AS (
        SELECT vec_id, embedding,
               {dists} AS dists
        FROM embeddings
    ),
    a AS (SELECT vec_id, embedding,
                 CAST(list_position(dists, list_min(dists)) AS INTEGER) AS cell
          FROM d),
    q1 AS (SELECT vec_id AS query_id, embedding AS qv, dists,
                  CAST(list_position(dists, list_min(dists)) AS INTEGER) AS c1
           FROM d WHERE vec_id < {n_queries}),
    q2 AS (SELECT *, list_transform(range(1, {k} + 1),
                     i -> CASE WHEN i = c1 THEN CAST('infinity' AS DOUBLE)
                               ELSE dists[i] END) AS d2
           FROM q1),
    q3 AS (SELECT query_id, qv, c1,
                  CAST(list_position(d2, list_min(d2)) AS INTEGER) AS c2
           FROM q2),
    probes AS (SELECT query_id, qv, unnest([c1, c2]) AS pcell FROM q3),
    scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               {_cos_sql("p.qv", "a.embedding")} AS cos
        FROM a JOIN probes p ON a.cell = p.pcell
        WHERE a.vec_id != p.query_id
    )
    SELECT query_id, neighbor_id,
           CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY cos DESC, neighbor_id
           ) AS INTEGER) AS rank,
           cos
    FROM scored
    QUALIFY rank <= {top_k}
    """


@register(
    "knn_cosine_ivf_multiprobe",
    oracle=_ivf_multiprobe_sql(),
    tags=("similarity", "ann", "ivf", "multiprobe"),
)
def knn_cosine_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with multi-probe (nprobe=2): every vector is assigned its
    nearest cell of a fixed deterministic codebook (the LCG plane
    generator doubles as centroid source so both engines inline identical
    literals); each query searches its TWO nearest cells. The probe list
    explodes to (query, cell) rows and the candidate join stays a hash
    equi-join on the cell id — 2× the single-probe candidates, recovering
    boundary-loss recall with no quadratic path."""
    emb = load(spark, sf_dir, "embeddings")
    cents = sim.lsh_planes(8, dim=64)
    cand = sim.assign_cells(emb, cents, out_col="ccell").select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        "ccell",
    )
    q = sim.probe_cells(
        emb.where(F.col("vec_id") < N_QUERIES), cents, nprobe=2
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.explode("probes").alias("pcell"),
    )
    from pyspark.sql import Window

    scored = (
        cand.join(
            F.broadcast(q),
            (F.col("ccell") == F.col("pcell"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .withColumn("cos", sim.cosine(F.col("qv"), F.col("cv")))
        .select("query_id", "neighbor_id", "cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select(
            "query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "cos"
        )
    )


@register(
    "knn_cosine_ivf_learned",
    oracle=None,
    tags=("similarity", "ann", "ivf", "kmeans", "rows-only"),
)
def knn_cosine_ivf_learned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a TRAINED codebook: Lloyd's k-means over the corpus
    (deterministic md5 seeding, broadcast-codebook argmin assignment,
    one posexplode shuffle per iteration), then the cell-restricted
    top-k search. Rows-only: the iterative trainer isn't
    SQL-expressible; determinism is pinned by the seeded init, so row
    counts and values are stable across runs. The trained-assignment +
    partitioned-search machinery IS hash-checked by the round-6 sibling
    ``knn_ivf_learned_exhaustive`` (probing all cells makes the result
    equal brute force, whatever the centroids — queries/round6.py);
    only the nprobe=1 pruning itself remains rows-only here."""
    from burst_db_spark.operators.similarity import (
        assign_cells,
        cosine_topk_partitioned,
        kmeans_codebook,
    )

    emb = load(spark, sf_dir, "embeddings")
    codebook = kmeans_codebook(emb, k=8, iters=2)
    cells = assign_cells(emb, codebook)
    queries = cells.where(F.col("vec_id") < 20)
    return cosine_topk_partitioned(cells, queries, cell_col="cell", k=3)
