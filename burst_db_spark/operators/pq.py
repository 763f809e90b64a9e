"""Product quantization (Jégou et al. 2011): compress embeddings to a few
bytes per vector and search with asymmetric distance (ADC).

Encode: split each d-dim vector into ``m`` subvectors; each subvector is
replaced by the index of its nearest entry in that subspace's codebook.
A 64-dim float vector (256 B) becomes m=4 codes (4 B) — the memory ratio
that lets a 100 TB embedding corpus fit a serving tier.

Search (ADC): the query stays un-quantized; distance to a coded vector is
the sum over subspaces of ||q_sub - codebook[code]||². Both steps are pure
column expressions over literal codebook arrays — map-side, zero shuffle
for encode, one TakeOrdered for top-k. No Python in the hot path.

Determinism: codebooks come from the same LCG as the LSH planes
(``lsh_planes`` — seedless deterministic literals both engines inline);
argmin ties break toward the LOWEST code index via strict ``<`` scanning
(``array_position`` of the min, which returns the first occurrence in both
engines); distances are element-ordered left folds in DOUBLE, bit-identical
to the DuckDB oracle's ``list_reduce``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from burst_db_spark.operators.similarity import lsh_planes


def pq_codebooks(
    m: int = 4, dim: int = 64, k: int = 16
) -> list[list[list[float]]]:
    """m codebooks of k entries, each entry dim/m wide — deterministic
    LCG values (a real system would train these with k-means per
    subspace; the fixed codebook keeps encode/search oracle-checkable)."""
    if dim % m:
        raise ValueError("dim must divide evenly into m subvectors")
    sub = dim // m
    flat = lsh_planes(m * k, dim=sub)
    return [[flat[j * k + i] for i in range(k)] for j in range(m)]


def _sub_dist(vec: Column, start: int, entry: list[float]) -> Column:
    """||vec[start : start+len(entry)] - entry||² as a left fold."""
    lit = F.array(*[F.lit(x) for x in entry])
    seg = F.slice(vec, start + 1, len(entry))
    return F.aggregate(
        F.zip_with(
            seg, lit, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_encode(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach ``code_0..code_{m-1}`` (1-based nearest-entry ids). Pure
    projection — scan-speed, shuffle-free."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    out = emb
    for j, book in enumerate(codebooks):
        dists = F.array(*[_sub_dist(F.col(vec_col), j * sub, e) for e in book])
        out = out.withColumn(f"__d{j}", dists).withColumn(
            f"code_{j}",
            F.array_position(F.col(f"__d{j}"), F.array_min(F.col(f"__d{j}"))).cast(
                "int"
            ),
        )
    return out.drop(*[f"__d{j}" for j in range(m)]).select(
        id_col, *[f"code_{j}" for j in range(m)]
    )


def pq_adc_topk(
    emb: DataFrame,
    query: list[float],
    codebooks: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k nearest to ``query`` by ADC over PQ codes.

    The per-subspace lookup table (k entries) is a literal array; the
    coded distance is ``Σ_j table_j[code_j]`` — element_at over literals,
    no join at all. Top-k is a bounded TakeOrdered on (dist, id)."""
    codes = pq_encode(emb, codebooks, id_col, vec_col)
    m = len(codebooks)
    sub = len(codebooks[0][0])

    def table(j: int) -> Column:
        qseg = query[j * sub : (j + 1) * sub]
        ents = codebooks[j]
        dists = []
        for e in ents:
            acc = 0.0
            for x, y in zip(qseg, e):
                acc = acc + (x - y) * (x - y)
            dists.append(acc)
        return F.array(*[F.lit(d) for d in dists])

    dist = None
    for j in range(m):
        term = F.element_at(table(j), F.col(f"code_{j}"))
        dist = term if dist is None else dist + term
    return (
        codes.withColumn("adc_dist", dist)
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, *[f"code_{j}" for j in range(m)], "adc_dist")
    )
