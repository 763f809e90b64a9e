"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Dot products are pure Column expressions (zip_with + aggregate), JVM-side.
- ``cosine_topk_partitioned``: the scale path — a coarse partition
  (IVF-style cell id; here the precomputed ``label`` column stands in for
  a k-means cell) restricts each query to its cell, pruning candidates by
  ~n_cells×. At 100 TB the cell id comes from a trained codebook
  (broadcast centroids + argmin), the join below is identical.

Float determinism: accumulation is element-ordered left-fold in both
Spark (``aggregate``) and the DuckDB oracle (``list_sum`` over
``list_transform``), so cross-engine results match bit-for-bit.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from burst_db_spark.runner import checkpoint, persist, release
from burst_db_spark.session import fan_out, parallelism


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """Exact top-k cosine neighbors per query (brute force).

    ``queries`` is small (broadcast); candidates stream partition-local, so
    the only shuffle is the final per-query top-k (row_number window over
    |queries|·k-bounded groups).
    """
    # norms hoisted to per-vector columns: cosine() inline recomputes
    # both norms per (query, candidate) pair — |Q|× per candidate on the
    # brute path. dot/(nq*nc) is the identical expression tree, so
    # scores stay bit-equal vs the oracle.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("nq"),
    )
    c = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("nc"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos",
            _dot(F.col("qv"), F.col("cv")) / (F.col("nq") * F.col("nc")),
        )
        .select("query_id", "neighbor_id", "cos")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "cos")
    )


def lsh_params_for(n_docs: int, target_occupancy: int = 256) -> tuple[int, int]:
    """LSH sizing rule: (n_planes, bits_per_band) so expected bucket
    occupancy stays ≈ ``target_occupancy`` as the corpus grows.

    With r bits per band a band has 2^r keys, so mean occupancy is
    N / 2^r → r = ceil(log2(N / target)). The per-bucket pairwise verify
    is occupancy-bounded, which is what keeps the whole pipeline from
    re-quadratifying at 100 TB (SCALING.md records the effect when r is
    held fixed). Band count stays at 16 — recall is tuned by b, cost by
    r: at r=4 and cos-threshold 0.4, 16 bands give 1-(1-p^4)^16 ≈ 0.94
    for threshold-grade pairs (p = 1-θ/π ≈ 0.63), measured 93% against
    the exact audit at sf0.01 (8 bands measured only 71%).
    """
    import math

    r = max(4, math.ceil(math.log2(max(n_docs, 1) / target_occupancy)))
    return 16 * r, r


def lsh_planes(n_planes: int = 32, dim: int = 64) -> list[list[float]]:
    """Deterministic random-hyperplane matrix (LCG-derived, seedless API so
    both engines can inline the identical literals). Values in [-1, 1]."""
    state = 0x9E3779B97F4A7C15
    out: list[list[float]] = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(((state >> 11) / float(1 << 53)) * 2.0 - 1.0)
        out.append(row)
    return out


def lsh_band_keys(bits: Column, n_planes: int, bits_per_band: int = 4) -> Column:
    """Band keys from a MATERIALIZED sign-bit column: key b =
    Σ_j bits[b·r+j] << j. ``bits`` must be a projected column (not the
    raw signature expression) so the planes are evaluated once per row."""
    r = bits_per_band
    weights = F.array(*[F.lit(1 << j) for j in range(r)])
    n_bands = n_planes // r
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda b: F.aggregate(
            F.zip_with(
                F.slice(bits, b * r + 1, F.lit(r)), weights, lambda x, w: x * w
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        ),
    )


def lsh_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 64,
    bits_per_band: int = 4,
    threshold: float = 0.4,
) -> DataFrame:
    """Embedding near-duplicate pairs via random-hyperplane LSH banding.

    The 100 TB shape: signature + band keys are narrow column math; the
    ONLY join is a self-equi-join on (band_idx, band_key) — candidate
    generation never goes quadratic in the corpus, it is bounded by
    bucket occupancy (like the MinHash path, operators/dedup.py). Exact
    cosine runs on surviving candidates only. Recall vs the all-pairs
    baseline is the standard LSH trade-off (P[candidate] =
    1-(1-p^r)^b with p = 1 - θ/π); the all-pairs audit variant measures
    it (queries: dd_embedding_nn_exact_audit).
    """
    planes = lsh_planes(n_planes, dim=64)
    # Signs come from an Arrow-batched numpy kernel, NOT the Column-level
    # transform/aggregate lambdas: higher-order-function folds evaluate
    # interpreted per element, and at 64 planes × 64 dims they dominated
    # the query (measured 5.1 s → ~1.5 s at sf0.1). The kernel
    # accumulates PER POSITION (acc += x_i · p_i across all planes at
    # once), which is the same addition order as the JVM left fold and
    # DuckDB's list_reduce — signs stay bit-identical to the oracle.
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType

    plane_mat = np.array(planes, dtype=np.float64).T  # dim × n_planes

    @F.pandas_udf(ArrayType(IntegerType()))
    def _bits_udf(vecs: pd.Series) -> pd.Series:
        x = np.vstack(vecs.to_numpy()).astype(np.float64)  # n × dim
        acc = np.zeros((x.shape[0], plane_mat.shape[1]), dtype=np.float64)
        for i in range(x.shape[1]):
            acc += x[:, i : i + 1] * plane_mat[i : i + 1, :]
        bits = (acc >= 0).astype(np.int32)
        return pd.Series(list(bits))

    # signature computed once, persisted: it feeds the band explode AND
    # both verify sides (the minhash pattern, operators/dedup.py). The
    # bits land in a real column first so the plane kernel runs once
    # per row; keys are cheap slices of that column.
    sig = persist(
        emb.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).alias("vec"),
            _norm(F.col(vec_col)).alias("nrm"),
            _bits_udf(F.col(vec_col)).alias("bits"),
        )
        .select(
            "vid",
            "vec",
            "nrm",
            lsh_band_keys(F.col("bits"), n_planes, bits_per_band).alias("keys"),
        )
    )
    # Verify WITHIN each LSH bucket via applyInPandas: every vector
    # crosses into Python once per bucket membership (|bands| rows ≈
    # b·N, a few MB) instead of twice per CANDIDATE PAIR (≈N²·p rows).
    # Inside a bucket the pairwise cosines accumulate position-by-
    # position with numpy outer products — additions happen in the same
    # element order as the JVM/_dot and DuckDB list_reduce left folds,
    # so every emitted cos is bit-identical to the oracle. Hot buckets
    # are the usual LSH skew: each is one task, bounded by bucket size.
    import numpy as np
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    bands = sig.select(
        "vid", "vec", "nrm", F.posexplode("keys").alias("band_idx", "band_key")
    )
    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("cos", DoubleType()),
        ]
    )

    def _bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(columns=["id_a", "id_b", "cos"])
        pdf = pdf.sort_values("vid")
        x = np.vstack(pdf["vec"].to_numpy()).astype(np.float64)
        nrm = pdf["nrm"].to_numpy()
        acc = np.zeros((n, n), dtype=np.float64)
        for i in range(x.shape[1]):
            acc = acc + np.outer(x[:, i], x[:, i])
        cos = acc / np.outer(nrm, nrm)
        ia, ib = np.triu_indices(n, k=1)
        keep = cos[ia, ib] >= threshold
        ids = pdf["vid"].to_numpy()
        return pd.DataFrame(
            {
                "id_a": ids[ia[keep]],
                "id_b": ids[ib[keep]],
                "cos": cos[ia[keep], ib[keep]],
            }
        )

    bucket_hits = bands.groupBy("band_idx", "band_key").applyInPandas(
        _bucket_pairs, out_schema
    )
    # a pair found in several buckets carries the identical cos — one
    # final dedup on the (tiny) surviving pair set
    return bucket_hits.groupBy("id_a", "id_b").agg(F.first("cos").alias("cos"))


def lsh_oracle_sql(
    n_planes: int = 64, bits_per_band: int = 4, threshold: float = 0.4
) -> str:
    """DuckDB SQL computing the identical LSH-pruned pair set (same plane
    literals, same fold order → bit-identical signs and cosines)."""
    planes = lsh_planes(n_planes, dim=64)
    r = bits_per_band

    def dot(plane: list[float]) -> str:
        lit = "[" + ", ".join(repr(x) for x in plane) + "]"
        return (
            "list_reduce(list_transform(range(1, 65), i -> "
            f"CAST(embedding[i] AS DOUBLE) * ({lit})[i]), (x, y) -> x + y)"
        )

    band_keys = []
    for bstart in range(0, n_planes, r):
        terms = [
            f"(CASE WHEN {dot(planes[bstart + j])} >= 0 THEN {1 << j} ELSE 0 END)"
            for j in range(r)
        ]
        band_keys.append(" + ".join(terms))
    keys_list = "[" + ", ".join(band_keys) + "]"
    n_bands = n_planes // r
    return f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    sig AS (
        SELECT vec_id, embedding,
               sqrt(list_reduce(list_transform(range(1, 65),
                    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
                    (x, y) -> x + y)) AS nrm,
               {keys_list} AS keys
        FROM e
    ),
    bands AS (
        SELECT vec_id, embedding, nrm,
               unnest(range({n_bands})) AS band_idx,
               unnest(keys) AS band_key
        FROM sig
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.vec_id < b.vec_id
    ),
    scored AS (
        SELECT c.id_a, c.id_b,
               list_reduce(list_transform(range(1, 65),
                   i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)),
                   (x, y) -> x + y) / (sa.nrm * sb.nrm) AS cos
        FROM cand c
        JOIN e ea ON ea.vec_id = c.id_a
        JOIN e eb ON eb.vec_id = c.id_b
        JOIN sig sa ON sa.vec_id = c.id_a
        JOIN sig sb ON sb.vec_id = c.id_b
    )
    SELECT id_a, id_b, cos FROM scored WHERE cos >= {threshold}
    """


def _band_keys_kernel(plane_mat, n_bands: int, r: int):
    """Arrow kernel computing sign-bit BAND KEYS (little-endian pack per
    band, accumulating the plane dots PER POSITION — the exact packing
    and fold order of lsh_band_keys / the oracle's CASE sum). Shared by
    the multiprobe flip-all path and the incremental probe so the
    load-bearing packing lives in ONE place."""
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType

    @F.pandas_udf(ArrayType(IntegerType()))
    def _keys_udf(vecs: pd.Series) -> pd.Series:
        x = np.vstack(vecs.to_numpy()).astype(np.float64)
        acc = np.zeros((x.shape[0], plane_mat.shape[1]), dtype=np.float64)
        for i in range(x.shape[1]):
            acc += x[:, i : i + 1] * plane_mat[i : i + 1, :]
        bits = (acc >= 0).astype(np.int32)
        keys = np.zeros((x.shape[0], n_bands), dtype=np.int32)
        for b in range(n_bands):
            for j in range(r):
                keys[:, b] |= bits[:, b * r + j] << j
        return pd.Series(list(keys))

    return _keys_udf


def _cos_pairs_kernel():
    """Arrow kernel for exact pairwise cosine, accumulated PER POSITION
    (same addition order as the JVM left fold and DuckDB list_reduce, so
    every cos is bit-identical cross-engine). Shared by the multiprobe
    verify and the incremental verify."""
    import numpy as np

    @F.pandas_udf("double")
    def _cos_pairs(
        va: pd.Series, vb: pd.Series, na: pd.Series, nb: pd.Series
    ) -> pd.Series:
        A = np.vstack(va.to_numpy()).astype(np.float64)
        B = np.vstack(vb.to_numpy()).astype(np.float64)
        acc = np.zeros(len(va), dtype=np.float64)
        for i in range(A.shape[1]):
            acc += A[:, i] * B[:, i]
        return pd.Series(acc / (na.to_numpy() * nb.to_numpy()))

    return _cos_pairs


def probe_masks(bits_per_band: int) -> tuple[int, ...]:
    """Identity + every 1-bit flip of an r-bit band key. Round 6 fix:
    this was a hardcoded 4-bit tuple, so any r != 4 silently probed only
    the low 4 bits — the API now honors its every-1-bit-flip contract
    for all r (the registry query and its oracle use r=4, unchanged)."""
    return (0, *[1 << j for j in range(bits_per_band)])


_PROBE_MASKS = probe_masks(4)  # the registry/oracle configuration


def lsh_near_dup_pairs_multiprobe(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 32,
    bits_per_band: int = 4,
    threshold: float = 0.4,
    max_probe_bits: int | None = None,
) -> DataFrame:
    """Multi-probe sign-bit LSH near-dup pairs: HALF the bands of the
    single-probe path (8 × 4 bits vs 16), with each vector additionally
    probing 1-bit flips of its band keys — a pair becomes a candidate
    when some band's keys are within Hamming distance 1.
    Per-band hit probability rises from p^r to p^r + r·p^{r-1}(1-p), so
    8 probed bands match 16 plain bands' recall while the signature
    (the thing materialized per corpus row at 100 TB) shrinks 2×.

    ``max_probe_bits``: None (default) probes EVERY 1-bit flip via the
    static symmetric-halved path — the registry/oracle configuration.
    ANY explicit budget T takes the QUERY-DIRECTED kernel (Lv et al.,
    VLDB 2007), clamped to r (at T >= r its margin-ranked masks are
    exactly the r single-bit flips, so the pair set equals flip-all;
    the plan differs — per-vector masks, both-direction probing): only
    the T bits with
    the smallest |plane margin| are flipped — those are the bits most
    likely to differ on a true near-neighbor, so a fixed probe budget
    keeps most of the flip-all recall while the probe-row volume stays
    b·(T+1) per vector, INDEPENDENT of r. That constancy is the 100 TB
    property: the r9 100x rung measured flip-all (probes ∝ r, and r
    grows with log2 N) at 1.4x above linear; fixed-budget probing
    removes the superlinear term. Margin-directed probing is
    per-vector, so candidate generation runs BOTH directions and
    normalizes pairs (the static-mask path keeps its symmetric-halving
    optimization).

    The probe side explodes to b·(probes) rows per vector, but the join
    stays a HASH equi-join on (band_idx, key) and candidates stay
    bounded by bucket occupancy — the same no-cartesian guarantee as the
    single-probe path. Exact cosine verifies survivors (same left-fold
    as the oracle)."""
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType

    planes = lsh_planes(n_planes, dim=64)
    plane_mat = np.array(planes, dtype=np.float64).T
    r = bits_per_band
    n_bands = n_planes // r
    # Any explicit budget takes the directed kernel, clamped to r: at
    # T == r the margin-ranked masks are exactly the r single-bit flips,
    # so the pair set provably equals flip-all (pinned by
    # tests/test_multiprobe.py::test_budget_at_or_above_r_is_exact_flip_all,
    # which now genuinely exercises the directed branch).
    directed = max_probe_bits is not None
    if directed:
        max_probe_bits = min(max_probe_bits, r)

    # One Arrow pass computes the BAND KEYS directly (numpy pack instead
    # of a nested fold expression — removes the dominant cold cost of
    # codegen/JIT on an 8-band aggregate-of-zip_with tree). Kernel shared
    # with the incremental probe (_band_keys_kernel).
    _keys_udf = _band_keys_kernel(plane_mat, n_bands, r)

    if not directed:
        sig = persist(emb.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).alias("vec"),
            _norm(F.col(vec_col)).alias("nrm"),
            _keys_udf(F.col(vec_col)).alias("keys"),
        ))
        stored = sig.select(
            "vid", F.posexplode("keys").alias("band_idx", "key")
        )
        masks = F.array(*[F.lit(m) for m in probe_masks(r)])
        probes = stored.select(
            F.col("vid").alias("pvid"),
            "band_idx",
            F.explode(
                F.transform(masks, lambda m: F.col("key").bitwiseXOR(m))
            ).alias("key"),
        )
        # XOR-mask matching is symmetric (key_a ^ m == key_b ⟺ key_b ^
        # m == key_a), so generating only the pvid < vid direction
        # HALVES the candidate volume with an identical post-distinct
        # pair set.
        cand = (
            probes.join(stored, ["band_idx", "key"])
            .where(F.col("pvid") < F.col("vid"))
            .select(F.col("pvid").alias("id_a"), F.col("vid").alias("id_b"))
            .distinct()
        )
    else:
        T = max_probe_bits

        # per band: [key, flip-mask 1, ..., flip-mask T] where the
        # flipped bits are the T smallest |margin| planes of that band
        # (the bits a true near-neighbor is most likely to differ on)
        @F.pandas_udf(ArrayType(ArrayType(IntegerType())))
        def _keys_masks_udf(vecs: pd.Series) -> pd.Series:
            x = np.vstack(vecs.to_numpy()).astype(np.float64)
            acc = np.zeros((x.shape[0], plane_mat.shape[1]), dtype=np.float64)
            for i in range(x.shape[1]):
                acc += x[:, i : i + 1] * plane_mat[i : i + 1, :]
            bits = (acc >= 0).astype(np.int32)
            keys = np.zeros((x.shape[0], n_bands), dtype=np.int32)
            for b in range(n_bands):
                for j in range(r):
                    keys[:, b] |= bits[:, b * r + j] << j
            marg = np.abs(acc).reshape(x.shape[0], n_bands, r)
            flip = np.argsort(marg, axis=2, kind="stable")[:, :, :T]
            masks_arr = (1 << flip).astype(np.int32)  # (n, bands, T)
            # vectorized [key, mask1..maskT] assembly (optimization r14,
            # guide §4 — no per-element Python loop); tolist() yields the
            # identical nested int lists the comprehension built
            out = np.concatenate([keys[:, :, None], masks_arr], axis=2)
            return pd.Series(out.tolist())

        sig = persist(emb.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).alias("vec"),
            _norm(F.col(vec_col)).alias("nrm"),
            _keys_masks_udf(F.col(vec_col)).alias("km"),
        ))
        exploded = sig.select(
            "vid", F.posexplode("km").alias("band_idx", "arr")
        )
        stored = exploded.select(
            "vid", "band_idx", F.col("arr")[0].alias("key")
        )
        probes = exploded.select(
            F.col("vid").alias("pvid"),
            "band_idx",
            F.explode(
                F.concat(
                    F.array(F.col("arr")[0]),
                    F.transform(
                        F.slice("arr", 2, T),
                        lambda m: F.col("arr")[0].bitwiseXOR(m),
                    ),
                )
            ).alias("key"),
        )
        # margin-directed masks differ per vector, so probing is NOT
        # symmetric: run both directions and normalize the pair
        cand = (
            probes.join(stored, ["band_idx", "key"])
            .where(F.col("pvid") != F.col("vid"))
            .select(
                F.least("pvid", "vid").alias("id_a"),
                F.greatest("pvid", "vid").alias("id_b"),
            )
            .distinct()
        )
    # verify joins: the signature frame is rows × (64 floats + keys) —
    # broadcast it while it fits (bench scales); past the gate the joins
    # fall back to hash exchanges, the 100 TB shape.
    # The gate count MUST run on sig, not emb (r15 ABA retraction of the
    # r14 "cheap gate" change): counting the persisted sig frame
    # materializes its cache in the SAME job that decides the broadcast.
    # With the cold-cache emb.count() gate, the two BroadcastExchange
    # builds (a, b) and the candidate subtree all scanned the
    # un-materialized InMemoryRelation concurrently and each re-ran the
    # signature UDF pass — measured 3.09 s -> 4.91 s best-of-6 on
    # dd_embedding_nn_multiprobe (OPTIMIZATION_r15.md ABA). The "extra"
    # gate job is not waste: it is the one place the UDF pass runs.
    n_sig = sig.count()
    pick = F.broadcast if n_sig <= 100_000 else (lambda d: d)
    a = pick(
        sig.select(
            F.col("vid").alias("id_a"), F.col("vec").alias("va"), F.col("nrm").alias("na")
        )
    )
    b = pick(
        sig.select(
            F.col("vid").alias("id_b"), F.col("vec").alias("vb"), F.col("nrm").alias("nb")
        )
    )

    # Arrow-batched verify (shared kernel; see _cos_pairs_kernel)
    _cos_pairs = _cos_pairs_kernel()

    scored = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "cos",
            _cos_pairs(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")),
        )
    )
    return scored.where(F.col("cos") >= threshold).select("id_a", "id_b", "cos")


def lsh_multiprobe_oracle_sql(
    n_planes: int = 32, bits_per_band: int = 4, threshold: float = 0.4
) -> str:
    """DuckDB SQL for the multi-probe LSH pair set: identical plane
    literals, fold order, band keys, and probe masks."""
    planes = lsh_planes(n_planes, dim=64)
    r = bits_per_band

    def dot(plane: list[float]) -> str:
        lit = "[" + ", ".join(repr(x) for x in plane) + "]"
        return (
            "list_reduce(list_transform(range(1, 65), i -> "
            f"CAST(embedding[i] AS DOUBLE) * ({lit})[i]), (x, y) -> x + y)"
        )

    band_keys = []
    for bstart in range(0, n_planes, r):
        terms = [
            f"(CASE WHEN {dot(planes[bstart + j])} >= 0 THEN {1 << j} ELSE 0 END)"
            for j in range(r)
        ]
        band_keys.append(" + ".join(terms))
    keys_list = "[" + ", ".join(band_keys) + "]"
    n_bands = n_planes // r
    masks = "[" + ", ".join(str(m) for m in probe_masks(r)) + "]"
    return f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    sig AS (
        SELECT vec_id, embedding,
               sqrt(list_reduce(list_transform(range(1, 65),
                    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
                    (x, y) -> x + y)) AS nrm,
               {keys_list} AS keys
        FROM e
    ),
    stored AS (
        SELECT vec_id, unnest(range({n_bands})) AS band_idx,
               unnest(keys) AS key
        FROM sig
    ),
    probes AS (
        SELECT vec_id AS pvid, band_idx, xor(key, m.m) AS key
        FROM stored CROSS JOIN (SELECT unnest({masks}) AS m) m
    ),
    cand AS (
        SELECT DISTINCT least(p.pvid, s.vec_id) AS id_a,
                        greatest(p.pvid, s.vec_id) AS id_b
        FROM probes p JOIN stored s
          ON p.band_idx = s.band_idx AND p.key = s.key
         AND p.pvid != s.vec_id
    ),
    scored AS (
        SELECT c.id_a, c.id_b,
               list_reduce(list_transform(range(1, 65),
                   i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)),
                   (x, y) -> x + y) / (sa.nrm * sb.nrm) AS cos
        FROM cand c
        JOIN e ea ON ea.vec_id = c.id_a
        JOIN e eb ON eb.vec_id = c.id_b
        JOIN sig sa ON sa.vec_id = c.id_a
        JOIN sig sb ON sb.vec_id = c.id_b
    )
    SELECT id_a, id_b, cos FROM scored WHERE cos >= {threshold}
    """


def lsh_directed_multiprobe_oracle_sql(
    n_planes: int = 32,
    bits_per_band: int = 4,
    max_probe_bits: int = 3,
    threshold: float = 0.4,
) -> str:
    """DuckDB SQL for the QUERY-DIRECTED multi-probe pair set: identical
    plane literals and fold order as the flip-all oracle, plus the
    margin ranking — per band, only the ``max_probe_bits`` bits with the
    smallest |dot| margins are flipped (ties broken by bit index, the
    numpy stable-argsort order). Probing is per-vector (asymmetric), so
    candidates run both directions and normalize with least/greatest,
    exactly like the Spark path. Each plane's dot is computed ONCE in a
    ``dots`` CTE and reused for the sign bit and the margin (the
    inlined-twice form measured 2x the oracle wall)."""
    planes = lsh_planes(n_planes, dim=64)
    r = bits_per_band
    t = max_probe_bits
    n_bands = n_planes // r

    def dot(plane: list[float]) -> str:
        lit = "[" + ", ".join(repr(x) for x in plane) + "]"
        return (
            "list_reduce(list_transform(range(1, 65), i -> "
            f"CAST(embedding[i] AS DOUBLE) * ({lit})[i]), (x, y) -> x + y)"
        )

    dots_list = "[" + ", ".join(dot(p) for p in planes) + "]"
    band_keys, band_margs = [], []
    for bstart in range(0, n_planes, r):
        terms = [
            f"(CASE WHEN d[{bstart + j + 1}] >= 0 THEN {1 << j} ELSE 0 END)"
            for j in range(r)
        ]
        band_keys.append(" + ".join(terms))
        band_margs.append(
            "[" + ", ".join(f"abs(d[{bstart + j + 1}])" for j in range(r)) + "]"
        )
    keys_list = "[" + ", ".join(band_keys) + "]"
    margs_list = "[" + ", ".join(band_margs) + "]"
    return f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    dots AS (
        SELECT vec_id, embedding,
               sqrt(list_reduce(list_transform(range(1, 65),
                    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
                    (x, y) -> x + y)) AS nrm,
               {dots_list} AS d
        FROM e
    ),
    sig AS (
        SELECT vec_id, nrm, {keys_list} AS keys, {margs_list} AS margs
        FROM dots
    ),
    bands AS (
        SELECT vec_id, unnest(range({n_bands})) AS band_idx,
               unnest(keys) AS key, unnest(margs) AS marg
        FROM sig
    ),
    flips AS (
        SELECT vec_id, band_idx, key, j,
               row_number() OVER (PARTITION BY vec_id, band_idx
                                  ORDER BY marg[j + 1], j) AS rnk
        FROM bands CROSS JOIN (SELECT unnest(range({r})) AS j)
    ),
    probes AS (
        SELECT vec_id AS pvid, band_idx, key FROM bands
        UNION ALL
        SELECT vec_id, band_idx, xor(key, 1 << j)
        FROM flips WHERE rnk <= {t}
    ),
    stored AS (SELECT vec_id, band_idx, key FROM bands),
    cand AS (
        SELECT DISTINCT least(p.pvid, s.vec_id) AS id_a,
                        greatest(p.pvid, s.vec_id) AS id_b
        FROM probes p JOIN stored s
          ON p.band_idx = s.band_idx AND p.key = s.key
         AND p.pvid != s.vec_id
    ),
    scored AS (
        SELECT c.id_a, c.id_b,
               list_reduce(list_transform(range(1, 65),
                   i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)),
                   (x, y) -> x + y) / (sa.nrm * sb.nrm) AS cos
        FROM cand c
        JOIN e ea ON ea.vec_id = c.id_a
        JOIN e eb ON eb.vec_id = c.id_b
        JOIN dots sa ON sa.vec_id = c.id_a
        JOIN dots sb ON sb.vec_id = c.id_b
    )
    SELECT id_a, id_b, cos FROM scored WHERE cos >= {threshold}
    ORDER BY id_a, id_b
    """


def assign_cells(
    emb: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "cell",
    hier_threshold: int | None = None,
    nprobe: int = 3,
) -> DataFrame:
    """Attach each vector's nearest-centroid cell id — broadcast codebook
    argmin, the 100 TB IVF assignment pattern. The distance array is
    projected ONCE per row; the argmin reads the materialized column.

    ``hier_threshold=None`` (the default) ALWAYS takes the exact flat
    argmin. Passing a threshold (e.g. :data:`HIER_ASSIGN_THRESHOLD`)
    opts in to the APPROXIMATE funnel route past that many centroids
    (:func:`assign_cells_hier`): coarse-quantize the codebook into ~√k
    groups and probe ``nprobe`` of them — the k ∝ N SemDeDup regime
    where a flat argmin's per-row cost is the superlinear term (VERDICT
    r12 #1). The funnel is an approximation (measured ~0.76 agreement
    with the exact argmin on the synthetic embeddings at nprobe=3), so
    it never engages implicitly (r13 ADVICE: no hidden size switch)."""
    spark = emb.sparkSession
    if hier_threshold is not None and len(centroids) >= hier_threshold:
        from math import isqrt

        g = max(2, isqrt(len(centroids)))
        groups_one = hier_groups_literal(spark, centroids, g)
        return assign_cells_hier(
            emb, groups_one, nprobe, id_col, vec_col, out_col
        )
    cdf = spark.createDataFrame([(centroids,)], "cents: array<array<double>>")
    dists = F.transform(
        F.col("cents"),
        lambda c: F.aggregate(
            F.zip_with(
                F.col(vec_col),
                c,
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    return (
        emb.crossJoin(F.broadcast(cdf))
        .withColumn("__d", dists)
        .withColumn(
            out_col,
            F.array_position(F.col("__d"), F.array_min(F.col("__d"))).cast("int"),
        )
        .drop("cents", "__d")
    )


def kmeans_unrolled_stats(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    rounds: int = 2,
    hier_threshold: int | None = None,
    nprobe: int = 3,
) -> DataFrame:
    """Fixed-round Lloyd k-means with NO driver-side model state — and,
    because every step is deterministic RELATIONAL algebra, the whole
    training loop is oracle-checkable (unlike :func:`kmeans_codebook`,
    whose driver-paced iteration count makes its consumer rows-only).

    - **Seeds**: the ``k`` vectors with the smallest (md5(id) 32-bit
      slice, id) — same rule as ``kmeans_codebook``; cell ids 1..k in
      that order.
    - **Assign**: broadcast the k-row centroid FRAME (model rides the
      join, never the closure), L2² by ascending-dim fold, argmin via
      ``min(struct(dist, cell))`` — an agg with map-side combine, no
      per-vector window.
    - **Update**: per-(cell, dim) mean with DECIMAL(38,12) accumulation
      — exact and shuffle-order-free, so the new centroid doubles are
      bit-identical on any engine/partitioning (a raw double sum here
      would drift by ulps between engines and flip boundary
      assignments next round).
    - ``rounds`` assign→update cycles, then stats of the FINAL
      assignment: (cell, n_members, cnorm6 = round(‖centroid‖, 6)).

    Scale shape per round: one broadcast join (k·N intermediate rows,
    k is the model size knob) + one (cell, dim) reduce; nothing ever
    collects. Cells that lose all members simply drop out of the
    centroid frame — both engines derive them from the same groupBy.

    ``hier_threshold=None`` (default) keeps every round's assignment
    EXACT; passing a threshold opts in to the approximate funnel
    assignment past that k (see :func:`assign_cells` — the k ∝ N
    regime where the flat k·N join is the superlinear term). The
    funnel never engages implicitly (r13 ADVICE).
    """
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    seeds = (
        emb.select(
            F.col(vec_col).alias("cv"), F.col(id_col).alias("sid"), h.alias("h")
        )
        .orderBy("h", "sid")
        .limit(k)
    )
    # k-row model frame: a single-partition window here is the MODEL,
    # not data (k rows)
    wseed = Window.orderBy("h", "sid")
    cents = seeds.withColumn("cell", F.row_number().over(wseed)).select(
        "cell", F.transform("cv", lambda x: x.cast("double")).alias("cv")
    )

    def _assign(centroids: DataFrame) -> DataFrame:
        e = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        if hier_threshold is not None and k >= hier_threshold:
            # OPT-IN funnel route (k ∝ N regime): group the codebook,
            # probe nprobe groups per vector, fine argmin via a
            # broadcast-hash join of the k-row member frame — N·(√k
            # folds + nprobe·k/g join rows) per round instead of k·N
            # (VERDICT r12 #1). Approximate — never engages unless the
            # caller passes hier_threshold (r13 ADVICE). Past
            # HIER2_ASSIGN_THRESHOLD the coarse tier recurses once more
            # (g = k^(2/3), g2 = k^(1/3)) — N·k^(1/3) folds per round
            # instead of N·√k (VERDICT r13 #4).
            from math import isqrt

            if k >= HIER2_ASSIGN_THRESHOLD:
                g = max(4, round(k ** (2.0 / 3.0)))
                g2 = max(2, round(k ** (1.0 / 3.0)))
                state2 = hier_group_state2(centroids, g, g2)
                return assign_cells_hier2(
                    e, state2, nprobe, nprobe,
                    id_col="id", vec_col="v", out_col="cell",
                ).select("id", "cell", "v")
            state = hier_group_state(centroids, max(2, isqrt(k)))
            return assign_cells_hier(
                e, state, nprobe, id_col="id", vec_col="v", out_col="cell"
            ).select("id", "cell", "v")
        dist = F.aggregate(
            F.zip_with(
                F.col("v"),
                F.col("cv"),
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return (
            e.join(F.broadcast(centroids))
            .withColumn("__dist", dist)
            .groupBy("id")
            .agg(
                F.min(F.struct("__dist", "cell"))["cell"].alias("cell"),
                F.any_value("v").alias("v"),
            )
        )

    def _update(assigned: DataFrame) -> DataFrame:
        return (
            assigned.select("cell", F.posexplode("v").alias("dim", "x"))
            .groupBy("cell", "dim")
            .agg(
                (
                    F.sum(
                        F.col("x").cast("double").cast("decimal(38,12)")
                    ).cast("double")
                    / F.count("*").cast("double")
                ).alias("m")
            )
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "m"))),
                    lambda s: s["m"],
                ).alias("cv")
            )
        )

    # each round's assign folds k distances per row; the update's DECIMAL
    # sums are order-free, so the trained model is identical on any
    # partitioning. (Seeds were derived above from the raw frame; their
    # global orderBy is partitioning-independent anyway.)
    emb = fan_out(emb)
    cur = cents
    assigned = None
    held: list[DataFrame] = []  # the funnel's centroid checkpoints
    funnel = hier_threshold is not None and k >= hier_threshold
    if funnel:
        # Lloyd re-scans the SAME input every round (2 assigns + the
        # final stats) — cache it, the standard iterative-training move.
        # Scoped to the opt-in funnel path so every oracle-checked k=16
        # row keeps its pure uncached plan.
        emb = persist(emb)
    for _ in range(rounds):
        assigned = _assign(cur)
        cur = _update(assigned)
        if funnel:
            # Truncate the LOGICAL plan at each round boundary: the
            # funnel construction references the round's centroid frame
            # many times through two grouping tiers, and the nested
            # round-over-round plan sends Catalyst analysis time
            # superlinear (measured: the d4 100x probe stalled >10 min
            # of pure driver CPU before any stage launched). The
            # centroid frame is k rows — an eager checkpoint
            # materializes the model, not data, and the exact flat path
            # (every oracle-checked k=16 row) keeps its pure plan.
            cur = checkpoint(cur)
            held.append(cur)
            if len(held) > 2:
                # the final assignment reads the round before the last;
                # older rounds nothing reads any more
                release(held.pop(0))
    if funnel:
        # downstream consumers (stats here; pair join / flags / prune in
        # the SemDeDup pipeline) reference the final assignment several
        # times — un-cached, each reference re-runs the whole funnel
        # assignment pass (measured ~9 s/reference at the 100x rung)
        assigned = persist(assigned)
    counts = assigned.groupBy("cell").agg(
        F.count("*").cast("bigint").alias("n_members")
    )
    cnorm = F.round(
        F.sqrt(
            F.aggregate(
                F.col("cv"), F.lit(0.0), lambda acc, x: acc + x * x
            )
        ),
        6,
    )
    stats = counts.join(cur, "cell").select(
        "cell", "n_members", cnorm.alias("cnorm6")
    )
    stats._kmeans_state = (assigned, cur)  # (final assignment, centroids)
    return stats


def kmeans_unrolled_state(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    rounds: int = 2,
    hier_threshold: int | None = None,
    nprobe: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """(final assignment (id, cell, v), final centroids (cell, cv)) from
    the fixed-round relational Lloyd of :func:`kmeans_unrolled_stats` —
    the trained, occupancy-BALANCED cell structure downstream semantic
    ops build on (data-blind hyperplane 'centroids' measured 37x
    occupancy-sum-of-squares growth at 10x data where the trained cells
    stay exactly linear — SCALING.md d4 rung)."""
    stats = kmeans_unrolled_stats(
        emb, id_col, vec_col, k, rounds, hier_threshold, nprobe
    )
    return stats._kmeans_state


def probe_cells(
    emb: DataFrame,
    centroids: list[list[float]],
    nprobe: int = 2,
    vec_col: str = "embedding",
    out_col: str = "probes",
) -> DataFrame:
    """Attach the ``nprobe`` nearest cells per vector (1-based ids, by
    ascending centroid distance) — the IVF multi-probe pattern: querying
    several adjacent cells recovers most of the recall a single-cell
    probe loses when the true neighbor sits just across a Voronoi
    boundary, at nprobe× the candidate cost instead of N².

    Selection is successive-argmin (mask the chosen cell to +inf, take
    the next min) rather than a sort — each step is array math both
    engines evaluate identically, so the probed cells are reproducible
    in the DuckDB oracle.
    """
    k = len(centroids)
    if not 1 <= nprobe <= k:
        raise ValueError(f"nprobe must be in [1, {k}]")
    spark = emb.sparkSession
    cdf = spark.createDataFrame([(centroids,)], "cents: array<array<double>>")
    dists = F.transform(
        F.col("cents"),
        lambda c: F.aggregate(
            F.zip_with(
                F.col(vec_col),
                c,
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    df = emb.crossJoin(F.broadcast(cdf)).withColumn("__d0", dists)
    tmp = ["__d0"]
    idx = F.sequence(F.lit(1), F.lit(k))
    for p in range(nprobe):
        cur = tmp[-1]
        cell = F.array_position(F.col(cur), F.array_min(F.col(cur))).cast("int")
        df = df.withColumn(f"__c{p}", cell)
        tmp.append(f"__c{p}")
        if p + 1 < nprobe:
            masked = F.zip_with(
                F.col(cur),
                idx,
                lambda d, i: F.when(i == F.col(f"__c{p}"), F.lit(float("inf"))).otherwise(d),
            )
            df = df.withColumn(f"__d{p + 1}", masked)
            tmp.append(f"__d{p + 1}")
    return df.withColumn(
        out_col, F.array(*[F.col(f"__c{p}") for p in range(nprobe)])
    ).drop("cents", *tmp)


def kmeans_codebook(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    iters: int = 5,
) -> list[list[float]]:
    """Train an IVF codebook with Lloyd's k-means, Spark-native.

    Per iteration: centroids ride to executors as broadcast DATA (the
    1-row array-of-arrays pattern), every vector gets its argmin cell
    via ``assign_cells``, and the new centroids come back from ONE
    posexplode + groupBy(cell, dim) mean — a single shuffle whose size
    is |corpus|·dim rows, independent of k. Only the k·dim codebook
    itself ever touches the driver (model state, not data).

    Init is deterministic: the k vectors with the smallest md5 hash of
    their id (stable across runs/cluster sizes, no RNG)."""
    seeds = (
        emb.select(
            F.col(vec_col).alias("v"),
            F.col(id_col).alias("i"),
            F.conv(
                F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
            )
            .cast("bigint")
            .alias("h"),
        )
        .orderBy("h", "i")
        .limit(k)
        .collect()
    )
    centroids = [[float(x) for x in r.v] for r in seeds]

    for _ in range(iters):
        assigned = assign_cells(emb, centroids, id_col, vec_col)
        means = (
            assigned.select(
                "cell", F.posexplode(F.col(vec_col)).alias("dim", "x")
            )
            .groupBy("cell", "dim")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .collect()
        )
        new_c = [list(c) for c in centroids]
        for r in means:
            new_c[r.cell - 1][r.dim] = float(r.m)  # array_position is 1-based
        centroids = new_c
    return centroids


def cosine_topk_partitioned(
    emb: DataFrame,
    queries: DataFrame,
    cell_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """IVF-style ANN: candidates restricted to the query's coarse cell."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("nq"),
        F.col(cell_col).alias("qcell"),
    )
    c = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("nc"),
        F.col(cell_col).alias("ccell"),
    )
    scored = (
        c.join(
            F.broadcast(q),
            (F.col("qcell") == F.col("ccell"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .withColumn(
            "cos",
            _dot(F.col("qv"), F.col("cv")) / (F.col("nq") * F.col("nc")),
        )
        .select("query_id", "neighbor_id", "cos")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "cos")
    )


def semdedup_flags(
    emb: DataFrame,
    centroids: list[list[float]],
    tau: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup by within-cluster
    cosine similarity, re-expressed relationally.

    Assign every embedding to its nearest coarse centroid (broadcast
    codebook argmin — :func:`assign_cells`), then compare pairs ONLY
    within a cell: a vector is dropped when some same-cell vector with a
    SMALLER id is >= tau cosine-similar (the min-id member of every
    near-dup group survives — deterministic, engine-portable).

    Scale shape: the pair join is a self-equi-join on the cell id, so
    candidate work is Σ|cell|² rather than N² — the same banded-join
    discipline as MinHash-LSH, with k chosen so cells stay executor-sized
    (k ∝ N / target_cell). The Σ|cell|² bound only holds when the
    codebook BALANCES occupancy: centroids must be trained on the data
    (``kmeans_unrolled_state`` / ``kmeans_codebook``), not arbitrary
    hyperplanes — the scale probe measured Σ|cell|² growing 37x at 10x
    data under data-blind centroids vs exactly linear under trained
    ones (SCALING.md d4 rung). No driver state, no cartesian.
    """
    cells = assign_cells(emb, centroids, id_col, vec_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), "cell"
    )
    sim_pairs = cell_sim_pairs(cells, max(1, len(centroids)), tau)
    return (
        cells.join(
            sim_pairs.withColumnRenamed("id_b", "id").withColumn(
                "__drop", F.lit(True)
            ),
            "id",
            "left",
        )
        .select(
            F.col("id").alias(id_col),
            F.col("cell"),
            F.coalesce(F.col("__drop"), F.lit(False)).alias("dropped"),
        )
    )


def cell_sim_pairs(cells: DataFrame, n_cells: int, tau: float) -> DataFrame:
    """The distinct ``id_b`` of every within-cell pair ``id_a < id_b``
    of ``cells`` (``id``, ``v``, ``cell``) whose cosine is >= ``tau`` —
    the SemDeDup drop set.

    Norms are hoisted OUT of the pair predicate: cosine(va, vb) inline
    recomputes both norms per PAIR, i.e. |cell|² times per vector under
    skewed occupancy. Materialized per side they cost once per vector;
    dot/(na*nb) is the identical expression tree (same left-fold, same
    multiply order), so results stay bit-equal to the oracle's cosine.

    Optimization r14 (guide §2.5 — salt the hot keys): a plain cell
    equi-join has at most ``n_cells`` distinct keys; with a small
    codebook (k=16) AQE's byte-based coalescing funnels the whole
    Σ|cell|² pair predicate through ONE task (the inputs are tiny in
    bytes but the join OUTPUT is compute-dense — measured 8.0 s
    single-task at sf0.1). Deterministically chunk the probe side
    (pmod(xxhash64(id), C)) and replicate the build side C ways, so the
    pair work spreads over n_cells·C partitions; C = ceil(2p / n_cells)
    for p = ``session.parallelism`` DEGENERATES TO 1 (no replication,
    the plain equi-join) once the codebook has at least 2p cells — the
    trained k ∝ N regime. Every unordered pair is still generated
    exactly once (the b-side copy in a's chunk) and the predicate is
    untouched, so the surviving id set is bit-identical.
    """
    chunks = max(1, -(-2 * parallelism(cells.sparkSession) // n_cells))
    a = cells.select(
        F.col("id").alias("id_a"),
        F.col("v").alias("va"),
        _norm(F.col("v")).alias("na"),
        "cell",
        F.pmod(F.xxhash64(F.col("id")), F.lit(chunks)).alias("__chunk"),
    )
    b = cells.select(
        F.col("id").alias("id_b"),
        F.col("v").alias("vb"),
        _norm(F.col("v")).alias("nb"),
        "cell",
        F.explode(
            F.sequence(F.lit(0), F.lit(chunks - 1)).cast("array<bigint>")
        ).alias("__chunk"),
    )
    join_keys = ["cell", "__chunk"] if chunks > 1 else ["cell"]
    if chunks > 1:
        a = fan_out(a, "cell", "__chunk")
        b = fan_out(b, "cell", "__chunk")
    return (
        a.join(b, join_keys)
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
            >= F.lit(tau)
        )
        .select("id_b")
        .distinct()
    )


def int8_codes(emb: DataFrame, dim: int = 64) -> DataFrame:
    """Global min/max scalar quantization: adds an int8 ``code`` array
    (as BIGINT elements in [-127, 127]) next to each embedding. The
    params frame is one row, broadcast; codes are deterministic
    (round() of identical double expressions on any engine)."""
    dims = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x")
    ).groupBy("dim").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    params = dims.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mn"))), lambda s: s["mn"]
        ).alias("mns"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mx"))), lambda s: s["mx"]
        ).alias("mxs"),
    )
    # nullif guard: a constant dimension (mn == mx) would divide by zero,
    # where Spark non-ANSI (NULL) and DuckDB double semantics differ —
    # coalesce maps it to midpoint 127, i.e. code 0, on BOTH engines.
    return emb.crossJoin(F.broadcast(params)).withColumn(
        "code",
        F.expr(
            f"transform(sequence(0, {dim} - 1), i -> "
            "CAST(round(coalesce((CAST(embedding[i] AS DOUBLE) - mns[i]) * 254"
            " / nullif(mxs[i] - mns[i], 0D), 127D)) AS BIGINT) - 127)"
        ),
    ).drop("mns", "mxs")


def int8_quantized_topk(
    emb: DataFrame,
    n_queries: int = 8,
    topc: int = 24,
    topk: int = 5,
    dim: int = 64,
) -> DataFrame:
    """Scalar-quantized ANN core (see knn_int8_quantized for the full
    story): global per-dim min/max -> int8 codes -> exact BIGINT L2
    sweep -> double-cosine rerank of the top-C survivors. Deterministic
    end-to-end; returns (query_id, neighbor_id, rank, cos)."""
    codes = int8_codes(emb, dim).select("vec_id", "embedding", "code")
    q = codes.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("code").alias("qcode"),
    )
    return int8_rerank_topk(codes.crossJoin(F.broadcast(q)), topc, topk)


def int8_rerank_topk(probes: DataFrame, topc: int, topk: int) -> DataFrame:
    """The int8 ANN tail: per query, the ``topc`` nearest candidates by
    exact BIGINT L2 over the int8 codes, reranked by exact double cosine
    to the top ``topk``. ``probes`` pairs each code row (``vec_id``,
    ``embedding``, ``code``) with a query it is scored against
    (``query_id``, ``qv``, ``qcode``); a query never matches itself.
    Returns (query_id, neighbor_id, rank, cos) ordered by query, rank."""
    cand = (
        probes.where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.aggregate(
                F.zip_with("qcode", "code", lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ).alias("dist2"),
            "qv",
            F.col("embedding").alias("cv"),
        )
    )
    w_c = Window.partitionBy("query_id").orderBy("dist2", "neighbor_id")
    top_c = cand.withColumn("crank", F.row_number().over(w_c)).where(
        F.col("crank") <= topc
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("qv").cast("array<double>"),
            F.col("cv").cast("array<double>"),
            lambda a, b: a * b,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nq = F.aggregate(
        F.transform(F.col("qv").cast("array<double>"), lambda a: a * a),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nc = F.aggregate(
        F.transform(F.col("cv").cast("array<double>"), lambda a: a * a),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = top_c.withColumn("cos", dot / (F.sqrt(nq) * F.sqrt(nc)))
    w_k = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w_k).cast("int"))
        .where(F.col("rank") <= topk)
        .select("query_id", "neighbor_id", "rank", "cos")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Incremental embedding near-dup: the snapshot-ingest mirror of
# dd_minhash_incremental (queries/round9.py) for the embedding path.


def lsh_near_dup_incremental(
    emb: DataFrame,
    new_pred: Column,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 32,
    bits_per_band: int = 4,
    threshold: float = 0.4,
) -> DataFrame:
    """NEW-snapshot vectors that near-duplicate (cos ≥ threshold) an
    OLD-corpus vector, found by probing the STORED band keys of the old
    corpus with the new vectors' keys only.

    The 100 TB ingest shape: the old corpus's (band_idx, band_key)
    frame — and its (id, vec, nrm) rows for verification — live in a
    signature store (here: the sig frame restricted to old ids, standing
    in for a parquet-backed store, exactly the dd_minhash_incremental
    framing); only the NEW snapshot is sign-hashed this run. Candidate
    generation is the new ⋈ old band equi-join — never old ⋈ old (the
    old corpus was deduped at its own ingest), never new ⋈ new (intra-
    snapshot dedup is the batch operator's job) — so per-ingest cost is
    ∝ new rows + occupancy-bounded probes, independent of corpus age.
    Verify fetches old vectors BY ID (hash join against the store),
    touching only candidates' rows.

    Returns one row per duplicated new id: (new_id, dup_of_min,
    n_old_dups, max_cos) — the same manifest shape as the MinHash
    incremental row, so downstream keep/drop logic is family-agnostic.
    """
    import numpy as np

    planes = lsh_planes(n_planes, dim=64)
    plane_mat = np.array(planes, dtype=np.float64).T
    r = bits_per_band
    n_bands = n_planes // r
    _keys_udf = _band_keys_kernel(plane_mat, n_bands, r)

    sig = persist(emb.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        _norm(F.col(vec_col)).alias("nrm"),
        _keys_udf(F.col(vec_col)).alias("keys"),
        new_pred.alias("is_new"),
    ))
    bands = sig.select(
        "vid", "is_new", F.posexplode("keys").alias("band_idx", "band_key")
    )
    new_b = bands.where(F.col("is_new")).select(
        F.col("vid").alias("new_id"), "band_idx", "band_key"
    )
    old_b = bands.where(~F.col("is_new")).select(
        F.col("vid").alias("old_id"), "band_idx", "band_key"
    )
    cand = (
        new_b.join(old_b, ["band_idx", "band_key"])
        .select("new_id", "old_id")
        .distinct()
    )

    # Arrow-batched exact-cosine verify (shared kernel; bit-identical
    # cross-engine — see _cos_pairs_kernel)
    _cos_pairs = _cos_pairs_kernel()

    a = sig.select(
        F.col("vid").alias("new_id"),
        F.col("vec").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = sig.select(
        F.col("vid").alias("old_id"),
        F.col("vec").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    return (
        cand.join(a, "new_id")
        .join(b, "old_id")
        .withColumn(
            "cos",
            _cos_pairs(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")),
        )
        .where(F.col("cos") >= threshold)
        .groupBy("new_id")
        .agg(
            F.min("old_id").cast("bigint").alias("dup_of_min"),
            F.count("*").cast("bigint").alias("n_old_dups"),
            F.max("cos").alias("max_cos"),
        )
        .orderBy("new_id")
    )


def lsh_incremental_oracle_sql(
    new_pred_sql: str,
    n_planes: int = 32,
    bits_per_band: int = 4,
    threshold: float = 0.4,
) -> str:
    """DuckDB SQL for the incremental near-dup manifest: identical plane
    literals, band packing, fold order, and new/old split predicate
    (``new_pred_sql`` over column ``vec_id``)."""
    planes = lsh_planes(n_planes, dim=64)
    r = bits_per_band
    n_bands = n_planes // r

    def dot(plane: list[float]) -> str:
        lit = "[" + ", ".join(repr(x) for x in plane) + "]"
        return (
            "list_reduce(list_transform(range(1, 65), i -> "
            f"CAST(embedding[i] AS DOUBLE) * ({lit})[i]), (x, y) -> x + y)"
        )

    band_keys = []
    for bstart in range(0, n_planes, r):
        terms = [
            f"(CASE WHEN {dot(planes[bstart + j])} >= 0 THEN {1 << j} ELSE 0 END)"
            for j in range(r)
        ]
        band_keys.append(" + ".join(terms))
    keys_list = "[" + ", ".join(band_keys) + "]"
    return f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    sig AS (
        SELECT vec_id, embedding,
               sqrt(list_reduce(list_transform(range(1, 65),
                    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
                    (x, y) -> x + y)) AS nrm,
               {keys_list} AS keys
        FROM e
    ),
    bands AS (
        SELECT vec_id, unnest(range({n_bands})) AS band_idx,
               unnest(keys) AS band_key
        FROM sig
    ),
    cand AS (
        SELECT DISTINCT n.vec_id AS new_id, o.vec_id AS old_id
        FROM bands n JOIN bands o
          ON n.band_idx = o.band_idx AND n.band_key = o.band_key
        WHERE ({new_pred_sql.replace('vec_id', 'n.vec_id')})
          AND NOT ({new_pred_sql.replace('vec_id', 'o.vec_id')})
    ),
    scored AS (
        SELECT c.new_id, c.old_id,
               list_reduce(list_transform(range(1, 65),
                   i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)),
                   (x, y) -> x + y) / (sa.nrm * sb.nrm) AS cos
        FROM cand c
        JOIN e ea ON ea.vec_id = c.new_id
        JOIN e eb ON eb.vec_id = c.old_id
        JOIN sig sa ON sa.vec_id = c.new_id
        JOIN sig sb ON sb.vec_id = c.old_id
    )
    SELECT new_id,
           CAST(min(old_id) AS BIGINT) AS dup_of_min,
           CAST(count(*) AS BIGINT) AS n_old_dups,
           max(cos) AS max_cos
    FROM scored WHERE cos >= {threshold}
    GROUP BY new_id
    ORDER BY new_id
    """


def mine_triplets(
    emb: DataFrame,
    n_anchors: int = 20,
    n_neg: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Semi-hard triplet mining for contrastive/metric training.

    Per anchor: the POSITIVE is its nearest same-label neighbor; the
    HARD NEGATIVES are the top-``n_neg`` different-label neighbors whose
    cosine is strictly below the positive's (the "semi-hard" band of
    Schroff et al. FaceNet 2015 — hard enough to carry gradient, not so
    hard they are likely label noise). One scored candidate frame feeds
    both selections, so the embedding table is scanned once.

    Scale shape: anchors are broadcast (a training batch, not the
    corpus); candidates stream partition-local; the only shuffles are
    the two per-anchor top-k windows (groups bounded by |anchors|). At
    100 TB the brute candidate scan swaps for the IVF/LSH candidate
    generators in this module — the selection windows are unchanged.
    """
    anchors = emb.where(F.col(id_col) < n_anchors).select(
        F.col(id_col).alias("anchor_id"),
        F.col(vec_col).alias("av"),
        F.col(label_col).alias("albl"),
    )
    cand = emb.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cv"),
        F.col(label_col).alias("clbl"),
    )
    # Optimization r14 (guide §2.3/§2.4): the old shape filtered
    # `scored` twice (positive branch + negative branch) and joined the
    # 20-row positive frame back on — the broadcast join and the
    # per-row cosine folds evaluated TWICE, and the join added an
    # exchange the negative window didn't share. Now the positive
    # (pos_id, cos_pos) ride `scored` as per-anchor WINDOW columns
    # (max_by keyed on struct(cos, -cand_id) = the identical
    # cos-DESC/cand-ASC tie rule; anchors with no same-label candidate
    # get NULL cos_pos, so their negatives vanish in the strict `<`
    # filter exactly as the old inner join dropped them), and the
    # ranking window reuses the same anchor partitioning — ONE cosine
    # pass, one exchange.
    scored = (
        fan_out(cand)
        .join(F.broadcast(anchors), F.col("cand_id") != F.col("anchor_id"))
        .withColumn("cos", cosine(F.col("av"), F.col("cv")))
        .select("anchor_id", "albl", "cand_id", "clbl", "cos")
    )
    same = F.col("clbl") == F.col("albl")
    wa = Window.partitionBy("anchor_id")
    neg_cand = (
        scored.withColumn(
            "pos_id",
            F.expr(
                "max_by(CASE WHEN clbl = albl THEN cand_id END,"
                " CASE WHEN clbl = albl THEN struct(cos, -cand_id) END)"
            ).over(wa),
        )
        .withColumn("cos_pos", F.max(F.when(same, F.col("cos"))).over(wa))
        .where((~same) & (F.col("cos") < F.col("cos_pos")))
    )
    wneg = Window.partitionBy("anchor_id").orderBy(
        F.col("cos").desc(), F.col("cand_id")
    )
    return (
        neg_cand.withColumn("neg_rank", F.row_number().over(wneg))
        .where(F.col("neg_rank") <= n_neg)
        .select(
            "anchor_id",
            "pos_id",
            F.col("cand_id").alias("neg_id"),
            F.col("neg_rank").cast("int").alias("neg_rank"),
            "cos_pos",
            F.col("cos").alias("cos_neg"),
            (F.col("cos_pos") - F.col("cos")).alias("margin"),
        )
    )


# -- Hierarchical (funnel) codebook assignment --------------------------------
#
# The flat broadcast-argmin assignment materializes k rows per vector
# (k·N). Fine at fixed k; with SemDeDup-style k ∝ N it is the one
# superlinear term left in the D4 pipeline (VERDICT r12 "What's wrong"
# #1, measured 56x wall at 100x data). The funnel fix, same machinery
# as knn_ivf_int8_funnel's coarse probe: quantize the CODEBOOK into
# g ≈ √k groups, route each vector to its nprobe nearest group
# centers, then argmin only over those groups' member centroids —
# N·(g + nprobe·k/g) work instead of k·N.
#
# Everything is deterministic and relational, so the whole route is
# replayable as DuckDB SQL (the knn_hier_assign oracle hash-checks it):
#   - group seeds: the g member centroids with the smallest
#     (md5(cell) 32-bit slice, cell) — the k-means seed rule applied
#     to the codebook itself;
#   - membership: each centroid joins its nearest seed
#     (min struct(dist², gid) — ties break on gid);
#   - group centers: per-(gid, dim) DECIMAL(38,12) means of the member
#     centroids (shuffle-order-free, bit-equal across engines);
#   - probe: successive fold-argmin over the g centers (ties on gid);
#   - fine: fold-argmin over the probed groups' members (ties on cell)
#     with the exact same squared-distance fold as the flat path.
#
# The group state travels as ONE nested row (model rides a broadcast
# join, never a closure), so assignment itself is a pure projection —
# no shuffle, no k·N intermediate.

#: assignment switches from flat broadcast-argmin to the funnel route
#: at this codebook size (flat is cheaper below it; every registered
#: k=16 query keeps its exact plan and oracle).
HIER_ASSIGN_THRESHOLD = 64


def _sqdist(a: Column, b: Column) -> Column:
    """Ascending-dim left-fold Σ(aᵢ-bᵢ)² — the shared distance shape of
    the flat and hierarchical paths (and of the DuckDB oracles)."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


_GROUPS_SCHEMA = "gcs: array<struct<gid:int, gc:array<double>>>"


def hier_group_state(
    cents: DataFrame, g: int, dim: int = 64
) -> tuple[DataFrame, DataFrame]:
    """Collapse a centroid frame (cell int, cv array<double>) into the
    funnel's two-piece group state:

    - ``members`` (k rows: cell, cv, gid) — the codebook tagged with
      its coarse group, the BUILD side of the fine broadcast-hash join;
    - ``centers_one`` (ONE row: gcs = array<struct<gid, gc>>) — only
      the g group centers, light enough (g·dim doubles) to ride a
      1-row broadcast and be scanned per vector.

    The split is load-bearing for throughput: an earlier single nested
    row carried every member VECTOR, and the per-row fine fold then
    copied ~nprobe·k/g·dim doubles per vector — measured SLOWER than
    the flat argmin at 100x (Column expressions captured inside HOF
    lambdas are also re-evaluated per element, so the coarse distances
    were recomputed g times). Keeping members in a plain frame makes
    the fine pass an ordinary broadcast-hash join + min(struct) agg —
    whole-stage codegen, no array copying, map-side combine.

    All steps run on k rows (model-sized): a g-row seed window, one
    k×g argmin join, one decimal group-center mean. Nothing touches
    the driver.

    The input frame is PERSISTED here (k rows — model-sized): this
    construction reads it three times (seed scan, seed-vector join,
    member argmin), and when ``cents`` is an ITERATIVE round's output
    (the unrolled Lloyd trainer) each un-cached re-read would re-execute
    the previous round's full N-row assignment — the classic
    multi-reference lineage blowup."""
    cents = persist(cents)
    h = F.conv(
        F.substring(F.md5(F.col("cell").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    seeds = (
        cents.select(F.col("cell").alias("scell"), h.alias("h"))
        .orderBy("h", "scell")
        .limit(g)
        .withColumn("gid", F.row_number().over(Window.orderBy("h", "scell")))
        .select("gid", "scell")
    )
    seed_vecs = seeds.join(
        F.broadcast(
            cents.select(F.col("cell").alias("scell"), F.col("cv").alias("sv"))
        ),
        "scell",
    ).select("gid", "sv")
    member = (
        cents.join(F.broadcast(seed_vecs))
        .withColumn("__d", _sqdist(F.col("cv"), F.col("sv")))
        .groupBy("cell")
        .agg(
            F.min(F.struct("__d", "gid"))["gid"].alias("gid"),
            F.any_value("cv").alias("cv"),
        )
    )
    # per-dim DECIMAL(38,12) group-center sums: order-free, same
    # scale-12 semantics as the DuckDB oracle's sum(DECIMAL(38,12))
    aggs = [F.count("*").alias("__n")]
    for d in range(dim):
        aggs.append(
            F.sum(
                F.element_at("cv", d + 1).cast("decimal(38,12)")
            ).alias(f"__s{d}")
        )
    gcent = member.groupBy("gid").agg(*aggs)
    gc = F.array(
        *[
            F.col(f"__s{d}").cast("double") / F.col("__n").cast("double")
            for d in range(dim)
        ]
    )
    centers_one = (
        gcent.withColumn("gc", gc)
        .select("gid", "gc")
        .agg(F.array_sort(F.collect_list(F.struct("gid", "gc"))).alias("gcs"))
    )
    return member.select("cell", "cv", "gid"), centers_one


def _hier_groups_py(
    centroids: list[list[float]], g: int
) -> tuple[dict[int, int], list[tuple[int, list[float]]]]:
    """Pure-python core of the driver-side grouping twin: (cell -> gid
    map, sorted [(gid, group center)]) for a literal codebook with
    implicit cell ids 1..k. Same seed rule as :func:`hier_group_state`;
    means round-trip through decimal quantization (Decimal(float) is
    the EXACT binary expansion and HALF_UP matches Spark's
    double->decimal(38,12) cast) so both construction routes yield
    bit-equal group centers."""
    import hashlib
    from decimal import ROUND_HALF_UP, Decimal

    k = len(centroids)
    hs = sorted(
        (int(hashlib.md5(str(c + 1).encode()).hexdigest()[:8], 16), c + 1)
        for c in range(k)
    )
    seeds = [cell for _, cell in hs[:g]]
    gid_of: dict[int, int] = {}
    for cell in range(1, k + 1):
        v = centroids[cell - 1]
        best = None
        for gi, scell in enumerate(seeds, start=1):
            sv = centroids[scell - 1]
            d = 0.0
            for x, y in zip(v, sv):
                d += (float(x) - float(y)) * (float(x) - float(y))
            if best is None or (d, gi) < best:
                best = (d, gi)
        gid_of[cell] = best[1]
    rows = []
    for gi in sorted(set(gid_of.values())):
        cells = sorted(c for c, gg in gid_of.items() if gg == gi)
        dim = len(centroids[0])
        gc = []
        for d in range(dim):
            s = sum(
                Decimal(float(centroids[c - 1][d])).quantize(
                    Decimal("1." + "0" * 12), rounding=ROUND_HALF_UP
                )
                for c in cells
            )
            gc.append(float(s) / float(len(cells)))
        rows.append((gi, gc))
    return gid_of, rows


def hier_groups_literal(
    spark, centroids: list[list[float]], g: int
) -> tuple[DataFrame, DataFrame]:
    """Driver-side twin of :func:`hier_group_state` for the
    literal-codebook :func:`assign_cells` form (the codebook is already
    model state on the driver; k·g python work is negligible). Same
    seed rule; means use the identical round-trip through decimal
    quantization (:func:`_hier_groups_py`) so both construction routes
    yield bit-equal group centers."""
    gid_of, rows = _hier_groups_py(centroids, g)
    member_rows = [
        (c, [float(x) for x in centroids[c - 1]], gid_of[c])
        for c in range(1, len(centroids) + 1)
    ]
    members = spark.createDataFrame(
        member_rows, "cell int, cv array<double>, gid int"
    )
    centers_one = spark.createDataFrame([(rows,)], _GROUPS_SCHEMA)
    return members, centers_one


def coarse_probe_gids(vec: Column, gcs: Column, nprobe: int) -> Column:
    """The ``nprobe`` nearest group ids for one vector: g distance
    folds over the centers array, array_sort by (distance, gid) —
    ties on gid — and a slice. The caller MATERIALIZES this as its own
    projected column so the g folds run exactly once per row (a Column
    captured inside a later lambda would re-evaluate per element)."""
    scored = F.transform(
        gcs,
        lambda g_: F.struct(
            _sqdist(vec, g_["gc"]).alias("d"), g_["gid"].alias("i")
        ),
    )
    return F.transform(
        F.slice(F.array_sort(scored), 1, nprobe), lambda p: p["i"]
    )


def assign_cells_hier(
    emb: DataFrame,
    group_state: tuple[DataFrame, DataFrame],
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "cell",
) -> DataFrame:
    """Hierarchical :func:`assign_cells` over the two-piece state from
    :func:`hier_group_state`: per row, ONE materialized coarse-probe
    column (g distance folds against the 1-row broadcast centers), then
    explode the nprobe probed gids and broadcast-hash-join the k-row
    member frame — the flat-assign join shape at nprobe·k/g rows per
    vector instead of k. Ties: (distance, gid) coarse, (distance, cell)
    fine — the exact order the knn_hier_assign oracle replays."""
    members, centers_one = group_state
    cols = [c for c in emb.columns]
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    probed = (
        emb.join(F.broadcast(centers_one))
        .withColumn("__probe", coarse_probe_gids(v, F.col("gcs"), nprobe))
        .select(*cols, F.explode("__probe").alias("gid"))
    )
    dist = _sqdist(v, F.col("cv"))
    fine = (
        probed.join(F.broadcast(members), "gid")
        .withColumn("__dist", dist)
        .groupBy(id_col)
        .agg(
            F.min(F.struct(F.col("__dist"), F.col("cell")))["cell"].alias(
                out_col
            ),
            *[F.any_value(c).alias(c) for c in cols if c != id_col],
        )
    )
    return fine.select(*cols, out_col)


# ---------------------------------------------------------------------------
# Second-level funnel (VERDICT r13 #4): recurse the coarse tier.
#
# One level gives per-vector cost g + nprobe·k/g — minimized at g = √k,
# i.e. O(√k) distance folds, the residual N·√k term SCALING.md names
# under k ∝ N. Recursing once more — g2 super-groups over the g group
# centers — makes the coarse probe itself a funnel: g2 folds against a
# 1-row broadcast of super-centers, then folds against only the probed
# super-groups' member GROUP CENTERS (a map<sgid, array<struct>> on the
# same 1-row broadcast — lookup, never a join), then the usual fine
# broadcast-hash join. Sizing g = k^(2/3), g2 = k^(1/3) balances all
# three stages at O(k^(1/3)) folds per vector: N·k^(1/3) total.
#
# Model state stays two pieces: the k-row member frame (fine join build
# side) and ONE nested row (super-centers + sgid→group-centers map) —
# g·dim doubles, broadcast-light. No stage shuffles anything but the
# final per-id argmin groupBy (same as the 1-level route).

#: kmeans_unrolled_stats opts in to the TWO-level funnel at this k
#: (when the caller passed a hier_threshold at all); below it the
#: 1-level route's √k folds are already cheap.
HIER2_ASSIGN_THRESHOLD = 512


def hier_group_state2(
    cents: DataFrame, g: int, g2: int, dim: int = 64
) -> tuple[DataFrame, DataFrame]:
    """Two-tier funnel state from a centroid frame (cell, cv):

    - ``members`` (k rows: cell, cv, gid) — fine join build side,
      identical to :func:`hier_group_state`'s first piece;
    - ``state_one`` (ONE row): ``sgs`` = array<struct<sgid, sc>> (the
      g2 super-centers, probed per row) and ``gmap`` = map<sgid,
      array<struct<gid, gc>>> (each super-group's member group
      centers, looked up per probed sgid — never joined).

    The level-1 grouping runs on the k-row frame; the level-2 grouping
    runs DRIVER-side on the g group centers — one bounded model-state
    collect (g·dim doubles), the repo's allowed collect class — via the
    same :func:`_hier_groups_py` core the literal route uses (identical
    seed rule, argmin, decimal-quantized means, so frame and literal
    constructions remain bit-equal; pinned for level 1 by
    tests/test_round15_ops.py). Doing level 2 on the driver removes
    ~8 model-sized Spark stages per call — measured as the dominant
    fixed cost of the 100x d4 rung's per-round state rebuild."""
    members, centers_one = hier_group_state(cents, g, dim)
    spark = cents.sparkSession
    # one bounded collect: the SORTED (gid, gc) array — gids are
    # contiguous 1..g by construction, so index i holds gid i+1
    gcs = centers_one.collect()[0][0]
    glist = [[float(x) for x in s.gc] for s in gcs]
    sgid_of, srows = _hier_groups_py(glist, g2)
    gmap: dict[int, list[tuple[int, list[float]]]] = {}
    for gid in range(1, len(glist) + 1):
        gmap.setdefault(sgid_of[gid], []).append((gid, glist[gid - 1]))
    for v in gmap.values():
        v.sort()
    state_one = spark.createDataFrame(
        [(srows, gmap)],
        "sgs: array<struct<gid:int,gc:array<double>>>, "
        "gmap: map<int,array<struct<gid:int,gc:array<double>>>>",
    )
    return members, state_one


def assign_cells_hier2(
    emb: DataFrame,
    state2: tuple[DataFrame, DataFrame],
    nprobe2: int = 3,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "cell",
) -> DataFrame:
    """Two-level funnel assignment over :func:`hier_group_state2` state.

    Per row, in materialized steps (each its OWN projected column —
    a Column captured inside a later HOF lambda re-evaluates per
    element): (1) probe nprobe2 super-groups against the 1-row
    broadcast's ``sgs``; (2) gather their member group centers by map
    lookup and fold distances over just those ~nprobe2·g/g2 centers,
    keeping the nprobe best gids; (3) explode and broadcast-hash-join
    the k-row member frame, per-id min(struct) argmin — the identical
    fine stage (and tie rule: (distance, gid) coarse, (distance, cell)
    fine) as the 1-level route."""
    members, state_one = state2
    cols = [c for c in emb.columns]
    probed = (
        emb.join(F.broadcast(state_one))
        .withColumn(
            "__v", F.transform(F.col(vec_col), lambda x: x.cast("double"))
        )
        .withColumn(
            "__sprobe",
            coarse_probe_gids(F.col("__v"), F.col("sgs"), nprobe2),
        )
        .withColumn(
            "__cands",
            F.flatten(
                F.transform(
                    F.col("__sprobe"),
                    lambda s: F.element_at(F.col("gmap"), s),
                )
            ),
        )
        .withColumn(
            "__gprobe",
            F.transform(
                F.slice(
                    F.array_sort(
                        F.transform(
                            F.col("__cands"),
                            lambda g_: F.struct(
                                _sqdist(F.col("__v"), g_["gc"]).alias("d"),
                                g_["gid"].alias("i"),
                            ),
                        )
                    ),
                    1,
                    nprobe,
                ),
                lambda p: p["i"],
            ),
        )
        .select(*cols, F.explode("__gprobe").alias("gid"))
    )
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    fine = (
        probed.join(F.broadcast(members), "gid")
        .withColumn("__dist", _sqdist(v, F.col("cv")))
        .groupBy(id_col)
        .agg(
            F.min(F.struct(F.col("__dist"), F.col("cell")))["cell"].alias(
                out_col
            ),
            *[F.any_value(c).alias(c) for c in cols if c != id_col],
        )
    )
    return fine.select(*cols, out_col)


def nn_descent(
    emb: DataFrame,
    k: int = 5,
    n_blocks: int = 16,
    rounds: int = 3,
    hash_mult: int = 2654435761,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """NN-descent k-NN-graph construction core (Dong et al. 2011); see
    queries/round16.dd_nn_descent for the registered row + oracle.
    Deterministic throughout: floor(x*127) bigint codes, exact bigint
    dots, (dp DESC, id) tie-breaks.

    Init = exact top-k within the union of TWO crossed blockings
    (id % n_blocks and a Knuth-hash nibble) — keep n_blocks ∝ N so the
    per-block quadratic init stays O(N·block) = linear; a fixed block
    count turns the init into the N² term (the scale_probe nnd rung
    prices exactly that choice). Each descent round reranks
    out-neighbors ∪ their out-neighbors ∪ in-neighbors: O(N·k²)
    candidates, shuffle-joined back to the code table — never an
    all-pairs sweep. Returns (v, n, dp) — the directed k-NN graph."""
    q = checkpoint(emb.select(
        F.col(id_col).alias("vec_id"),
        F.expr(
            f"transform(cast({vec_col} as array<double>),"
            " x -> cast(floor(x * 127) as bigint))"
        ).alias("qv"),
    ))

    import numpy as np

    def _topk(scored: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        w = Window.partitionBy("v").orderBy(F.col("dp").desc(), "n")
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .select("v", "n", "dp")
        )

    def _score(cands: DataFrame) -> DataFrame:
        # descent rounds: candidate volume is O(N·k²) — small enough
        # that the JVM HOF fold beats an extra pandas stage spin-up
        return (
            cands.join(
                q.select(F.col("vec_id").alias("v"), F.col("qv").alias("qa")),
                "v",
            )
            .join(
                q.select(F.col("vec_id").alias("n"), F.col("qv").alias("qb")),
                "n",
            )
            .select(
                "v",
                "n",
                F.expr(
                    "aggregate(zip_with(qa, qb, (x, y) -> x * y), 0L,"
                    " (acc, x) -> acc + x)"
                ).alias("dp"),
            )
        )

    blk_span = 4294967296 // n_blocks
    # block keys ride the projection — the old shape re-joined q to
    # itself just to attach them (one whole broadcast join for two
    # column expressions; optimization r14)
    qb = q.select(
        "vec_id",
        "qv",
        (F.col("vec_id") % n_blocks).alias("b1"),
        F.expr(
            f"((vec_id * {hash_mult}) % 4294967296) div {blk_span}"
        ).alias("b2"),
    )

    def _blk_scored(key: str) -> DataFrame:
        # Optimization r14 (guide §8 — move heavy bytes once, decide on
        # proxies): the old block equi-join shipped the 64-wide code
        # arrays through Arrow PER PAIR (block_size² rows × 2 × 512 B ≈
        # 0.5 GB at sf0.1) into a per-pair dot kernel. Instead, group by
        # block and hand each block's code MATRIX to one numpy int64
        # gram matmul: Arrow ships N rows per blocking (each vector
        # once), the kernel emits only the narrow (v, n, dp) rows.
        # int64 matmul is the same order-free exact integer as the SQL
        # fold (|dp| ≤ 64·127² « 2⁶³), so values are bit-identical.
        # Block size stays bounded by the n_blocks ∝ N contract (see
        # docstring), so the per-block gram is O(block²) = O(N) total.
        def _gram(pdf: pd.DataFrame) -> pd.DataFrame:
            ids = pdf["vec_id"].to_numpy()
            A = np.vstack(pdf["qv"].to_numpy()).astype(np.int64)
            G = A @ A.T
            m = len(ids)
            ii, jj = np.nonzero(~np.eye(m, dtype=bool))
            return pd.DataFrame(
                {"v": ids[ii], "n": ids[jj], "dp": G[ii, jj]}
            )

        return (
            qb.select("vec_id", "qv", F.col(key).alias("kk"))
            .groupBy("kk")
            .applyInPandas(_gram, "v long, n long, dp long")
        )

    # a pair found under BOTH blockings scores identically — max-dedup
    # on the narrow scored rows
    scored0 = (
        _blk_scored("b1")
        .union(_blk_scored("b2"))
        .groupBy("v", "n")
        .agg(F.max("dp").alias("dp"))
    )
    knn = checkpoint(_topk(scored0))
    for _ in range(rounds):
        nbr2 = (
            knn.alias("x")
            .join(
                knn.alias("y"),
                (F.col("x.n") == F.col("y.v"))
                & (F.col("y.n") != F.col("x.v")),
            )
            .select(F.col("x.v").alias("v"), F.col("y.n").alias("n"))
        )
        rev = knn.select(F.col("n").alias("v"), F.col("v").alias("n"))
        cands = knn.select("v", "n").union(nbr2).union(rev).distinct()
        nxt = checkpoint(_topk(_score(cands)))
        release(knn)
        knn = nxt
    return knn


def int_cos_edges(
    emb: DataFrame,
    num: int = 3,
    den: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """AUDIT-SCALE exact similarity-graph edges: all (ia < ib) pairs
    with int-quantized cosine >= num/den, via the exact cross-multiplied
    integer predicate dp > 0 AND den²·dp² >= num²·|a|²·|b|² over
    floor(x·127) bigint codes — engine-invariant, no double
    division/sqrt (the same predicate the g6/g7 oracles state in SQL).

    Execution: the full code matrix is a bounded model-state collect
    (N×64 bigints) broadcast to every partition; each partition's chunk
    computes its dp block against the whole matrix as ONE numpy int64
    matmul — exact integers, identical to the SQL fold, ~100× cheaper
    than a per-pair HOF loop. O(N²) by construction: the measuring
    stick / audit path (same class as dd_embedding_nn_exact_audit);
    corpus-scale edge generation is the LSH-banded candidate machinery."""
    import numpy as np

    q = emb.select(
        F.col(id_col).alias("vec_id"),
        F.expr(
            f"transform(cast({vec_col} as array<double>),"
            " x -> cast(floor(x * 127) as bigint))"
        ).alias("qv"),
    )
    rows = q.collect()
    ids_all = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    Q_all = np.array([r["qv"] for r in rows], dtype=np.int64)
    order = np.argsort(ids_all)
    ids_all, Q_all = ids_all[order], Q_all[order]
    n2_all = np.einsum("ij,ij->i", Q_all, Q_all)
    spark = emb.sparkSession
    bc = spark.sparkContext.broadcast((ids_all, Q_all, n2_all))
    nsq, dsq = num * num, den * den

    def _edges(batches):
        ids_b, Q_b, n2_b = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            my_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            Qc = np.vstack(pdf["qv"].to_numpy()).astype(np.int64)
            n2c = np.einsum("ij,ij->i", Qc, Qc)
            D = Qc @ Q_b.T
            mask = (D > 0) & (
                dsq * D * D >= nsq * np.outer(n2c, n2_b)
            ) & (my_ids[:, None] < ids_b[None, :])
            ii, jj = np.nonzero(mask)
            yield pd.DataFrame(
                {"ia": my_ids[ii], "ib": ids_b[jj]}
            )

    return q.mapInPandas(_edges, "ia long, ib long")
