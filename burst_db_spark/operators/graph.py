"""Graph analytics over edge DataFrames: bounded-iteration PageRank.

Connected components (operators/dedup.py) covers reachability; this adds
the importance-propagation family. PageRank here is the POWER-ITERATION
formulation as pure DataFrame ops:

    p_{k+1}(v) = (1-d)/N + d · Σ_{u→v} p_k(u) / outdeg(u)

- Each iteration is ONE shuffle: edges join current ranks on src
  (broadcast when the rank table is small, shuffled hash join at scale),
  then a groupBy on dst.
- Dangling mass: nodes with no outgoing edges leak rank in the plain
  formulation; the canonical fix redistributes their mass uniformly.
  For bounded-iteration ORACLE parity we keep the simple leak semantics
  (both engines compute the identical thing) — callers wanting the
  stochastic-matrix variant pass ``redistribute_dangling=True`` (not
  SQL-mirrored; pytest-covered).
- Cross-engine determinism WITHOUT skew: the per-target sum is a
  TWO-LEVEL ordered fold. Contributions first group by (dst, bucket)
  where bucket = md5(src) % N_BUCKETS — a portable sub-key both engines
  compute identically — and fold in src order; then the per-bucket sums
  group by dst and fold in bucket order. Addition order is fully pinned
  (bucket-major, src-minor), so ranks are bit-identical to the DuckDB
  twin, not merely close. The skew win: a celebrity node's in-degree-D
  contribution list never materializes on one reducer — level 1 spreads
  it over N_BUCKETS reducers and level 2's row is exactly ≤ N_BUCKETS
  elements wide, vs the single collect_list(D) row that risked OOM on
  power-law graphs.

At 100 TB scale the rank table is node-sized and the edge table
edge-sized; k iterations = k bounded shuffle pairs. No driver state
beyond the iteration counter. The returned frame is persisted (it IS the
final materialized iteration), released with the caller's
:func:`burst_db_spark.runner.scope`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from burst_db_spark.runner import persist

# Sub-bucket fan-out for the deterministic contribution fold. 32 bounds
# the level-2 row width and splits any skewed destination's reduce work
# 32 ways; raise it for graphs with 10^8+-degree hubs (any value works —
# the oracle twin takes the same constant).
PR_FOLD_BUCKETS = 32


def _src_bucket(col: Column, n_buckets: int) -> Column:
    """Portable deterministic sub-bucket: first 4 md5 hex digits of the
    source id, mod n_buckets. DuckDB computes the identical value via
    CAST(('0x' || substr(md5(src),1,4)) AS BIGINT) % n."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 4), 16, 10).cast("bigint")
        % n_buckets
    )


def _kv(key: Column, val: Column) -> Column:
    return F.struct(key.alias("k"), val.alias("v"))


def _ordered_fold(pairs: Column) -> Column:
    """Bit-exact sum of an array<struct<k,v>> in k order."""
    return F.aggregate(
        F.array_sort(pairs), F.lit(0.0), lambda acc, x: acc + x["v"]
    )


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
    redistribute_dangling: bool = False,
    n_buckets: int = PR_FOLD_BUCKETS,
) -> DataFrame:
    """(id, rank) after ``iterations`` power steps from the uniform
    start. ``edges`` rows must be distinct (dedup upstream)."""
    # Persist the edge frame FIRST: it is scanned once per iteration plus
    # once each for degrees and (via cache-plan substitution) the node
    # derivation — without this an expensive edge derivation (e.g. the
    # g1 lineitem⋈orders + distinct) re-executes iterations+2 times.
    # Registered before nodes.count() so the node derivation (built from
    # the same edges plan) already hits the cache.
    edges = persist(edges)
    n_nodes = nodes.count()  # driver scalar: one number, sizes the teleport
    if n_nodes == 0:
        edges.unpersist()
        return nodes.select(
            F.col(id_col), F.lit(0.0).alias("rank")
        )  # empty graph: empty (id, rank) frame, same schema
    teleport = (1.0 - damping) / n_nodes

    deg = persist(edges.groupBy(src).agg(F.count("*").cast("long").alias("__deg")))
    ranks = nodes.select(
        F.col(id_col).alias("__v"),
        F.lit(1.0 / n_nodes).alias("__p"),
    )
    prev: DataFrame | None = None
    try:
        for _ in range(iterations):
            contribs = (
                edges.join(ranks.withColumnRenamed("__v", src), src)
                .join(deg, src)
                .select(
                    F.col(dst).alias("__v"),
                    F.col(src).cast("string").alias("__src"),
                    _src_bucket(F.col(src), n_buckets).alias("__b"),
                    (F.col("__p") / F.col("__deg")).alias("__c"),
                )
            )
            # level 1: per (dst, bucket), fold contributions in src order —
            # the skewed dst key fans out over n_buckets reducers
            bucket_sums = (
                contribs.groupBy("__v", "__b")
                .agg(
                    _ordered_fold(
                        F.collect_list(_kv(F.col("__src"), F.col("__c")))
                    ).alias("__bs")
                )
            )
            # level 2: per dst, fold the ≤ n_buckets bucket sums in
            # bucket order — bounded row width by construction
            summed = bucket_sums.groupBy("__v").agg(
                _ordered_fold(
                    F.collect_list(_kv(F.col("__b"), F.col("__bs")))
                ).alias("__in")
            )
            new_ranks = (
                ranks.join(summed, "__v", "left")
                .select(
                    "__v",
                    (
                        F.lit(teleport)
                        + F.lit(damping) * F.coalesce(F.col("__in"), F.lit(0.0))
                    ).alias("__p"),
                )
            )
            if redistribute_dangling:
                dangling = (
                    ranks.join(deg.withColumnRenamed(src, "__v"), "__v", "left_anti")
                    .agg(F.sum("__p"))
                    .first()[0]
                    or 0.0
                )
                new_ranks = new_ranks.select(
                    "__v",
                    (
                        F.col("__p") + F.lit(damping * dangling / n_nodes)
                    ).alias("__p"),
                )
            # materialize each step: without this, step k's lazy plan
            # recomputes steps 1..k-1 (O(k²) shuffles total instead of O(k))
            new_ranks = persist(new_ranks)
            new_ranks.count()
            if prev is not None:
                prev.unpersist()
            prev = new_ranks
            ranks = new_ranks
    except Exception:
        if prev is not None:  # mid-loop failure: drop the cached step
            prev.unpersist()
        raise
    finally:
        deg.unpersist()
        edges.unpersist()
    return ranks.select(F.col("__v").alias(id_col), F.col("__p").alias("rank"))


def triangle_stats(
    edges: DataFrame,
    a: str = "a",
    b: str = "b",
) -> DataFrame:
    """One-row (n_vertices, n_edges, n_wedges, n_triangles) for an
    undirected simple graph given as canonical edges (a < b, distinct).

    Degree-ORIENTED counting (Suri & Vassilvitskii's "curse of the last
    reducer" fix): each edge is directed from its lower-(degree, id)
    endpoint to the higher one, wedges are enumerated only at each
    wedge's minimum-rank vertex, and a wedge closes iff the canonical
    edge between its two out-endpoints exists. Every triangle is counted
    exactly once, and the per-vertex enumeration cost is
    O(out_deg²) where out-degree is bounded by O(sqrt(E)) — a star
    graph's hub emits NO wedges (all its edges point outward-by-degree),
    so the classic skew blowup (hub deg² wedges on one reducer) never
    materializes. Triangle count is orientation-invariant, so the naive
    SQL oracle reproduces the identical integer.

    n_wedges is the UNORIENTED path-of-length-2 count Σ_v C(deg_v, 2) —
    with n_triangles it yields the global clustering coefficient
    3·T/W without ever materializing the wedge set.
    """
    va = F.col(a)
    vb = F.col(b)
    # Optimization r14 (guide §2.3/§5): the old shape ran FOUR separate
    # driver actions (edge count, vertex count, wedge sum, triangle
    # count), each re-evaluating the uncached edge pipeline from
    # scratch, then collected the integers and re-created a frame on
    # the driver. Now the edge list is materialized ONCE (eager
    # localCheckpoint — the iterative-device primitive; one job) and
    # the four statistics are one LAZY single-row plan (aggregates
    # cross-joined), so the caller's action runs everything in one job
    # and nothing round-trips through the driver. Expressions are
    # unchanged, so every integer is identical.
    edges = edges.select(va.alias(a), vb.alias(b)).localCheckpoint(eager=True)
    va, vb = F.col(a), F.col(b)
    verts = edges.select(va.alias("v")).unionByName(edges.select(vb.alias("v")))
    deg = verts.groupBy("v").agg(F.count("*").cast("long").alias("deg"))

    ed = (
        edges.join(deg.withColumnRenamed("v", a).withColumnRenamed("deg", "__da"), a)
        .join(deg.withColumnRenamed("v", b).withColumnRenamed("deg", "__db"), b)
    )
    a_first = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (va < vb)
    )
    oriented = ed.select(
        F.when(a_first, va).otherwise(vb).alias("src"),
        F.when(a_first, vb).otherwise(va).alias("dst"),
    )
    o1 = oriented.select(F.col("src"), F.col("dst").alias("__w1"))
    o2 = oriented.select(F.col("src"), F.col("dst").alias("__w2"))
    wedges_o = o1.join(o2, "src").where(F.col("__w1") < F.col("__w2"))
    closing = edges.select(F.col(a).alias("__w1"), F.col(b).alias("__w2"))
    tri = wedges_o.join(closing, ["__w1", "__w2"], "left_semi")

    return (
        deg.agg(
            F.count("*").cast("bigint").alias("n_vertices"),
            F.coalesce(
                F.sum(F.col("deg") * (F.col("deg") - 1) / 2).cast("long"),
                F.lit(0).cast("long"),
            ).cast("bigint").alias("n_wedges"),
        )
        .crossJoin(edges.agg(F.count("*").cast("bigint").alias("n_edges")))
        .crossJoin(tri.agg(F.count("*").cast("bigint").alias("n_triangles")))
        .select("n_vertices", "n_edges", "n_wedges", "n_triangles")
    )


def kcore_peel(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 12,
) -> DataFrame:
    """k-core decomposition by synchronized peeling: repeatedly delete
    every vertex whose degree is < k (and its edges) until no deletion
    happens. ``edges`` must be SYMMETRIC (both directions present), so
    degree = count per ``src`` — one groupBy, no union.

    Returns the PEEL PROFILE, one row per round r = 0..T:
    ``(round, n_nodes, n_edges, n_removed)`` where round 0 is the input
    graph and T is the first round whose graph equals the previous
    round's (the fixpoint marker row is included). The profile pins the
    whole trajectory, not just the terminal core — a wrong intermediate
    round cannot hash-collide its way to a green check.

    Scale shape: each round is one degree groupBy plus two hash joins
    on a strictly shrinking edge set — the textbook distributed k-core
    (ENABLE-style synchronized peeling). Rounds are worst-case O(V)
    (a path peels from the ends inward), so callers cap ``max_rounds``
    and the unrolled DuckDB oracle must unroll at least as deep as the
    data's true fixpoint; rounds past the fixpoint are no-ops
    (idempotent), so overshooting is safe, undershooting raises here.
    Each round's frame is eagerly localCheckpointed: the loop otherwise
    compounds a 3-reference plan per round (Catalyst analysis goes
    superlinear — see kmeans_unrolled_stats).
    """
    spark = edges.sparkSession
    cur = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).localCheckpoint(eager=True)
    stats = cur.agg(
        F.countDistinct("src").alias("n"), F.count("*").alias("e")
    ).first()
    profile = [(0, int(stats["n"] or 0), int(stats["e"] or 0), 0)]
    for _ in range(max_rounds):
        deg = cur.groupBy("src").agg(F.count("*").alias("__deg"))
        keep = deg.where(F.col("__deg") >= k).select("src")
        nxt = (
            cur.join(keep, "src", "left_semi")
            .join(
                keep.withColumnRenamed("src", "dst"), "dst", "left_semi"
            )
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
        stats = nxt.agg(
            F.countDistinct("src").alias("n"), F.count("*").alias("e")
        ).first()
        n, e = int(stats["n"] or 0), int(stats["e"] or 0)
        prev_n, prev_e = profile[-1][1], profile[-1][2]
        profile.append((len(profile), n, e, prev_n - n))
        if (n, e) == (prev_n, prev_e):
            break
        cur = nxt
    else:
        raise ValueError(
            f"k-core did not converge within max_rounds={max_rounds}; "
            "raise max_rounds AND the oracle's unroll depth together"
        )
    return spark.createDataFrame(
        profile, "round bigint, n_nodes bigint, n_edges bigint, n_removed bigint"
    )


# Total integer mass for pagerank_int: 2^40 mass units. Large enough
# that 3 rounds of per-edge trunc-division keep ~28 significant bits on
# a 10^6-node graph; small enough that 85*inflow stays far from int64.
PR_INT_MASS = 1099511627776


def pagerank_int(
    edges: DataFrame,
    nodes: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
) -> DataFrame:
    """All-INTEGER-mass PageRank (d = 0.85), the 100 TB formulation:
    every round is edges ⋈ ranks ⋈ deg → plain groupBy SUM of bigint
    contributions. Because integer addition is order-free, the sum
    needs no ordered fold — partial aggregation (map-side combine)
    works, unlike :func:`pagerank`'s double-valued rounds whose
    two-level src-ordered fold must disable it to stay bit-exact.
    Same device as the HITS row (queries/round15.py g5_hits_unrolled).

    Semantics: p0 = M div n; contribution of u to each out-neighbor is
    p(u) div deg(u) (truncating — the leaked remainder is the same
    deterministic value on every engine); p'(v) = (15·M) div (100·n) +
    (85·inflow) div 100 with M = 2^40 total mass units. Dangling mass
    leaks (bounded-iteration oracle-parity semantics, as in
    :func:`pagerank`). Returns (id, rank_fx) bigints in 2^-40 units of
    total mass."""
    # Optimization r14 (guide §2.3 + §3 — the g3/g4/g5 iterative device):
    # the old per-round persist+count kept every prior round's subtree in
    # the LOGICAL plan (each round references `ranks` twice, so analysis
    # nested 2^r copies of the edge pipeline). Per-round eager
    # localCheckpoint truncates lineage — each round's plan is the cached
    # edge scan + one checkpoint leaf — and the node-sized ranks/inflow
    # and src-keyed deg frames broadcast into their joins while n_nodes
    # fits the gate (loop-invariant count; hash equi-join past it — the
    # 100 TB fallback). `edges` stays a persist, NOT a checkpoint: the
    # caller's node spine is usually derived from the same edge plan and
    # only cache-fragment substitution lets nodes.count() reuse it.
    edges = persist(edges)
    n_nodes = nodes.count()
    if n_nodes == 0:
        edges.unpersist()
        return nodes.select(F.col(id_col), F.lit(0).cast("bigint").alias("rank_fx"))
    p0 = PR_INT_MASS // n_nodes
    tp = (15 * PR_INT_MASS) // (100 * n_nodes)
    bcast = n_nodes <= 500_000
    deg = persist(edges.groupBy(src).agg(F.count("*").cast("long").alias("__deg")))
    ranks = nodes.select(
        F.col(id_col).alias("__v"), F.lit(p0).cast("bigint").alias("__p")
    )
    try:
        for _ in range(iterations):
            r = ranks.withColumnRenamed("__v", src)
            d = deg
            if bcast:
                r, d = F.broadcast(r), F.broadcast(d)
            inflow = (
                edges.join(r, src)
                .join(d, src)
                .select(
                    F.col(dst).alias("__v"),
                    F.expr("__p div __deg").alias("__c"),
                )
                .groupBy("__v")
                .agg(F.sum("__c").cast("bigint").alias("__in"))
            )
            if bcast:
                inflow = F.broadcast(inflow)
            ranks = (
                ranks.join(inflow, "__v", "left")
                .select(
                    "__v",
                    (
                        F.lit(tp).cast("bigint")
                        + F.expr(
                            "(85 * coalesce(__in, CAST(0 AS BIGINT))) div 100"
                        )
                    ).cast("bigint").alias("__p"),
                )
                .localCheckpoint(eager=True)
            )
    finally:
        deg.unpersist()
        edges.unpersist()
    return ranks.select(F.col("__v").alias(id_col), F.col("__p").alias("rank_fx"))


def pagerank_int_oracle_sql(
    edges_sql: str,
    nodes_sql: str,
    iterations: int = 3,
) -> str:
    """DuckDB twin of :func:`pagerank_int`: the identical integer
    recurrence unrolled — `//` and Spark's `div` both truncate toward
    zero, and bigint sums need no ordering."""
    it_ctes = []
    prev = "p0"
    for k in range(1, iterations + 1):
        it_ctes.append(f"""
    s{k} AS (
        SELECT e.dst AS v, CAST(sum(p.p // d.deg) AS BIGINT) AS inflow
        FROM edges e
        JOIN {prev} p ON p.v = e.src
        JOIN deg d ON d.src = e.src
        GROUP BY e.dst
    ),
    p{k} AS (
        SELECT n.v,
               CAST((SELECT tp FROM const)
                    + (85 * coalesce(s{k}.inflow, 0)) // 100
                    AS BIGINT) AS p
        FROM nodes_v n LEFT JOIN s{k} ON s{k}.v = n.v
    )""")
        prev = f"p{k}"
    return f"""
    WITH edges AS MATERIALIZED ({edges_sql}),
    nodes_v AS MATERIALIZED (SELECT v FROM ({nodes_sql})),
    const AS (
        SELECT {PR_INT_MASS} // count(*) AS p0,
               (15 * {PR_INT_MASS}) // (100 * count(*)) AS tp
        FROM nodes_v
    ),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
            FROM edges GROUP BY src),
    p0 AS (SELECT v, (SELECT p0 FROM const) AS p FROM nodes_v),
    {",".join(it_ctes)}
    SELECT v AS id, CAST(p AS BIGINT) AS rank_fx FROM {prev}
    """


def ktruss_peel(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 10,
) -> DataFrame:
    """k-truss decomposition by synchronized SUPPORT peeling — the edge
    analog of :func:`kcore_peel`: repeatedly delete every edge lying in
    fewer than k-2 triangles until stable. ``edges`` must be SYMMETRIC;
    support(u,v) = |common neighbors| via the 3-way self-join
    (u,w),(v,w) — edges with zero triangles drop immediately (their
    support row never materializes, which IS support 0 < k-2).

    Returns the peel profile (round, n_edges, n_removed) through the
    fixpoint, terminal no-op row included — same contract and the same
    unroll-depth discipline as kcore_peel. Each round is one triangle
    join (cost Σ_v deg(v)² on the current graph) + a HAVING filter on a
    strictly shrinking edge set; frames are localCheckpointed per round."""
    spark = edges.sparkSession
    cur = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).localCheckpoint(eager=True)
    e0 = cur.count()
    profile = [(0, int(e0), 0)]
    for _ in range(max_rounds):
        a = cur.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        b = cur.select(F.col("src").alias("v"), F.col("dst").alias("w"))
        c = cur.select(F.col("src").alias("u"), F.col("dst").alias("w"))
        nxt = (
            a.join(b, "v")
            .join(c, ["u", "w"], "left_semi")
            .groupBy("u", "v")
            .agg(F.count("*").alias("__sup"))
            .where(F.col("__sup") >= k - 2)
            .select(F.col("u").alias("src"), F.col("v").alias("dst"))
            .localCheckpoint(eager=True)
        )
        e = int(nxt.count())
        prev_e = profile[-1][1]
        profile.append((len(profile), e, prev_e - e))
        if e == prev_e:
            break
        cur = nxt
    else:
        raise ValueError(
            f"k-truss did not converge within max_rounds={max_rounds}; "
            "raise max_rounds AND the oracle's unroll depth together"
        )
    return spark.createDataFrame(
        profile, "round bigint, n_edges bigint, n_removed bigint"
    )
