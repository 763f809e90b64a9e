"""Graph analytics over edge DataFrames: bounded-iteration PageRank and
BFS, triangle statistics, and k-core / k-truss peeling.

Connected components (operators/dedup.py) covers reachability; this adds
the importance-propagation family and the bounded traversals. The
iterative operators here use the repo's iterative device: each round's
node- or edge-sized state is an eager :func:`burst_db_spark.runner.checkpoint`
(lineage truncated, so round k's plan does not inline rounds 1..k-1),
and join strategy is picked by MEASURED size through
:func:`burst_db_spark.session.broadcastable`. The peels and BFS free the
round they replace at once with :func:`burst_db_spark.runner.release`;
whatever is left is released with the caller's
:func:`burst_db_spark.runner.scope`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from burst_db_spark.runner import checkpoint, persist, release
from burst_db_spark.session import broadcastable


def bfs_hops(edges: DataFrame, seeds: DataFrame, rounds: int) -> DataFrame:
    """(v, hop) min-hop distances from the ``seeds`` (column ``v``, hop 0)
    after ``rounds`` relaxation rounds over ``edges`` (src, dst); give
    both directions for an undirected graph. Each round is ONE join
    shuffle + one min-aggregate — dist_k = min(dist_{k-1},
    1 + min over in-neighbors), a deterministic integer fold, so an
    unrolled-CTE oracle is bit-exact. Nothing is kept driver-side."""
    dist = checkpoint(seeds.select("v", F.lit(0).cast("int").alias("hop")))
    for _ in range(rounds):
        # frontier join strategy by MEASURED size (the checkpoint makes
        # the count a stored-block count, not a recompute)
        d = F.broadcast(dist) if broadcastable(dist.count()) else dist
        nbr = edges.join(d, edges.src == d.v).select(
            F.col("dst").alias("v"), (F.col("hop") + 1).alias("hop")
        )
        nxt = checkpoint(
            dist.unionByName(nbr).groupBy("v").agg(F.min("hop").cast("int").alias("hop"))
        )
        release(dist)
        dist = nxt
    return dist


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
    # checkpoint — the iterative-device primitive; one job) and
    # the four statistics are one LAZY single-row plan (aggregates
    # cross-joined), so the caller's action runs everything in one job
    # and nothing round-trips through the driver. Expressions are
    # unchanged, so every integer is identical.
    edges = checkpoint(edges.select(va.alias(a), vb.alias(b)))
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
    Each round's frame is an eager checkpoint: the loop otherwise
    compounds a 3-reference plan per round (Catalyst analysis goes
    superlinear — see kmeans_unrolled_stats).
    """
    spark = edges.sparkSession
    cur = checkpoint(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")))
    stats = cur.agg(
        F.countDistinct("src").alias("n"), F.count("*").alias("e")
    ).first()
    profile = [(0, int(stats["n"] or 0), int(stats["e"] or 0), 0)]
    for _ in range(max_rounds):
        deg = cur.groupBy("src").agg(F.count("*").alias("__deg"))
        keep = deg.where(F.col("__deg") >= k).select("src")
        nxt = checkpoint(
            cur.join(keep, "src", "left_semi")
            .join(
                keep.withColumnRenamed("src", "dst"), "dst", "left_semi"
            )
            .select("src", "dst")
        )
        stats = nxt.agg(
            F.countDistinct("src").alias("n"), F.count("*").alias("e")
        ).first()
        n, e = int(stats["n"] or 0), int(stats["e"] or 0)
        prev_n, prev_e = profile[-1][1], profile[-1][2]
        profile.append((len(profile), n, e, prev_n - n))
        release(cur)
        cur = nxt
        if (n, e) == (prev_n, prev_e):
            break
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
    works, and ranks are bit-identical to the DuckDB twin
    (:func:`pagerank_int_oracle_sql`). Same device as the HITS row
    (queries/round15.py g5_hits_unrolled).

    Semantics: p0 = M div n; contribution of u to each out-neighbor is
    p(u) div deg(u) (truncating — the leaked remainder is the same
    deterministic value on every engine); p'(v) = (15·M) div (100·n) +
    (85·inflow) div 100 with M = 2^40 total mass units. Dangling mass
    leaks (bounded-iteration oracle-parity semantics: both engines
    compute the identical thing). Returns (id, rank_fx) bigints in 2^-40 units of
    total mass."""
    # Optimization r14 (guide §2.3 + §3 — the g3/g4/g5 iterative device):
    # the old per-round persist+count kept every prior round's subtree in
    # the LOGICAL plan (each round references `ranks` twice, so analysis
    # nested 2^r copies of the edge pipeline). Per-round eager
    # checkpoint truncates lineage — each round's plan is the cached
    # edge scan + one checkpoint leaf — and the node-sized ranks/inflow
    # and src-keyed deg frames broadcast into their joins while n_nodes
    # fits the gate (loop-invariant count; hash equi-join past it — the
    # 100 TB fallback). `edges` stays a persist, NOT a checkpoint: the
    # caller's node spine is usually derived from the same edge plan and
    # only cache-fragment substitution lets nodes.count() reuse it.
    edges = persist(edges)
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.select(F.col(id_col), F.lit(0).cast("bigint").alias("rank_fx"))
    p0 = PR_INT_MASS // n_nodes
    tp = (15 * PR_INT_MASS) // (100 * n_nodes)
    bcast = broadcastable(n_nodes)
    deg = persist(edges.groupBy(src).agg(F.count("*").cast("long").alias("__deg")))
    ranks = nodes.select(
        F.col(id_col).alias("__v"), F.lit(p0).cast("bigint").alias("__p")
    )
    for i in range(iterations):
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
        nxt = checkpoint(
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
        )
        if i:  # round 0 replaces the node spine, not a checkpoint
            release(ranks)
        ranks = nxt
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
    strictly shrinking edge set; frames are checkpointed per round."""
    spark = edges.sparkSession
    cur = checkpoint(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")))
    e0 = cur.count()
    profile = [(0, int(e0), 0)]
    for _ in range(max_rounds):
        a = cur.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        b = cur.select(F.col("src").alias("v"), F.col("dst").alias("w"))
        c = cur.select(F.col("src").alias("u"), F.col("dst").alias("w"))
        nxt = checkpoint(
            a.join(b, "v")
            .join(c, ["u", "w"], "left_semi")
            .groupBy("u", "v")
            .agg(F.count("*").alias("__sup"))
            .where(F.col("__sup") >= k - 2)
            .select(F.col("u").alias("src"), F.col("v").alias("dst"))
        )
        e = int(nxt.count())
        prev_e = profile[-1][1]
        profile.append((len(profile), e, prev_e - e))
        release(cur)
        cur = nxt
        if e == prev_e:
            break
    else:
        raise ValueError(
            f"k-truss did not converge within max_rounds={max_rounds}; "
            "raise max_rounds AND the oracle's unroll depth together"
        )
    return spark.createDataFrame(
        profile, "round bigint, n_edges bigint, n_removed bigint"
    )
