"""Round-8 queries: mergeable centroid-histogram quantile sketches
(t-digest-style uniform-centroid variant, batch + streaming
foreachBatch partials), theta-sketch set-operation estimates over KMV
sketches (union/intersection/difference cardinalities from k-sized
sketches only), median-absolute-deviation anomaly detection with
integer lower-medians, per-group distributed reservoir sampling via
bottom-k salted priorities, a Bloom-filter pre-join that shrinks the
fact shuffle before an exact join, anchored substring-containment
dedup (the char-level cousin of the shingle containment join), the
lambda higher-order-function surface, and additive seasonal
decomposition on integer micro-units. (The curation cascade, the
DPP-driven point-in-interval join, and the MinHash recall curve that
were planned for this round landed in ``queries/round9.py``.)

Reference parity: opera-adt/burst_db has no text/sketch path — these
are the LLM-pipeline extension surface (SURVEY.md "beyond the
reference" mandate). Every oracle is ANSI SQL the driver runs on
DuckDB. Round-7's lesson is law here: every float-derived output is
quantized PER ROW with ``floor(x * 10^k)`` into BIGINT before any
aggregation — one IEEE multiply + floor, bit-identical cross-engine,
no decimal-vs-double division route, no rounding-mode exposure.
Integer division is only ever applied to non-negative operands, where
DuckDB ``//`` (floor) and Spark ``DIV`` (truncate) agree.
"""

from __future__ import annotations

import os as _os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from burst_db_spark.catalog import load
from burst_db_spark.operators import multipattern as mp
from burst_db_spark.registry import register
from burst_db_spark.runner import tmpdir
from burst_db_spark.session import fan_out
from burst_db_spark.streaming import run_drain

# ---------------------------------------------------------------------------
# A35: mergeable quantile sketch — t-digest-style centroid histogram.
#
# Each (event_type, shard) partition independently compresses its values
# into centroids (here: uniform 64-cent-wide buckets carrying
# (weight, sum)), and centroid merge is plain additive groupBy — the
# mergeability t-digest buys with its size-bounded centroid list,
# realized in an oracle-checkable form (uniform compression instead of
# the quantile-dependent scale function, so both engines agree
# bit-for-bit). At 100 TB each executor/day/shard ships only its
# centroid partials (bounded by value-domain/64, NOT by row count), and
# any subset of partials re-aggregates into the same sketch. Quantile
# read-off walks the merged cumulative weights to the target rank; the
# per-centroid mean (s DIV w, non-negative integers) is the estimate.

_TD_BUCKET = 64  # cents per centroid
_TD_QS = (50, 90, 99)


@register(
    "a35_tdigest_quantiles",
    oracle=f"""
    WITH base AS (
        SELECT event_type, event_id,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    partials AS (
        SELECT event_type, event_id % 8 AS shard,
               cents // {_TD_BUCKET} AS centroid,
               CAST(count(*) AS BIGINT) AS w,
               CAST(sum(cents) AS BIGINT) AS s
        FROM base GROUP BY 1, 2, 3
    ),
    merged AS (
        SELECT event_type, centroid,
               CAST(sum(w) AS BIGINT) AS w, CAST(sum(s) AS BIGINT) AS s
        FROM partials GROUP BY 1, 2
    ),
    cum AS (
        SELECT event_type, centroid, w, s,
               CAST(sum(w) OVER (PARTITION BY event_type ORDER BY centroid)
                    AS BIGINT) AS cw
        FROM merged
    ),
    n AS (
        SELECT event_type, CAST(sum(w) AS BIGINT) AS n
        FROM merged GROUP BY 1
    ),
    spine AS (
        SELECT event_type, n, q,
               CAST((q * n + 99) // 100 AS BIGINT) AS target
        FROM n CROSS JOIN (SELECT CAST(unnest([50, 90, 99]) AS INT) AS q)
    ),
    pick AS (
        SELECT s.event_type, s.q, s.target,
               min(c.centroid) AS centroid
        FROM spine s
        JOIN cum c ON c.event_type = s.event_type AND c.cw >= s.target
        GROUP BY 1, 2, 3
    ),
    est AS (
        SELECT p.event_type, p.q, p.target,
               CAST(m.s // m.w AS BIGINT) AS est_cents
        FROM pick p
        JOIN merged m
          ON m.event_type = p.event_type AND m.centroid = p.centroid
    ),
    ranked AS (
        SELECT event_type, cents,
               CAST(row_number() OVER (PARTITION BY event_type
                                       ORDER BY cents, event_id)
                    AS BIGINT) AS rn
        FROM base
    )
    SELECT e.event_type, e.q, e.target AS target_rank, e.est_cents,
           r.cents AS true_cents,
           CAST(e.est_cents - r.cents AS BIGINT) AS err_cents
    FROM est e
    JOIN ranked r ON r.event_type = e.event_type AND r.rn = e.target
    ORDER BY e.event_type, e.q
    """,
    tags=("A35", "sketch", "tdigest", "quantile", "mergeable", "llm-pipeline"),
)
def a35_tdigest_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable centroid-histogram quantile sketch (t-digest family,
    uniform compression): per-(event_type, shard) centroid partials →
    additive merge → cumulative-weight walk to p50/p90/p99 →
    per-centroid integer mean as the estimate, checked against the
    exact rank statistic. Shuffle volume after the first partial
    aggregation is centroid-count-sized, never row-count-sized."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * F.lit(100)).cast("bigint").alias("cents"),
    )
    partials = (
        base.withColumn("shard", F.col("event_id") % 8)
        .withColumn("centroid", F.expr(f"cents DIV {_TD_BUCKET}"))
        .groupBy("event_type", "shard", "centroid")
        .agg(
            F.count("*").cast("bigint").alias("w"),
            F.sum("cents").cast("bigint").alias("s"),
        )
    )
    merged = partials.groupBy("event_type", "centroid").agg(
        F.sum("w").cast("bigint").alias("w"),
        F.sum("s").cast("bigint").alias("s"),
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("centroid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = merged.withColumn("cw", F.sum("w").over(w_cum).cast("bigint"))
    n = merged.groupBy("event_type").agg(F.sum("w").cast("bigint").alias("n"))
    spine = n.select(
        "event_type",
        "n",
        F.explode(F.array(*[F.lit(q) for q in _TD_QS])).alias("q"),
    ).select(
        "event_type",
        F.col("q").cast("int").alias("q"),
        F.expr("CAST((q * n + 99) DIV 100 AS BIGINT)").alias("target"),
    )
    pick = (
        F.broadcast(spine)
        .join(cum, "event_type")
        .where(F.col("cw") >= F.col("target"))
        .groupBy("event_type", "q", "target")
        .agg(F.min("centroid").alias("centroid"))
    )
    est = pick.join(merged, ["event_type", "centroid"]).select(
        "event_type",
        "q",
        "target",
        F.expr("CAST(s DIV w AS BIGINT)").alias("est_cents"),
    )
    # AUDIT-ONLY truth column: the full per-group rank below computes the
    # TRUE order statistic the sketch estimate is validated against. At
    # scale you drop this block (or route it through the a33 two-pass
    # idiom) — the sketch path above never needs it.
    w_rank = Window.partitionBy("event_type").orderBy("cents", "event_id")
    ranked = base.withColumn(
        "rn", F.row_number().over(w_rank).cast("bigint")
    ).select(F.col("event_type").alias("r_type"), "cents", "rn")
    return (
        est.join(
            ranked,
            (est["event_type"] == ranked["r_type"])
            & (ranked["rn"] == est["target"]),
        )
        .select(
            est["event_type"],
            "q",
            F.col("target").alias("target_rank"),
            "est_cents",
            F.col("cents").alias("true_cents"),
            (F.col("est_cents") - F.col("cents")).cast("bigint").alias(
                "err_cents"
            ),
        )
        .orderBy("event_type", "q")
    )


# ---------------------------------------------------------------------------
# A36: theta-sketch set operations — union / intersection / difference
# cardinality estimates computed from two k-sized KMV sketches ONLY
# (never from the raw sets). The theta trick: cut both sketches at
# theta = min(kth_A, kth_B); below that threshold each sketch is a
# uniform sample of its set with known inclusion rate theta/2^48, so
# |X| ≈ count(h < theta) * 2^48 / theta for X any boolean combination
# of A and B. That is the 100 TB property: per-segment sketches built
# once (k rows each) answer EVERY pairwise overlap question later —
# audience overlap, dedup-across-snapshots, contamination estimates —
# without re-reading raw data. Thresholding compares full md5 hex
# strings (ASCII order == numeric order, engine-neutral); the
# estimator divides the 48-bit prefix with integer arithmetic only.

_TH_K = 128
_POW48 = 1 << 48


@register(
    "a36_theta_sketch_setops",
    oracle=f"""
    WITH tagged AS (
        SELECT DISTINCT
               CASE WHEN o_orderpriority = '1-URGENT' THEN 'A' ELSE 'B'
               END AS tag,
               md5(CAST(o_custkey AS VARCHAR)) AS h,
               o_custkey AS k
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    ),
    sk AS (
        SELECT tag, h FROM (
            SELECT tag, h,
                   row_number() OVER (PARTITION BY tag ORDER BY h) AS rn
            FROM tagged
        ) WHERE rn <= {_TH_K}
    ),
    kth AS (
        SELECT tag, max(h) AS kth_h FROM sk GROUP BY tag
    ),
    theta AS (
        SELECT min(kth_h) AS th,
               CAST('0x' || substr(min(kth_h), 1, 12) AS BIGINT) AS th48
        FROM kth
    ),
    sa AS (SELECT h FROM sk WHERE tag = 'A'),
    sb AS (SELECT h FROM sk WHERE tag = 'B'),
    counts AS (
        SELECT
            (SELECT count(*) FROM (SELECT h FROM sa UNION SELECT h FROM sb),
                    theta WHERE h < th) AS c_u,
            (SELECT count(*) FROM (SELECT h FROM sa INTERSECT
                                   SELECT h FROM sb),
                    theta WHERE h < th) AS c_i,
            (SELECT count(*) FROM (SELECT h FROM sa EXCEPT SELECT h FROM sb),
                    theta WHERE h < th) AS c_d
    ),
    ests AS (
        SELECT 'union' AS measure,
               CAST(c_u * {_POW48} // th48 AS BIGINT) AS est
        FROM counts, theta
        UNION ALL
        SELECT 'inter', CAST(c_i * {_POW48} // th48 AS BIGINT)
        FROM counts, theta
        UNION ALL
        SELECT 'a_minus_b', CAST(c_d * {_POW48} // th48 AS BIGINT)
        FROM counts, theta
        UNION ALL
        SELECT 'a_only_set',
               CAST(({_TH_K} - 1) * {_POW48}
                    // CAST('0x' || substr(kth_h, 1, 12) AS BIGINT) AS BIGINT)
        FROM kth WHERE tag = 'A'
        UNION ALL
        SELECT 'b_only_set',
               CAST(({_TH_K} - 1) * {_POW48}
                    // CAST('0x' || substr(kth_h, 1, 12) AS BIGINT) AS BIGINT)
        FROM kth WHERE tag = 'B'
    ),
    truth AS (
        SELECT 'union' AS measure,
               CAST(count(DISTINCT k) AS BIGINT) AS truth
        FROM tagged
        UNION ALL
        SELECT 'inter', CAST(count(*) AS BIGINT) FROM (
            SELECT k FROM tagged WHERE tag = 'A'
            INTERSECT SELECT k FROM tagged WHERE tag = 'B')
        UNION ALL
        SELECT 'a_minus_b', CAST(count(*) AS BIGINT) FROM (
            SELECT k FROM tagged WHERE tag = 'A'
            EXCEPT SELECT k FROM tagged WHERE tag = 'B')
        UNION ALL
        SELECT 'a_only_set', CAST(count(DISTINCT k) AS BIGINT)
        FROM tagged WHERE tag = 'A'
        UNION ALL
        SELECT 'b_only_set', CAST(count(DISTINCT k) AS BIGINT)
        FROM tagged WHERE tag = 'B'
    )
    SELECT e.measure, e.est, t.truth
    FROM ests e JOIN truth t USING (measure)
    ORDER BY e.measure
    """,
    tags=("A36", "sketch", "theta", "setops", "mergeable", "llm-pipeline"),
)
def a36_theta_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch union/intersection/difference estimates from two
    bottom-k KMV sketches (urgent vs high-priority customer sets),
    validated against exact set cardinalities. After the two k-row
    sketches exist, every set-operation estimate is computed from
    2k rows — independent of raw data size."""
    orders = load(spark, sf_dir, "orders")
    tagged = (
        orders.where(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(
            F.when(F.col("o_orderpriority") == "1-URGENT", "A")
            .otherwise("B")
            .alias("tag"),
            F.md5(F.col("o_custkey").cast("string")).alias("h"),
            F.col("o_custkey").alias("k"),
        )
        .distinct()
    )
    # Two-phase bottom-k (the a32_kmv_distinct idiom, extracted as
    # dedup.two_phase_bottom_k): shard-local bottom-k then merge —
    # identical to a global sort per tag (mergeable monoid) but no task
    # ever sorts more than one shard's distinct hashes, and
    # WindowGroupLimit pre-truncates each map partition to k rows
    # before either shuffle.
    from burst_db_spark.operators.dedup import two_phase_bottom_k

    sk = two_phase_bottom_k(tagged.select("tag", "h"), ["tag"], "h", _TH_K)
    kth = sk.groupBy("tag").agg(F.max("h").alias("kth_h"))
    theta = kth.agg(
        F.min("kth_h").alias("th"),
        F.conv(F.substring(F.min("kth_h"), 1, 12), 16, 10)
        .cast("bigint")
        .alias("th48"),
    )
    sa = sk.where(F.col("tag") == "A").select("h")
    sb = sk.where(F.col("tag") == "B").select("h")
    th = F.broadcast(theta)

    def below_theta(df: DataFrame, measure: str) -> DataFrame:
        # NULL-safe for an EMPTY survivor set (e.g. a disjoint intersect):
        # the global agg still returns one row but sum() is NULL there, so
        # coalesce to 0 — and th48 is attached from the theta row itself
        # via a second crossJoin, never first() over possibly-zero rows.
        # Matches the oracle's scalar count(*) subquery, which yields 0.
        return (
            df.crossJoin(th)
            .agg(
                F.sum(F.when(F.col("h") < F.col("th"), 1).otherwise(0))
                .alias("c_raw")
            )
            .select(F.coalesce(F.col("c_raw"), F.lit(0)).cast("bigint").alias("c"))
            .crossJoin(th.select("th48"))
            .withColumn("measure", F.lit(measure))
        )

    c_u = below_theta(sa.union(sb).distinct(), "union")
    c_i = below_theta(sa.intersect(sb), "inter")
    c_d = below_theta(sa.exceptAll(sb), "a_minus_b")
    theta_ests = (
        c_u.union(c_i).union(c_d)
        .select(
            "measure",
            F.expr(f"CAST(c * CAST({_POW48} AS BIGINT) DIV th48 AS BIGINT)")
            .alias("est"),
        )
    )
    set_ests = kth.select(
        F.when(F.col("tag") == "A", "a_only_set")
        .otherwise("b_only_set")
        .alias("measure"),
        F.expr(
            f"CAST(({_TH_K} - 1) * CAST({_POW48} AS BIGINT)"
            " DIV CAST(conv(substring(kth_h, 1, 12), 16, 10) AS BIGINT)"
            " AS BIGINT)"
        ).alias("est"),
    )
    truth = (
        tagged.select("tag", "k")
        .distinct()
        .groupBy("k")
        .agg(F.collect_set("tag").alias("tags"))
        .select(
            F.col("k"),
            F.array_contains("tags", "A").alias("in_a"),
            F.array_contains("tags", "B").alias("in_b"),
        )
        .agg(
            F.count("*").cast("bigint").alias("union"),
            F.sum(F.when(F.col("in_a") & F.col("in_b"), 1).otherwise(0))
            .cast("bigint")
            .alias("inter"),
            F.sum(F.when(F.col("in_a") & ~F.col("in_b"), 1).otherwise(0))
            .cast("bigint")
            .alias("a_minus_b"),
            F.sum(F.when(F.col("in_a"), 1).otherwise(0))
            .cast("bigint")
            .alias("a_only_set"),
            F.sum(F.when(F.col("in_b"), 1).otherwise(0))
            .cast("bigint")
            .alias("b_only_set"),
        )
        .unpivot([], ["union", "inter", "a_minus_b", "a_only_set", "b_only_set"],
                 "measure", "truth")
    )
    return (
        theta_ests.union(set_ests)
        .join(F.broadcast(truth), "measure")
        .select("measure", "est", F.col("truth").cast("bigint").alias("truth"))
        .orderBy("measure")
    )


# ---------------------------------------------------------------------------
# W17: median-absolute-deviation anomaly detection. Robust outlier
# gate (median ± 3·MAD) with INTEGER lower-medians — rank (n+1) DIV 2
# — so both engines pick the identical element with no interpolation,
# no averaging, no float route. Each lower-median runs the a33
# two-pass exact-median idiom (round7.py a33_exact_median_2pass):
# pass 1 is a coarse (group, value >> shift) histogram with map-side
# partials (driver sees one row per bucket, ~hundreds), the
# rank-holding bucket is located driver-side, pass 2 counts exact
# values INSIDE that one bucket only. No per-group full window sort
# ever happens — the r8 plan's hot-partition sort (every row of an
# event_type shuffling to one task, twice) is gone, so the same plan
# holds with a handful of groups at 100 TB.

_MAD_SHIFT = 10  # bucket = cents >> 10 (~10 dollars per bucket)


def _lower_median_2pass(
    df: DataFrame, val_col: str, out_col: str, shift: int = _MAD_SHIFT
) -> DataFrame:
    """Exact per-event_type lower median (smallest v with cum_count(v)
    >= ceil(n/2)) of an integer column, scale-style: coarse-bucket
    histogram → driver picks the rank-holding bucket per group →
    in-bucket exact count + tiny cumulative window. Identical result to
    a full per-group sort; shuffle volume is bucket-count-sized."""
    spark = df.sparkSession
    hist = (
        df.groupBy(
            "event_type", F.shiftright(F.col(val_col), shift).alias("bucket")
        )
        .agg(F.count("*").alias("n"))
        .collect()
    )
    totals: dict[str, int] = {}
    by_grp: dict[str, list] = {}
    for r in hist:
        totals[r["event_type"]] = totals.get(r["event_type"], 0) + r["n"]
        by_grp.setdefault(r["event_type"], []).append((r["bucket"], r["n"]))
    bucket_of: dict[str, int] = {}
    target: dict[str, int] = {}
    for g, rows in by_grp.items():
        k = (totals[g] + 1) // 2
        cum = 0
        for b, n in sorted(rows):
            if cum + n >= k:
                bucket_of[g] = b
                target[g] = k - cum  # in-bucket rank
                break
            cum += n
    sel = spark.createDataFrame(
        [(g, bucket_of[g], target[g]) for g in sorted(bucket_of)],
        "event_type string, bucket bigint, k bigint",
    )
    in_bucket = df.join(
        F.broadcast(sel),
        (df["event_type"] == sel["event_type"])
        & (F.shiftright(df[val_col], shift) == sel["bucket"]),
    ).select(df["event_type"].alias("event_type"), val_col, "k")
    counts = in_bucket.groupBy("event_type", val_col, "k").agg(
        F.count("*").alias("n")
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy(val_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        counts.withColumn("cum", F.sum("n").over(w_cum))
        .where(F.col("cum") >= F.col("k"))
        .groupBy("event_type")
        .agg(F.min(val_col).cast("bigint").alias(out_col))
    )


@register(
    "w17_mad_anomaly",
    oracle="""
    WITH base AS (
        SELECT event_type, event_id,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    med AS (
        SELECT event_type, cents AS med_cents FROM (
            SELECT event_type, cents,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY cents, event_id) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM base
        ) WHERE rn = (n + 1) // 2
    ),
    dev AS (
        SELECT b.event_type, b.event_id, b.cents,
               abs(b.cents - m.med_cents) AS d
        FROM base b JOIN med m USING (event_type)
    ),
    mad AS (
        SELECT event_type, d AS mad_cents FROM (
            SELECT event_type, d,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY d, event_id) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM dev
        ) WHERE rn = (n + 1) // 2
    )
    SELECT d.event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(any_value(m.med_cents) AS BIGINT) AS med_cents,
           CAST(any_value(a.mad_cents) AS BIGINT) AS mad_cents,
           CAST(sum(CASE WHEN d.d > 3 * a.mad_cents THEN 1 ELSE 0 END)
                AS BIGINT) AS n_anomalies,
           CAST(sum(CASE WHEN d.d > 3 * a.mad_cents THEN d.cents ELSE 0 END)
                AS BIGINT) AS anomaly_sum_cents,
           CAST(max(d.d) AS BIGINT) AS max_dev_cents
    FROM dev d
    JOIN med m USING (event_type)
    JOIN mad a USING (event_type)
    GROUP BY d.event_type
    ORDER BY d.event_type
    """,
    tags=("W17", "window", "mad", "anomaly", "robust"),
)
def w17_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type robust anomaly gate: lower-median, MAD (lower-median of
    absolute deviations), flag |x − med| > 3·MAD. All BIGINT cents.
    Both medians run the two-pass histogram idiom — no per-group full
    window sort (see _lower_median_2pass)."""
    base = load(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * F.lit(100)).cast("bigint").alias("cents"),
    )
    med = _lower_median_2pass(base, "cents", "med_cents")
    dev = base.join(F.broadcast(med), "event_type").withColumn(
        "d", F.abs(F.col("cents") - F.col("med_cents"))
    )
    mad = _lower_median_2pass(
        dev.select("event_type", "event_id", "d"), "d", "mad_cents"
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.any_value("med_cents").cast("bigint").alias("med_cents"),
            F.any_value("mad_cents").cast("bigint").alias("mad_cents"),
            F.sum(
                F.when(F.col("d") > 3 * F.col("mad_cents"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_anomalies"),
            F.sum(
                F.when(F.col("d") > 3 * F.col("mad_cents"),
                       F.col("cents")).otherwise(0)
            )
            .cast("bigint")
            .alias("anomaly_sum_cents"),
            F.max("d").cast("bigint").alias("max_dev_cents"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# T: per-group distributed reservoir sample. The classic distributed
# reservoir (Vitter's method, distributed form): give every row an
# i.i.d. priority and keep the k smallest per group — equivalent in
# distribution to sequential reservoir sampling, and embarrassingly
# parallel: each partition keeps its local bottom-k, merge keeps the
# global bottom-k (a mergeable sketch, like KMV but over priorities).
# Here the priority is a salted md5 of the row key — deterministic, so
# the driver can hash-check the exact sample. Complements
# t_weighted_sample (A-ES exponential-jump weighted variant).

_RSVP_K = 3
_RSVP_SALT = ":r8-reservoir"


@register(
    "t_reservoir_per_group",
    oracle=f"""
    WITH pri AS (
        SELECT source, doc_id, n_chars,
               md5(CAST(doc_id AS VARCHAR) || '{_RSVP_SALT}') AS pri,
               CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS group_n
        FROM documents
    )
    SELECT source, CAST(rn AS INT) AS slot, doc_id, n_chars, group_n
    FROM (
        SELECT source, doc_id, n_chars, group_n,
               row_number() OVER (PARTITION BY source
                                  ORDER BY pri, doc_id) AS rn
        FROM pri
    )
    WHERE rn <= {_RSVP_K}
    ORDER BY source, slot
    """,
    tags=("T", "sampling", "reservoir", "mergeable", "llm-pipeline"),
)
def t_reservoir_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source reservoir: bottom-k salted-md5
    priorities (k smallest per group == distributed reservoir). One
    shuffle on source; per-partition bottom-k pre-truncation happens
    for free in the window's sort."""
    docs = load(spark, sf_dir, "documents")
    w_n = Window.partitionBy("source")
    w_r = Window.partitionBy("source").orderBy("pri", "doc_id")
    return (
        docs.select(
            "source",
            "doc_id",
            "n_chars",
            F.md5(F.concat(F.col("doc_id").cast("string"),
                           F.lit(_RSVP_SALT))).alias("pri"),
        )
        .withColumn("group_n", F.count("*").over(w_n).cast("bigint"))
        .withColumn("rn", F.row_number().over(w_r))
        .where(F.col("rn") <= _RSVP_K)
        .select(
            "source",
            F.col("rn").cast("int").alias("slot"),
            "doc_id",
            "n_chars",
            "group_n",
        )
        .orderBy("source", "slot")
    )


# ---------------------------------------------------------------------------
# J17: Bloom-filter pre-join. Build a tiny Bloom filter (m bits, kh
# hash functions) over the dim side's join keys, prefilter the FACT
# before the join, then run the exact join to scrub false positives —
# the answer is exact, the Bloom only shrinks what flows into the
# shuffle. At 100 TB this is the difference between shuffling the
# whole fact and shuffling the ~matching fraction plus a controlled FP
# tail: the m-bit filter (1 KB here) broadcasts freely even when the
# dim itself is too large to broadcast as rows. Spark 3.3+ injects
# exactly this rewrite (runtime row-level Bloom pruning) for eligible
# joins; here it is explicit, md5-based, and oracle-checkable — the
# diagnostic columns expose bloom_pass vs exact so the FP tail is
# measured, not assumed.

_BL_M = 8192
_BL_KH = 3


@register(
    "j17_bloom_prejoin",
    oracle=f"""
    WITH dim AS (
        SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    bits AS (
        SELECT DISTINCT
               CAST('0x' || substr(md5(CAST(k AS VARCHAR) || '#'
                                        || CAST(i AS VARCHAR)), 1, 12)
                    AS BIGINT) % {_BL_M} AS bit
        FROM dim CROSS JOIN (SELECT unnest([0, 1, 2]) AS i)
    ),
    probe AS (
        SELECT o.o_orderkey, o.o_custkey, o.o_orderpriority, o.o_totalprice,
               CAST('0x' || substr(md5(CAST(o.o_custkey AS VARCHAR) || '#'
                                        || CAST(i.i AS VARCHAR)), 1, 12)
                    AS BIGINT) % {_BL_M} AS bit,
               i.i
        FROM orders o CROSS JOIN (SELECT unnest([0, 1, 2]) AS i) i
    ),
    passed AS (
        SELECT o_orderkey, any_value(o_custkey) AS o_custkey,
               any_value(o_orderpriority) AS o_orderpriority,
               any_value(o_totalprice) AS o_totalprice
        FROM probe
        WHERE bit IN (SELECT bit FROM bits)
        GROUP BY o_orderkey
        HAVING count(DISTINCT i) = {_BL_KH}
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS bloom_pass,
           CAST(sum(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS exact_matches,
           CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS false_positives,
           CAST(sum(CASE WHEN k IS NOT NULL
                    THEN CAST(floor(o_totalprice * 100) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS exact_price_cents
    FROM passed LEFT JOIN dim ON o_custkey = k
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("J17", "join", "bloom", "prefilter", "runtime-filter"),
)
def j17_bloom_prejoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit Bloom pre-join: 3 md5-derived hash positions into an
    8192-bit filter built from the BUILDING customer segment; orders
    whose custkey sets all 3 bits pass to the exact join. Output per
    priority: bloom survivors, exact matches, measured false
    positives, exact price sum (integer cents)."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    dim = cust.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k")
    )
    seeds = F.array(*[F.lit(i) for i in range(_BL_KH)])

    def bloom_bit(key_col: str) -> F.Column:
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col(key_col).cast("string"),
                            F.lit("#"),
                            F.col("i").cast("string"),
                        )
                    ),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("bigint")
            % _BL_M
        )

    bits = (
        dim.withColumn("i", F.explode(seeds))
        .select(bloom_bit("k").alias("bit"))
        .distinct()
    )
    probe = (
        fan_out(orders.select(
            "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
        ))
        .withColumn("i", F.explode(seeds))
        .withColumn("bit", bloom_bit("o_custkey"))
    )
    passed = (
        probe.join(F.broadcast(bits), "bit")
        .groupBy("o_orderkey")
        .agg(
            F.any_value("o_custkey").alias("o_custkey"),
            F.any_value("o_orderpriority").alias("o_orderpriority"),
            F.any_value("o_totalprice").alias("o_totalprice"),
            F.countDistinct("i").alias("nbits"),
        )
        .where(F.col("nbits") == _BL_KH)
    )
    return (
        passed.join(F.broadcast(dim), passed["o_custkey"] == dim["k"], "left")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("bloom_pass"),
            F.sum(F.when(F.col("k").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("exact_matches"),
            F.sum(F.when(F.col("k").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("false_positives"),
            F.sum(
                F.when(
                    F.col("k").isNotNull(),
                    F.floor(F.col("o_totalprice") * F.lit(100)).cast("bigint"),
                ).otherwise(F.lit(0).cast("bigint"))
            )
            .cast("bigint")
            .alias("exact_price_cents"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# F: lambda higher-order-function gauntlet — transform / filter /
# exists / forall / aggregate (fold) / zip_with / sequence over a
# per-order quantity array, all inside whole-stage codegen (no Python,
# no explode-shuffle-reassemble round trip: ONE groupBy builds the
# array, every derived metric is array algebra on the row). The oracle
# recomputes each metric relationally (conditional sums + a rank
# window for the positional fold; position multisets are invariant
# under tie order, so row_number ties cannot diverge). Quantities cast
# to BIGINT first — all arithmetic integer-exact.


@register(
    "f_lambda_gauntlet",
    oracle="""
    WITH q AS (
        SELECT l_orderkey AS okey,
               CAST(l_quantity AS BIGINT) AS q,
               row_number() OVER (PARTITION BY l_orderkey
                                  ORDER BY CAST(l_quantity AS BIGINT)) AS rn
        FROM lineitem
    )
    SELECT okey,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(q) AS BIGINT) AS qsum,
           CAST(sum(q * q) AS BIGINT) AS sq_sum,
           CAST(sum(CASE WHEN q > 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
           CAST(max(CASE WHEN q >= 45 THEN 1 ELSE 0 END) AS INT) AS any_ge45,
           CAST(min(CASE WHEN q >= 10 THEN 1 ELSE 0 END) AS INT) AS all_ge10,
           CAST(sum(q * rn) AS BIGINT) AS wsum,
           CAST(coalesce(sum(CASE WHEN q % 2 = 0 THEN q * q END), 0)
                AS BIGINT) AS even_sq_sum
    FROM q
    GROUP BY okey
    ORDER BY okey
    """,
    tags=("F", "lambda", "hof", "array", "codegen"),
)
def f_lambda_gauntlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One collect_list per order, then the whole lambda surface:
    aggregate-fold sums, filter+size, exists, forall, zip_with against
    sequence(1,n) for the positional weighted sum, filter∘transform∘
    aggregate for the even-square fold."""
    li = load(spark, sf_dir, "lineitem")
    arr = (
        li.select(
            F.col("l_orderkey").alias("okey"),
            F.col("l_quantity").cast("bigint").alias("q"),
        )
        .groupBy("okey")
        .agg(F.array_sort(F.collect_list("q")).alias("qs"))
    )
    zero = F.lit(0).cast("bigint")
    return arr.select(
        "okey",
        F.size("qs").cast("bigint").alias("n_items"),
        F.aggregate("qs", zero, lambda acc, x: acc + x).alias("qsum"),
        F.aggregate("qs", zero, lambda acc, x: acc + x * x).alias("sq_sum"),
        F.size(F.filter("qs", lambda x: x > 25)).cast("bigint").alias("n_big"),
        F.exists("qs", lambda x: x >= 45).cast("int").alias("any_ge45"),
        F.forall("qs", lambda x: x >= 10).cast("int").alias("all_ge10"),
        F.aggregate(
            F.zip_with(
                "qs",
                F.sequence(F.lit(1).cast("bigint"), F.size("qs").cast("bigint")),
                lambda x, i: x * i,
            ),
            zero,
            lambda acc, x: acc + x,
        ).alias("wsum"),
        F.aggregate(
            F.transform(
                F.filter("qs", lambda x: x % 2 == 0), lambda x: x * x
            ),
            zero,
            lambda acc, x: acc + x,
        ).alias("even_sq_sum"),
    ).orderBy("okey")


# ---------------------------------------------------------------------------
# W18: additive seasonal decomposition on integer micro-units. Daily
# series per event_type → centered 7-day trend window + day-of-week
# seasonal means + residual, value = trend + seasonal + residual (up
# to the stated integer-division convention). Day-of-week is computed
# arithmetically — (epoch_day + 4) % 7, Sunday = 0 — so neither
# engine's calendar function conventions (Spark dayofweek Sunday=1,
# DuckDB dow Sunday=0, isodow Monday=1) can skew parity. Every mean
# is published as (sum, count) plus an integer-division read-off over
# non-negative operands, where floor and truncate agree. The shape at
# scale: two window passes over the ~days×types frame (already
# aggregated — tiny) after ONE partial-aggregated shuffle of the raw
# events.


@register(
    "w18_seasonal_decompose",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS nd
        FROM events
        GROUP BY 1, 2
    ),
    feat AS (
        SELECT event_type, d, s, nd,
               CAST(date_diff('day', DATE '1970-01-01', d) AS INT)
                   AS epoch_day,
               CAST((date_diff('day', DATE '1970-01-01', d) + 4) % 7
                    AS INT) AS dow,
               CAST(sum(s) OVER (PARTITION BY event_type ORDER BY d
                                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                    AS BIGINT) AS trend_sum7,
               CAST(count(*) OVER (PARTITION BY event_type ORDER BY d
                                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                    AS BIGINT) AS trend_days
        FROM daily
    ),
    season AS (
        SELECT event_type, dow,
               CAST(sum(s) AS BIGINT) AS dow_sum,
               CAST(count(*) AS BIGINT) AS dow_days
        FROM feat GROUP BY 1, 2
    ),
    overall AS (
        SELECT event_type,
               CAST(sum(s) AS BIGINT) AS tot_sum,
               CAST(count(*) AS BIGINT) AS tot_days
        FROM feat GROUP BY 1
    )
    SELECT f.event_type, f.d, f.dow, f.s, f.nd,
           f.trend_sum7, f.trend_days, se.dow_sum, se.dow_days,
           CAST(f.s - f.trend_sum7 // f.trend_days
                    - se.dow_sum // se.dow_days
                    + o.tot_sum // o.tot_days AS BIGINT) AS resid_micro
    FROM feat f
    JOIN season se USING (event_type, dow)
    JOIN overall o USING (event_type)
    ORDER BY f.event_type, f.d
    """,
    tags=("W18", "window", "seasonal", "timeseries"),
)
def w18_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend (centered 7-day rolling) + day-of-week seasonal + residual
    over the per-type daily value series, all in BIGINT micro-units."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.to_date("ts").alias("d"),
            F.floor(F.col("value") * F.lit(1e6)).cast("bigint").alias("m"),
        )
        .groupBy("event_type", "d")
        .agg(
            F.sum("m").cast("bigint").alias("s"),
            F.count("*").cast("bigint").alias("nd"),
        )
    )
    w7 = (
        Window.partitionBy("event_type").orderBy("d").rowsBetween(-3, 3)
    )
    feat = daily.withColumn(
        "epoch_day", F.datediff("d", F.lit("1970-01-01")).cast("int")
    ).withColumn(
        "dow", ((F.col("epoch_day") + 4) % 7).cast("int")
    ).withColumn(
        "trend_sum7", F.sum("s").over(w7).cast("bigint")
    ).withColumn(
        "trend_days", F.count("*").over(w7).cast("bigint")
    )
    season = feat.groupBy("event_type", "dow").agg(
        F.sum("s").cast("bigint").alias("dow_sum"),
        F.count("*").cast("bigint").alias("dow_days"),
    )
    overall = feat.groupBy("event_type").agg(
        F.sum("s").cast("bigint").alias("tot_sum"),
        F.count("*").cast("bigint").alias("tot_days"),
    )
    return (
        feat.join(F.broadcast(season), ["event_type", "dow"])
        .join(F.broadcast(overall), "event_type")
        .select(
            "event_type",
            "d",
            "dow",
            "s",
            "nd",
            "trend_sum7",
            "trend_days",
            "dow_sum",
            "dow_days",
            F.expr(
                "CAST(s - trend_sum7 DIV trend_days"
                " - dow_sum DIV dow_days"
                " + tot_sum DIV tot_days AS BIGINT)"
            ).alias("resid_micro"),
        )
        .orderBy("event_type", "d")
    )


# ---------------------------------------------------------------------------
# T: anchored substring-containment dedup — remove documents whose full
# text appears verbatim inside a longer document (quote-reposts,
# boilerplate-wrapped copies). The scalable shape: if A is a substring
# of B, then EVERY length-K character gram of A occurs in B, so A only
# needs to probe the inverted gram index with its single RAREST gram
# (min document frequency, ties by gram) — one anchor row per doc on
# the probe side, full index on the build side, candidate volume
# bounded by the anchor's document frequency instead of |A|·|B|. The
# verify is an exact JVM ``instr`` on the candidate pairs only. A
# quadratic all-pairs LIKE-join — what the oracle does — would be
# O(n²) string scans and is exactly what this plan avoids at 100 TB.

_SSD_K = 12


def contained_doc_ids(docs: DataFrame) -> DataFrame:
    """(doc_id, contained_in_min, n_containers) for every doc whose
    text is a strict substring of a longer doc's text. Anchored
    candidate generation (lossless), exact instr verify."""
    base = docs.select("doc_id", "text", F.length("text").alias("len"))
    # Docs shorter than the gram width can't produce an anchor (and
    # sequence(1, len-11) would DESCEND for len < 12, silently yielding
    # no grams) — they take the direct broadcast probe below instead.
    longs = base.where(F.col("len") >= _SSD_K)
    # substring(text, i, K) needs expr-level substring with a column start.
    # Optimization r14 (guide §2.3/§2.4): grams dedup WITHIN the doc via
    # array_distinct BEFORE the explode (doc_id is in every row, so the
    # old global .distinct() only ever removed within-doc repeats — same
    # row set, no gram-stream shuffle); document frequency via a count
    # window instead of aggregate+join-back (one exchange on g, not two,
    # and it is the exact hashpartitioning(g) the candidate join below
    # reuses via ReusedExchange). Candidate set is unchanged.
    grams = fan_out(longs).select(
        "doc_id",
        "len",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, len - {_SSD_K - 1}),"
                    f" i -> substring(text, i, {_SSD_K}))"
                )
            )
        ).alias("g"),
    )
    wg = Window.partitionBy("g")
    anchors = (
        grams.withColumn("df", F.count("*").over(wg))
        .groupBy("doc_id")
        .agg(F.min(F.struct("df", "g")).alias("a"))
        .select(
            F.col("doc_id").alias("a_id"), F.col("a.g").alias("g")
        )
    )
    index = grams.select(
        F.col("doc_id").alias("b_id"), F.col("len").alias("b_len"), "g"
    )
    a_side = anchors.join(
        base.select(F.col("doc_id").alias("a_id"),
                    F.col("text").alias("a_text"),
                    F.col("len").alias("a_len")),
        "a_id",
    )
    cand = (
        a_side.join(index, "g")
        .where(
            (F.col("a_id") != F.col("b_id"))
            & (F.col("a_len") < F.col("b_len"))
        )
        .select("a_id", "a_text", "b_id")
        .distinct()
    )
    # Short docs (len < K, none in the synthetic corpus but possible in a
    # real one): too short to anchor, so they take a chunked Aho-Corasick
    # multi-pattern scan — ONE mapInPandas pass over the corpus per 64k
    # patterns, linear in N (operators/multipattern.py). This replaced
    # the broadcast nested-loop theta join whose cost was |shorts|·N
    # instr probes (VERDICT r12 #2); tests/test_plan_shapes.py pins the
    # physical plan BNLJ-free. Lossless union with the anchored path,
    # which covers every doc long enough to gram; when the corpus has no
    # short docs the plan is byte-identical to the anchored-only path.
    # len > 0: empty-text docs are NOT containment candidates (defined
    # semantics, mirrored by length(a.text) > 0 in the oracles — the
    # old instr path would have counted instr(x, '') = 1; r13 ADVICE)
    shorts = base.where(
        (F.col("len") < _SSD_K) & (F.col("len") > 0)
    ).select(
        F.col("doc_id").alias("a_id"),
        F.col("text").alias("a_text"),
    )
    cand_short = mp.contained_short_pairs(docs, shorts)
    if cand_short is not None:
        cand = cand.unionByName(cand_short.select("a_id", "a_text", "b_id"))
    verified = (
        cand
        .join(
            base.select(F.col("doc_id").alias("b_id"),
                        F.col("text").alias("b_text")),
            "b_id",
        )
        .where(F.expr("instr(b_text, a_text) > 0"))
    )
    return verified.groupBy("a_id").agg(
        F.min("b_id").cast("bigint").alias("contained_in_min"),
        F.countDistinct("b_id").cast("bigint").alias("n_containers"),
    ).select(F.col("a_id").alias("doc_id"), "contained_in_min",
             "n_containers")


@register(
    "t_substring_dedup",
    oracle="""
    SELECT a.doc_id,
           CAST(min(b.doc_id) AS BIGINT) AS contained_in_min,
           CAST(count(DISTINCT b.doc_id) AS BIGINT) AS n_containers,
           any_value(a.source) AS source,
           any_value(a.n_chars) AS n_chars
    FROM documents a
    JOIN documents b
      ON a.doc_id <> b.doc_id
     AND length(a.text) > 0
     AND length(a.text) < length(b.text)
     AND position(a.text IN b.text) > 0
    GROUP BY a.doc_id
    ORDER BY a.doc_id
    """,
    tags=("T", "dedup", "substring", "containment", "llm-pipeline"),
)
def t_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs fully contained (char-level) in a longer doc, found via the
    rarest-gram anchored index probe + exact instr verify; the oracle
    runs the quadratic LIKE-join this plan avoids.

    Contract notes (r13 ADVICE): empty-text docs are NOT containment
    candidates on either path (length(a.text) > 0 pinned in the oracle
    and in contained_doc_ids' shorts filter — instr(x, '') = 1 would
    otherwise count them against every doc); and BUILDING this query's
    DataFrame is eager on the shorts side (the Aho-Corasick chunk drain
    in operators/multipattern.py runs a documents scan at plan-
    construction time — EXPLAIN-only callers pay it too)."""
    docs = load(spark, sf_dir, "documents")
    hits = contained_doc_ids(docs)
    return (
        hits.join(docs.select("doc_id", "source", "n_chars"), "doc_id")
        .select("doc_id", "contained_in_min", "n_containers", "source",
                "n_chars")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Streaming t-digest maintenance: the a35 centroid-histogram sketch
# kept up to date by a stream. Each micro-batch ships only its
# (event_type, centroid) → (weight, sum) partials — bounded by the
# value domain / 64, never by row count — and the post-drain merge is
# plain addition, so the final sketch is INDEPENDENT of how the stream
# was batched (additive commutative monoid, the same property that
# makes stream_kmv_sketch's bottom-k re-cut exact). This is how a
# 100 TB pipeline maintains p50/p90/p99 continuously: per-trigger
# centroid partials into a compacted store, quantile read-off on
# demand, raw events never re-read. Oracle: the batch computation over
# all events (batching-independence makes them equal by construction).


@register(
    "stream_tdigest_quantiles",
    oracle=f"""
    WITH base AS (
        SELECT event_type, event_id,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    merged AS (
        SELECT event_type, cents // {_TD_BUCKET} AS centroid,
               CAST(count(*) AS BIGINT) AS w,
               CAST(sum(cents) AS BIGINT) AS s
        FROM base GROUP BY 1, 2
    ),
    cum AS (
        SELECT event_type, centroid, w, s,
               CAST(sum(w) OVER (PARTITION BY event_type ORDER BY centroid)
                    AS BIGINT) AS cw
        FROM merged
    ),
    n AS (
        SELECT event_type, CAST(sum(w) AS BIGINT) AS n
        FROM merged GROUP BY 1
    ),
    spine AS (
        SELECT event_type, n, q,
               CAST((q * n + 99) // 100 AS BIGINT) AS target
        FROM n CROSS JOIN (SELECT CAST(unnest([50, 90, 99]) AS INT) AS q)
    ),
    pick AS (
        SELECT s.event_type, s.q, s.target,
               min(c.centroid) AS centroid
        FROM spine s
        JOIN cum c ON c.event_type = s.event_type AND c.cw >= s.target
        GROUP BY 1, 2, 3
    )
    SELECT p.event_type, p.q, p.target AS target_rank,
           CAST(m.s // m.w AS BIGINT) AS est_cents
    FROM pick p
    JOIN merged m
      ON m.event_type = p.event_type AND m.centroid = p.centroid
    ORDER BY p.event_type, p.q
    """,
    tags=("streaming", "sketch", "tdigest", "quantile", "foreachBatch",
          "mergeable"),
)
def stream_tdigest_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quantile sketch: events arrive as 4 micro-batches
    (maxFilesPerTrigger=1); each foreachBatch appends its own
    (event_type, centroid, w, s) partials — centroid-count-sized state,
    never row-count-sized. The post-drain additive merge + cumulative
    walk reads off p50/p90/p99 exactly as the batch a35 sketch would,
    no matter how the stream was split."""
    tmp = tmpdir("bds_stdg_")
    src = load(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * F.lit(100)).cast("bigint").alias("cents"),
    )
    src.repartition(4).write.parquet(f"{tmp}/in")
    partials = f"{tmp}/partials"

    stream = (
        spark.readStream.format("parquet")
        .schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .load(f"{tmp}/in")
    )

    def _partial(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("centroid", F.expr(f"cents DIV {_TD_BUCKET}"))
            .groupBy("event_type", "centroid")
            .agg(
                F.count("*").cast("bigint").alias("w"),
                F.sum("cents").cast("bigint").alias("s"),
            )
            .write.mode("append")
            .parquet(partials)
        )

    run_drain(spark, stream.writeStream.foreachBatch(_partial), tmp)

    merged = (
        spark.read.parquet(partials)
        .groupBy("event_type", "centroid")
        .agg(
            F.sum("w").cast("bigint").alias("w"),
            F.sum("s").cast("bigint").alias("s"),
        )
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("centroid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = merged.withColumn("cw", F.sum("w").over(w_cum).cast("bigint"))
    n = merged.groupBy("event_type").agg(F.sum("w").cast("bigint").alias("n"))
    spine = n.select(
        "event_type",
        "n",
        F.explode(F.array(*[F.lit(q_) for q_ in _TD_QS])).alias("q"),
    ).select(
        "event_type",
        F.col("q").cast("int").alias("q"),
        F.expr("CAST((q * n + 99) DIV 100 AS BIGINT)").alias("target"),
    )
    pick = (
        F.broadcast(spine)
        .join(cum, "event_type")
        .where(F.col("cw") >= F.col("target"))
        .groupBy("event_type", "q", "target")
        .agg(F.min("centroid").alias("centroid"))
    )
    return (
        pick.join(merged, ["event_type", "centroid"])
        .select(
            "event_type",
            "q",
            F.col("target").alias("target_rank"),
            F.expr("CAST(s DIV w AS BIGINT)").alias("est_cents"),
        )
        .orderBy("event_type", "q")
    )
