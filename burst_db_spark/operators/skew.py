"""Skew & shuffle management helpers — the knobs the brief calls out for
100 TB: salting for hot keys (bucketed co-located joins are
``sinks.write_bucketed``).

AQE's skew-join handles moderate skew automatically
(spark.sql.adaptive.skewJoin.enabled, on in session.py); explicit salting
is for the pathological case — a handful of keys holding a large fraction
of the fact table (e.g. one frame with millions of acquisitions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the dim side replicated across ``salt_buckets``
    salt values and the fact side salted randomly-but-deterministically.

    The fact's hot key spreads over ``salt_buckets`` reducers instead of
    one. Dim rows replicate ×buckets — use only when dim is small enough
    to replicate but too big (or the join too skewed) to broadcast.
    """
    salted_fact = fact.withColumn(
        "__salt", (F.crc32(F.col(key).cast("string")) % salt_buckets +
                   F.monotonically_increasing_id() % salt_buckets) % salt_buckets
    )
    salts = F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))).alias("__salt")
    salted_dim = dim.select("*", salts)
    out = salted_fact.join(salted_dim, [key, "__salt"], how)
    return out.drop("__salt")


def salted_count(
    df: DataFrame, key: str, salt_buckets: int = 16
) -> DataFrame:
    """Two-stage aggregation for skewed groupBy: partial count per
    (key, salt) then final per key — the map-side-combine pattern made
    explicit when one key dominates a partition."""
    partial = (
        df.withColumn("__salt", F.monotonically_increasing_id() % salt_buckets)
        .groupBy(key, "__salt")
        .agg(F.count("*").alias("__n"))
    )
    return partial.groupBy(key).agg(F.sum("__n").cast("bigint").alias("n"))
