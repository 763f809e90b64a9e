"""Table catalog: loaders + view registration for the synthetic star schema.

The driver provides the TPC-H-ish tables (TESTDATA.md) plus ``documents``
and ``embeddings`` for the training-data-pipeline operators. The reference's
own tables (burst_id_map / frames / frames_bursts, SURVEY.md §1.2) are
synthesized by ``burst_db_spark.plans.fixtures`` for the domain pipelines.
"""

from __future__ import annotations

import os
from functools import lru_cache

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


@lru_cache(maxsize=256)
def _nanos_timestamp_cols(path: str) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark can't read them
    natively; we read them as int64 nanos and convert (DuckDB equivalently
    truncates ns → µs on read, so oracle parity holds)."""
    if os.path.isdir(path):
        # Spark-written dataset: inspect the first part file
        parts = sorted(
            f for f in os.listdir(path) if f.endswith(".parquet")
        )
        if not parts:
            return ()
        path = os.path.join(path, parts[0])
    # inspect the PHYSICAL parquet logical type: pyarrow maps both
    # TIMESTAMP(NANOS) and Spark's INT96 to timestamp[ns], but Spark only
    # chokes on the annotated-NANOS form (INT96 it reads natively)
    meta = pq.ParquetFile(path).metadata.schema
    out = []
    for i in range(len(meta)):
        col = meta.column(i)
        lt = str(col.logical_type)
        if "Timestamp" in lt and "nanoseconds" in lt:
            out.append(col.path)
    return tuple(out)


def _normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast every top-level TIMESTAMP_NTZ column to TIMESTAMP (ltz).

    Parquet written with ``isAdjustedToUTC=false`` is inferred by Spark ≥3.4
    as ``TIMESTAMP_NTZ`` (``spark.sql.parquet.inferTimestampNTZ.enabled``
    defaults true), and NTZ is illegal in ``unix_micros`` / numeric casts —
    the reference tz-normalizes on ingest
    (create_cslc_burst_catalog.py:144-147), so we do the equivalent here,
    once, at the scan. The session tz is UTC, so NTZ→ltz is a reinterpret,
    not a wall-clock shift, and DuckDB reads the same parquet as naive
    timestamps — oracle parity is unaffected. The cast sits directly above
    the scan, so column pruning / predicate pushdown still reach parquet.
    """
    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    if not ntz:
        return df
    return df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Parquet scan → columnar, pushdown-capable (SURVEY S5)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    ns_cols = _nanos_timestamp_cols(path)
    if ns_cols:
        # Scope nanosAsLong to this read: the DataFrame's scan captures the
        # conf at creation, so restoring right after keeps later direct
        # spark.read.parquet calls failing loudly on TIMESTAMP(NANOS)
        # instead of silently yielding BIGINT columns.
        conf_key = "spark.sql.legacy.parquet.nanosAsLong"
        prev = spark.conf.get(conf_key, None)
        spark.conf.set(conf_key, "true")
        try:
            df = spark.read.parquet(path)
        finally:
            if prev is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, prev)
        for c in ns_cols:
            df = df.withColumn(
                c, F.expr(f"timestamp_micros(CAST({c} DIV 1000 AS BIGINT))")
            )
        return _normalize_ntz(df)
    return _normalize_ntz(spark.read.parquet(path))
