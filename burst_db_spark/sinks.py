"""Sink layer (SURVEY.md §2.1 K1-K6).

- K1: parquet writer (partitioned for pruning at scale)
- K3: nested JSON envelope — burst_db_spark.sources.json_docs
- K5: append-mode partitioned write replaces the 100k-row chunk loop
- K6: 1-row metadata/params table
JDBC (sqlite parity) is stubbed behind an import/option check: no sqlite
JDBC driver ships in this image.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """K1: parquet sink; partition columns → directory pruning
    (the reference's per-date CSV layout, parse_bursts.py:971-982,
    becomes partitionBy('sensing_date'))."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def append_partitioned(df: DataFrame, path: str, partition_by: list[str]) -> None:
    """K5: chunked-append (export_denormalized_db.py:165-183) — Spark
    appends whole partitions atomically; no driver-side chunking."""
    df.write.mode("append").partitionBy(*partition_by).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Hash-bucketed (optionally sorted) managed parquet table.

    Bucketing is THE recurring-join amortization at scale: two tables
    bucketed on the same key with the same bucket count join
    bucket-to-bucket — the scan itself reports the hash partitioning, so
    the join plans with NO Exchange on either side (and with ``sortBy``,
    no Sort either). One write-time shuffle replaces a shuffle per join
    for the table's lifetime. ``tests/test_plan_shapes.py`` pins the
    exchange-free plan.
    """
    w = df.write.format("parquet").mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    target_file_bytes: int = 128 << 20,
) -> int:
    """Small-file compaction: rewrite a parquet dataset into
    ``ceil(total_bytes / target)`` files via ``coalesce`` — a map-side
    partition merge, NO shuffle (the files were already partitioned;
    compaction shouldn't pay an exchange to glue them). Returns the
    output file count.

    Small files are the silent killer of 100 TB scans (one task + one
    footer read per file); a streaming/append pipeline compacts each
    closed partition with exactly this call. Local-path size probe here;
    on a cluster the same arithmetic reads FileSystem.listStatus.
    """
    import math
    import os

    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(src)
        for f in files
        if f.endswith(".parquet")
    )
    n = max(1, math.ceil(total / target_file_bytes))
    spark.read.parquet(src).coalesce(n).write.mode("overwrite").parquet(dst)
    return sum(
        1
        for _, _, files in os.walk(dst)
        for f in files
        if f.endswith(".parquet")
    )


def write_metadata_table(
    spark: SparkSession, params: dict, path: str
) -> None:
    """K6: one-row params table embedded next to each output
    (build_frame_db.py:548-573). The row is built on the JVM from
    literals: one task and one file, no Python RDD."""
    spark.range(1, numPartitions=1).select(
        *[F.lit(str(v)).alias(k) for k, v in params.items()]
    ).write.mode("overwrite").parquet(path)


_SQLITE_TYPES = {
    "tinyint": "INTEGER",
    "smallint": "INTEGER",
    "int": "INTEGER",
    "bigint": "INTEGER",
    "boolean": "INTEGER",
    "float": "REAL",
    "double": "REAL",
    "string": "TEXT",
    "date": "TEXT",
    "timestamp": "TEXT",
}


def write_sqlite(
    df: DataFrame,
    db_path: str,
    table: str,
    mode: str = "overwrite",
    batch_size: int = 10_000,
) -> int:
    """K1 relational-sink parity: write a DataFrame into a SQLite file
    with the stdlib driver (the reference's GPKG/SQLite artifacts,
    build_frame_db.py make_minimal_db / export scripts).

    A single .sqlite file has exactly one writer, so this sink is
    driver-side BY NATURE (the reference builds it on one machine too):
    rows stream through ``toLocalIterator`` partition by partition —
    bounded driver memory — and land in batched executemany inserts.
    Complex columns (arrays/structs) are JSON-encoded. Returns the row
    count written."""
    import json
    import sqlite3

    import decimal

    def _sqlite_type(simple_str: str) -> str:
        if simple_str.startswith("decimal("):
            return "REAL"
        return _SQLITE_TYPES.get(simple_str, "TEXT")

    cols = df.schema.fields
    decls = ", ".join(
        f'"{f.name}" {_sqlite_type(f.dataType.simpleString())}' for f in cols
    )
    names = ", ".join(f'"{f.name}"' for f in cols)
    ph = ", ".join("?" for _ in cols)
    simple = {
        f.name: f.dataType.simpleString() in _SQLITE_TYPES
        or f.dataType.simpleString().startswith("decimal(")
        for f in cols
    }

    def _cell(name: str, v):
        if v is None or simple[name] is False:
            return json.dumps(v, default=str) if v is not None else None
        if isinstance(v, bool):
            return int(v)
        if isinstance(v, decimal.Decimal):
            return float(v)  # REAL column; no quoted-string round-trip
        if isinstance(v, (int, float, str)):
            return v
        return str(v)  # date/timestamp and friends

    con = sqlite3.connect(db_path)
    try:
        with con:
            if mode == "overwrite":
                con.execute(f'DROP TABLE IF EXISTS "{table}"')
            con.execute(f'CREATE TABLE IF NOT EXISTS "{table}" ({decls})')
        n = 0
        batch: list[tuple] = []
        with con:
            for row in df.toLocalIterator():
                batch.append(tuple(_cell(f.name, row[f.name]) for f in cols))
                if len(batch) >= batch_size:
                    con.executemany(
                        f'INSERT INTO "{table}" ({names}) VALUES ({ph})', batch
                    )
                    n += len(batch)
                    batch = []
            if batch:
                con.executemany(
                    f'INSERT INTO "{table}" ({names}) VALUES ({ph})', batch
                )
                n += len(batch)
        return n
    finally:
        con.close()


def read_sqlite(
    spark: SparkSession,
    db_path: str,
    table: str,
    schema: str,
    partition_col: str | None = None,
    num_partitions: int = 8,
) -> DataFrame:
    """S1 relational SCAN: parallel read of a SQLite table without a
    JDBC jar — the same partition-range strategy a JDBC source uses,
    executed with the stdlib driver inside ``mapInPandas``.

    When ``partition_col`` (a numeric column) is given, min/max bounds
    split into ``num_partitions`` half-open ranges and EACH EXECUTOR TASK
    opens the file read-only and scans only its range (sqlite allows any
    number of concurrent readers); without it the read is a single task.
    ``schema`` is the Spark DDL of the result. Works wherever the file
    path is visible cluster-wide (local, NFS, fuse-mounted object store).
    """
    import sqlite3

    from collections.abc import Iterator

    import pandas as pd

    if partition_col is None:
        bounds = [(None, None)]
    else:
        con = sqlite3.connect(db_path)
        try:
            lo, hi = con.execute(
                f'SELECT min("{partition_col}"), max("{partition_col}") '
                f'FROM "{table}"'
            ).fetchone()
        finally:
            con.close()
        if lo is None:
            bounds = [(None, None)]
        elif isinstance(lo, int) and isinstance(hi, int):
            # Integer keys stay integers end-to-end: a float round-trip
            # loses precision above 2^53 and drops/double-reads boundary
            # rows. Ceil-division step guarantees the half-open ranges
            # cover [lo, hi] exactly.
            step = max(1, -(-(hi - lo + 1) // num_partitions))
            bounds = [
                (lo + i * step, lo + (i + 1) * step)
                for i in range(num_partitions)
                if lo + i * step <= hi
            ]
        elif isinstance(lo, (int, float)) and isinstance(hi, (int, float)):
            step = (float(hi) - float(lo)) / num_partitions or 1.0
            bounds = [
                (float(lo) + i * step, float(lo) + (i + 1) * step)
                for i in range(num_partitions)
            ]
            bounds[-1] = (bounds[-1][0], float(hi) + 1.0)
        else:
            raise ValueError(
                f"partition_col {partition_col!r} must be numeric; "
                f"got bounds ({lo!r}, {hi!r})"
            )

    int_bounds = bounds[0][0] is not None and isinstance(bounds[0][0], int)
    bdf = spark.createDataFrame(
        [(i, b[0], b[1]) for i, b in enumerate(bounds)],
        f"part int, lo {'long' if int_bounds else 'double'},"
        f" hi {'long' if int_bounds else 'double'}",
    ).repartition(len(bounds), "part")

    def _read(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                con = sqlite3.connect(f"file:{db_path}?mode=ro", uri=True)
                try:
                    if row["lo"] is None or pd.isna(row["lo"]):
                        q = f'SELECT * FROM "{table}"'
                        args: tuple = ()
                    else:
                        q = (
                            f'SELECT * FROM "{table}" WHERE '
                            f'"{partition_col}" >= ? AND "{partition_col}" < ?'
                        )
                        # numpy scalars don't bind in sqlite3 — unwrap
                        args = tuple(
                            v.item() if hasattr(v, "item") else v
                            for v in (row["lo"], row["hi"])
                        )
                    yield pd.read_sql_query(q, con, params=args)
                finally:
                    con.close()

    return bdf.mapInPandas(_read, schema)


def write_curve_sorted(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    lo: float,
    hi: float,
    curve: str = "hilbert",
    bits: int = 8,
    n_files: int = 8,
    writer_options: dict | None = None,
) -> None:
    """Persist parquet clustered along a space-filling curve — the
    OPTIMIZE ZORDER BY analog, with the curve as a knob.

    ``curve="hilbert"`` (default): no Morton "seams" — adjacent cells
    are always adjacent on the curve, so a bbox predicate touches fewer
    row-group-sized code blocks (o7_hilbert_layout measured 47 vs 109
    contiguous code runs for the same probe;
    tests/test_layout_skipping.py pins the row-group pruning win for
    BOTH curves). ``curve="morton"`` stays available because its code
    is a pure bit-interleave — cheaper to compute and stable under
    per-dimension bit-width changes.

    Cost shape is identical either way: ONE range exchange on the code
    (equal-depth files) + an in-partition sort, paid once at write
    time; every file then owns a compact curve interval so its x/y
    min/max statistics are tight."""
    from burst_db_spark.operators import hilbert as hb
    from burst_db_spark.operators import zorder as zo

    if curve == "morton":
        zo.zorder_write(
            df, path, x_col, y_col, lo, hi, bits, n_files, writer_options
        )
    elif curve == "hilbert":
        hb.hilbert_write(
            df,
            path,
            zo.quantize(F.col(x_col), lo, hi, bits),
            zo.quantize(F.col(y_col), lo, hi, bits),
            bits,
            n_files,
            writer_options,
        )
    else:
        raise ValueError(f"unknown curve {curve!r}: hilbert | morton")
