"""Source-layer (SURVEY.md §2.1 S2-S7/S9) round-trip queries.

Each query materializes a small table through the format under test
(CSV / GeoJSON / JSON envelope / XML) into a fresh temp dir, reads it
back through the source connector, and projects; the DuckDB oracle runs
the same projection on the original parquet view. A value surviving the
round-trip bit-for-bit is exactly what the correctness gate should see,
so these give the S-layer real driver rows instead of pytest-only
coverage.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from burst_db_spark.catalog import load
from burst_db_spark.registry import register
from burst_db_spark.runner import tmpdir


@register(
    "s2_csv_infer_roundtrip",
    oracle="""
    SELECT CAST(n_nationkey AS INTEGER) AS n_nationkey,
           n_name,
           CAST(n_regionkey AS INTEGER) AS n_regionkey
    FROM nation
    """,
    tags=("S2", "csv"),
)
def s2_csv_infer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV with header + full-sample schema inference (S2,
    parse_bursts.py pd.read_csv analog): parquet → CSV → inferred read →
    identical values."""
    from burst_db_spark.sources.csv import read_csv_inferred

    out = tmpdir("bds_s2_")
    nation = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    nation.write.mode("overwrite").option("header", True).csv(out)
    got = read_csv_inferred(spark, out)
    return got.select(
        F.col("n_nationkey").cast("int").alias("n_nationkey"),
        "n_name",
        F.col("n_regionkey").cast("int").alias("n_regionkey"),
    )


@register(
    "s3_csv_schema_semicolon",
    oracle="""
    SELECT s_suppkey, s_name, CAST(s_acctbal AS DOUBLE) AS s_acctbal
    FROM supplier
    """,
    tags=("S3", "csv"),
)
def s3_csv_schema_semicolon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit-schema, ';'-delimited, headerless CSV (S3 — the
    historical-burst CSV shape, parse_bursts.py:54-56): doubles survive
    the text round-trip because Spark writes shortest-round-trip
    representations."""
    from burst_db_spark.sources.csv import read_csv_schema

    out = tmpdir("bds_s3_")
    supp = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    supp.write.mode("overwrite").option("header", False).option("sep", ";").csv(out)
    got = read_csv_schema(
        spark,
        out,
        "s_suppkey bigint, s_name string, s_acctbal double",
        sep=";",
        header=False,
    )
    return got


@register(
    "s4_csv_glob_multifile",
    oracle="""
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n
    FROM customer GROUP BY c_mktsegment
    """,
    tags=("S4", "csv", "glob"),
)
def s4_csv_glob_multifile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Glob scan over a multi-file CSV dataset (S4): the aggregate over
    the globbed read equals the aggregate over the source table."""
    from burst_db_spark.sources.csv import read_csv_schema

    out = tmpdir("bds_s4_")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cust.repartition(4).write.mode("overwrite").option("header", False).csv(out)
    got = read_csv_schema(
        spark,
        os.path.join(out, "*.csv"),
        "c_custkey bigint, c_mktsegment string",
        header=False,
    )
    return got.groupBy("c_mktsegment").agg(F.count("*").alias("n"))


@register(
    "s6_geojson_roundtrip",
    oracle="""
    SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey,
           CAST((r_regionkey * 3) % 50 AS DOUBLE) AS gxmin,
           CAST((r_regionkey * 3) % 50 + 2 + r_regionkey AS DOUBLE) AS gxmax
    FROM region
    """,
    tags=("S6", "K4", "geojson"),
)
def s6_geojson_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoJSON write → read round-trip (S6/K4): rect footprints derived
    from region keys survive FeatureCollection encoding; the envelope of
    the read-back geometry reproduces the source coordinates."""
    from burst_db_spark.geo.udfs import envelope_udf
    from burst_db_spark.sources.geojson import read_geojson, write_geojson

    out = os.path.join(tmpdir("bds_s6_"), "regions.geojson")
    region = load(spark, sf_dir, "region")
    rects = region.select(
        F.col("r_regionkey").cast("bigint").alias("r_regionkey"),
        F.format_string(
            "POLYGON ((%d 0, %d 0, %d 5, %d 5, %d 0))",
            ((F.col("r_regionkey") * 3) % 50).cast("int"),
            ((F.col("r_regionkey") * 3) % 50 + 2 + F.col("r_regionkey")).cast("int"),
            ((F.col("r_regionkey") * 3) % 50 + 2 + F.col("r_regionkey")).cast("int"),
            ((F.col("r_regionkey") * 3) % 50).cast("int"),
            ((F.col("r_regionkey") * 3) % 50).cast("int"),
        ).alias("geom_wkt"),
    )
    write_geojson(rects, out, properties=["r_regionkey"])
    got = read_geojson(spark, out)
    env = envelope_udf(F.col("geom_wkt"))
    return got.select(
        F.col("r_regionkey").cast("bigint").alias("r_regionkey"),
        env["xmin"].alias("gxmin"),
        env["xmax"].alias("gxmax"),
    )


@register(
    "s7_envelope_roundtrip",
    oracle="""
    SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey, n_name
    FROM nation
    """,
    tags=("S7", "K3", "json"),
)
def s7_envelope_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipped nested-JSON envelope round-trip (S7/K3 — the
    frame-to-burst document maps, utils.py:11-24): per-region sorted
    name lists → gzip envelope → read → explode back to rows."""
    from burst_db_spark.sources.json_docs import read_envelope, write_envelope

    out = os.path.join(tmpdir("bds_s7_"), "nations.json.gz")
    nation = load(spark, sf_dir, "nation")
    write_envelope(
        nation.select(
            F.col("n_regionkey").cast("string").alias("n_regionkey"), "n_name"
        ),
        out,
        "n_regionkey",
        ["n_name"],
    )
    _, doc = read_envelope(spark, out, key="n_regionkey")
    return doc.select(
        F.col("n_regionkey").cast("bigint").alias("n_regionkey"),
        F.explode("n_name").alias("n_name"),
    )


@register(
    "s9_xml_bursts",
    oracle="""
    SELECT CAST(row_number() OVER (ORDER BY o_orderkey) - 1 AS INTEGER)
               AS burst_index,
           CAST(o_orderdate AS VARCHAR) AS azimuth_time,
           CAST(o_orderkey * 100 AS BIGINT) AS byte_offset
    FROM orders WHERE o_orderkey < 500
    """,
    tags=("S9", "F9", "xml"),
)
def s9_xml_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML → rows UDTF (S9/F9, the SAFE annotation <burst> parse): an
    annotation file synthesized from the orders table round-trips through
    the distributed mapInPandas XML parser."""
    from burst_db_spark.sources.xml import read_annotation_bursts

    out_dir = tmpdir("bds_s9_")
    rows = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 500)
        .select("o_orderkey", F.col("o_orderdate").cast("string").alias("d"))
        .orderBy("o_orderkey")
        .collect()
    )
    parts = ["<product>"]
    for r in rows:
        parts.append(
            f"<burst><azimuthTime>{r.d}</azimuthTime>"
            f"<byteOffset>{r.o_orderkey * 100}</byteOffset></burst>"
        )
    parts.append("</product>")
    with open(os.path.join(out_dir, "annotation.xml"), "w") as f:
        f.write("".join(parts))
    got = read_annotation_bursts(spark, os.path.join(out_dir, "*.xml"))
    return got.select(
        F.col("burst_index").cast("int").alias("burst_index"),
        F.col("azimuth_time"),
        F.col("byte_offset").cast("bigint").alias("byte_offset"),
    )


@register(
    "k5_partitioned_append_roundtrip",
    oracle="""
    SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_id
    FROM events GROUP BY CAST(ts AS DATE)
    """,
    tags=("K5", "K2", "parquet", "append"),
)
def k5_partitioned_append_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunked/partitioned append sink (K5, the reference's 100k-row
    chunk loop, export_denormalized_db.py:165-183): two append writes of
    disjoint halves into a day-partitioned parquet dataset, read back
    through the partition layout — per-day aggregates reproduce the
    source exactly, proving the append path loses and duplicates
    nothing."""
    from burst_db_spark.sinks import append_partitioned

    out = tmpdir("bds_k5_")
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", F.to_date("ts").alias("day")
    )
    append_partitioned(ev.where(F.col("event_id") % 2 == 0), out, ["day"])
    append_partitioned(ev.where(F.col("event_id") % 2 == 1), out, ["day"])
    got = spark.read.parquet(out)
    return got.groupBy("day").agg(
        F.count("*").alias("n"), F.sum("event_id").alias("sum_id")
    )


@register(
    "s1_sqlite_roundtrip",
    oracle="""
    SELECT s_suppkey, s_name, CAST(s_acctbal AS DOUBLE) AS s_acctbal
    FROM supplier
    """,
    tags=("S1", "K1", "sqlite"),
)
def s1_sqlite_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational store round-trip (S1/K1, the reference's SQLite/GPKG
    artifacts): supplier → stdlib sqlite sink → PARALLEL partition-range
    read back (8 ranges on s_suppkey, one reader per task) → identical
    values."""
    from burst_db_spark.sinks import read_sqlite, write_sqlite

    db = os.path.join(tmpdir("bds_s1_"), "t.sqlite")
    supp = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    write_sqlite(supp, db, "supplier")
    return read_sqlite(
        spark,
        db,
        "supplier",
        "s_suppkey bigint, s_name string, s_acctbal double",
        partition_col="s_suppkey",
        num_partitions=8,
    )


@register(
    "k1_gpkg_roundtrip",
    oracle="""
    SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey,
           CAST((r_regionkey * 3) % 50 AS DOUBLE) AS gxmin,
           CAST((r_regionkey * 3) % 50 + 2 + r_regionkey AS DOUBLE) AS gxmax
    FROM region
    """,
    tags=("K1", "gpkg", "wkb"),
)
def k1_gpkg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GeoPackage round-trip (K1 — the reference's primary artifact,
    build_frame_db.py frames/bursts layers): rect footprints → WKB
    GeoPackageBinary blobs + full GPKG metadata tables (stdlib sqlite3,
    no GDAL) → blob decode back to WKT → envelope coordinates reproduce
    the source formula. Same fixture shapes as the GeoJSON round-trip so
    the two container formats are directly comparable."""
    from burst_db_spark.geo.udfs import envelope_udf
    from burst_db_spark.sources.gpkg import read_gpkg, write_gpkg

    out = os.path.join(tmpdir("bds_k1_"), "regions.gpkg")
    region = load(spark, sf_dir, "region")
    rects = region.select(
        F.col("r_regionkey").cast("bigint").alias("r_regionkey"),
        F.format_string(
            "POLYGON ((%d 0, %d 0, %d 5, %d 5, %d 0))",
            ((F.col("r_regionkey") * 3) % 50).cast("int"),
            ((F.col("r_regionkey") * 3) % 50 + 2 + F.col("r_regionkey")).cast("int"),
            ((F.col("r_regionkey") * 3) % 50 + 2 + F.col("r_regionkey")).cast("int"),
            ((F.col("r_regionkey") * 3) % 50).cast("int"),
            ((F.col("r_regionkey") * 3) % 50).cast("int"),
        ).alias("geom_wkt"),
    )
    write_gpkg(rects, out, "regions", properties=["r_regionkey"])
    got = read_gpkg(spark, out, "regions")
    env = envelope_udf(F.col("geom_wkt"))
    return got.select(
        F.col("r_regionkey").cast("bigint").alias("r_regionkey"),
        env["xmin"].alias("gxmin"),
        env["xmax"].alias("gxmax"),
    )


@register(
    "k7_bucketed_colocated_join",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    tags=("K7", "bucketing", "join"),
)
def k7_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-co-located fact join: orders and lineitem are written as
    managed tables bucketed (and sorted) on the order key with matching
    bucket counts, then joined WITHOUT any exchange — the write-time
    shuffle is paid once, every subsequent join on that key is
    bucket-to-bucket. This is the Spark-native equivalent of the
    reference keeping its tables pre-indexed on the join key. The
    aggregate over the bucketed join must equal the oracle's plain
    join over the raw tables."""
    import uuid as _uuid

    from burst_db_spark.sinks import write_bucketed

    tag = _uuid.uuid4().hex[:8]
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.floor("l_quantity").cast("bigint").alias("q")
    )
    t_o, t_l = f"bds_orders_{tag}", f"bds_lineitem_{tag}"
    write_bucketed(orders, t_o, "o_orderkey", 8, sort_col="o_orderkey")
    write_bucketed(li, t_l, "l_orderkey", 8, sort_col="l_orderkey")
    bo, bl = spark.table(t_o), spark.table(t_l)
    out = (
        bo.join(bl, bo["o_orderkey"] == bl["l_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.sum("q").cast("bigint").alias("sum_qty"),
        )
    )
    return out


@register(
    "k8_compact_roundtrip",
    oracle="""
    SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_id
    FROM events GROUP BY CAST(ts AS DATE)
    """,
    tags=("K8", "compaction", "parquet"),
)
def k8_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction round-trip (the maintenance pass every
    append/streaming pipeline needs): events deliberately shattered into
    64 tiny files, compacted with the shuffle-free coalesce rewrite,
    read back — per-day aggregates prove the compaction lost and
    duplicated nothing. The pytest side additionally pins the file-count
    reduction and the no-Exchange plan."""
    from burst_db_spark.sinks import compact_parquet

    base = tmpdir("bds_k8_")
    src, dst = os.path.join(base, "small"), os.path.join(base, "compact")
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    ev.repartition(64).write.mode("overwrite").parquet(src)
    compact_parquet(spark, src, dst, target_file_bytes=256 << 20)
    got = spark.read.parquet(dst)
    return got.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n"), F.sum("event_id").alias("sum_id")
    )


@register(
    "s11_zarr_cube",
    oracle="""
    WITH cells AS (
        SELECT (year(l_shipdate) - 1995) * 12 + month(l_shipdate) - 1 AS t,
               l_suppkey % 8 AS si, l_partkey % 8 AS pi,
               CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS v
        FROM lineitem GROUP BY 1, 2, 3
    )
    SELECT CAST(t AS BIGINT) AS t,
           CAST(sum(v) AS BIGINT) AS total_qty,
           CAST(count(*) AS BIGINT) AS n_cells
    FROM cells
    WHERE t >= 6 AND t < 54 AND si BETWEEN 2 AND 5 AND pi >= 1
    GROUP BY 1
    """,
    tags=("S11", "zarr", "cube"),
)
def s11_zarr_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zarr cube round-trip + bbox/time subset (S11 — the reference's
    ``xr.open_zarr`` GFS subset, egms-snow-comparison-data-prep.ipynb
    cells 3-9): a (month × supplier-cell × part-cell) quantity cube is
    materialized through the DISTRIBUTED zarr sink (chunk-grouped
    applyInPandas, zlib chunks), read back chunk-parallel, subset to a
    time range and spatial block, and aggregated per month. Fill cells
    (v=0) are dropped so the result equals the relational aggregate the
    oracle computes straight from lineitem."""
    from burst_db_spark.sources.zarr import read_zarr_array, write_zarr_cube

    store = os.path.join(tmpdir("bds_s11_"), "cube")
    li = load(spark, sf_dir, "lineitem")
    cells = (
        li.select(
            ((F.year("l_shipdate") - 1995) * 12 + F.month("l_shipdate") - 1).alias("t"),
            (F.col("l_suppkey") % 8).alias("si"),
            (F.col("l_partkey") % 8).alias("pi"),
            F.floor("l_quantity").cast("bigint").alias("q"),
        )
        .groupBy("t", "si", "pi")
        .agg(F.sum("q").cast("bigint").alias("v"))
    )
    write_zarr_cube(
        cells,
        store,
        ["t", "si", "pi"],
        "v",
        shape=(84, 8, 8),
        chunks=(12, 8, 8),
        compressor={"id": "zlib", "level": 6},
    )
    back = read_zarr_array(spark, store, dim_names=["t", "si", "pi"])
    return (
        back.where(
            (F.col("t") >= 6)
            & (F.col("t") < 54)
            & F.col("si").between(2, 5)
            & (F.col("pi") >= 1)
            & (F.col("value") != 0)
        )
        .groupBy("t")
        .agg(
            F.sum("value").cast("bigint").alias("total_qty"),
            F.count("*").cast("bigint").alias("n_cells"),
        )
    )


@register(
    "s11_zarr_coords",
    oracle="""
    WITH cells AS (
        SELECT year(l_shipdate) * 100 + month(l_shipdate) AS t,
               l_suppkey % 8 AS si, l_partkey % 8 AS pi,
               CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS v
        FROM lineitem GROUP BY 1, 2, 3
    )
    SELECT CAST(t AS BIGINT) AS t,
           CAST(sum(v) AS BIGINT) AS total_qty,
           CAST(count(*) AS BIGINT) AS n_cells
    FROM cells
    WHERE t BETWEEN 199507 AND 199906 AND si <= 3
    GROUP BY 1
    """,
    tags=("S11", "zarr", "group", "coords"),
)
def s11_zarr_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zarr GROUP open with coordinate-VALUE subsetting — the reference's
    actual xr.open_zarr workflow (filter GFS by lat/lon/time values):
    the quantity cube is stored under a group whose time dimension
    carries a yyyymm coordinate array; the query filters on the
    coordinate values (July 1995 – June 1999), not raw indices, with the
    coord riding in as a broadcast join onto the chunk-parallel read."""
    import numpy as np

    from burst_db_spark.sources.zarr import (
        read_zarr_group,
        write_zarr_cube,
        write_zarr_group,
    )

    store = os.path.join(tmpdir("bds_s11c_"), "group")
    yyyymm = np.array(
        [(1995 + m // 12) * 100 + m % 12 + 1 for m in range(84)], dtype="<i8"
    )
    write_zarr_group(store, {"t": yyyymm}, compressor={"id": "zlib", "level": 6})
    li = load(spark, sf_dir, "lineitem")
    cells = (
        li.select(
            ((F.year("l_shipdate") - 1995) * 12 + F.month("l_shipdate") - 1).alias("t"),
            (F.col("l_suppkey") % 8).alias("si"),
            (F.col("l_partkey") % 8).alias("pi"),
            F.floor("l_quantity").cast("bigint").alias("q"),
        )
        .groupBy("t", "si", "pi")
        .agg(F.sum("q").cast("bigint").alias("v"))
    )
    write_zarr_cube(
        cells,
        os.path.join(store, "qty"),
        ["t", "si", "pi"],
        "v",
        shape=(84, 8, 8),
        chunks=(12, 8, 8),
        compressor={"id": "zlib", "level": 6},
    )
    back = read_zarr_group(spark, store, "qty", ["t", "si", "pi"])
    return (
        back.where(
            F.col("t").between(199507, 199906)
            & (F.col("si") <= 3)
            & (F.col("value") != 0)
        )
        .groupBy("t")
        .agg(
            F.sum("value").cast("bigint").alias("total_qty"),
            F.count("*").cast("bigint").alias("n_cells"),
        )
    )


@register(
    "s8_rangezip_roundtrip",
    oracle="""
    SELECT CAST(n_nationkey AS INTEGER) AS n_nationkey, n_name
    FROM nation
    """,
    tags=("S8", "zip", "range-read"),
)
def s8_rangezip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-zip extraction (S8, _land_usgs.py:24-44 RemoteZipFile):
    nation rows become CSV members inside a zip that also carries much
    larger decoy members; the range reader parses the end-of-central-
    directory + central directory, glob-selects only ``data/*.csv``, and
    extracts exactly those byte ranges — the decoys' bytes are never
    fetched (asserted in pytest). The transport is the injectable
    ``fetch(offset, size)``; HTTP Range is a drop-in. Members mix
    stored and deflated compression on purpose."""
    import io
    import zipfile as _zf

    from burst_db_spark.sources.remote import file_fetcher, read_partial_zip

    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rows = sorted((r.n_nationkey, r.n_name) for r in nation.collect())
    half = len(rows) // 2
    path = os.path.join(tmpdir("bds_s8_"), "archive.zip")
    with _zf.ZipFile(path, "w") as z:
        for i, chunk in enumerate((rows[:half], rows[half:])):
            body = "\n".join(f"{k},{n}" for k, n in chunk)
            z.writestr(
                f"data/part{i}.csv", body,
                compress_type=_zf.ZIP_DEFLATED if i % 2 else _zf.ZIP_STORED,
            )
        z.writestr("junk/big0.bin", b"\xab" * 300_000)
        z.writestr("junk/big1.bin", b"\xcd" * 300_000)
    fetch, size = file_fetcher(path)
    members = read_partial_zip(spark, fetch, size, ["data/*.csv"])
    lines = members.select(
        F.explode(F.split(F.decode("content", "utf-8"), "\n")).alias("line")
    ).where(F.length("line") > 0)
    return lines.select(
        F.split("line", ",")[0].cast("int").alias("n_nationkey"),
        F.split("line", ",")[1].alias("n_name"),
    )


@register(
    "s10_stac_paged",
    oracle="""
    SELECT 'S1A_IW_SLC__1' ||
           CASE WHEN s_suppkey % 3 = 0 THEN 'SDV' ELSE 'SSH' END ||
           '_2021' || lpad(CAST(s_suppkey AS VARCHAR), 8, '0')
               AS granule
    FROM supplier
    WHERE s_suppkey % 4 IN (0, 1) AND s_suppkey % 3 IN (0, 1)
    """,
    tags=("S10", "stac", "paged"),
)
def s10_stac_paged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paged STAC/CMR catalog scan (S10,
    download_asf_granule_list.py:41-128): supplier keys become granule
    titles spread over linked JSON pages (rel=item entries + rel=next
    pagination, plus EW/WV beam and disallowed-polarization chaff the
    name filter must drop). The walker follows the links with bounded
    retries; the transport is an injectable ``fetch_json`` resolving
    against local documents — HTTP GET is a drop-in, driver-side like
    the reference's. The oracle regenerates the kept set relationally."""
    import json as _json

    from burst_db_spark.sources.remote import asf_safe_names, dir_json_fetcher

    supp = load(spark, sf_dir, "supplier").select("s_suppkey")
    keys = sorted(r.s_suppkey for r in supp.collect())
    beams = {0: "IW", 1: "IW", 2: "EW", 3: "WV"}
    pols = {0: "SDV", 1: "SSH", 2: "ZZZ"}
    titles = [
        f"S1A_{beams[k % 4]}_SLC__1{pols[k % 3]}_2021{k:08d}-SLC" for k in keys
    ]
    page_dir = tmpdir("bds_s10_")
    page_size = 40
    chunks = [titles[i : i + page_size] for i in range(0, len(titles), page_size)]
    for i, chunk in enumerate(chunks):
        links = [{"rel": "item", "title": t} for t in chunk]
        links.append({"rel": "self", "href": f"page{i}.json"})
        if i + 1 < len(chunks):
            links.append({"rel": "next", "href": f"page{i + 1}.json"})
        with open(os.path.join(page_dir, f"page{i}.json"), "w") as f:
            _json.dump({"links": links}, f)
    names = asf_safe_names(dir_json_fetcher(page_dir), ["page0.json"])
    return spark.createDataFrame([(n,) for n in names], "granule string")
