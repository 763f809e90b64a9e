"""EP1 composed end-to-end: the `opera-db create` equivalent
(build_frame_db.py:621-754) — from burst inputs to the full artifact set.

Artifacts written under ``out_dir`` (parquet replaces GPKG/SQLite as the
native store; the JSON document maps keep their envelope format):

- ``frames/``           enriched frame table (geom, epsg, snapped bbox)
- ``frames_bursts/``    frame↔burst bridge
- ``burst_id_map/``     per-burst rows with frame-derived epsg (J9 update)
- ``frame_to_burst.json.gz``  {frame: {burst_ids}} envelope (K3)
- ``burst_to_frame.json.gz``  {burst: {frame_ids}} envelope
- ``frames.geojson``    simplified footprints (K4)
- ``metadata/``         1-row params table (K6)
- ``minimal.sqlite``    queryable relational artifact (K1): the
  reference's minimal DB (make_minimal_db: id, epsg, meter-snapped int
  bbox) via the stdlib sqlite sink
- ``frames.gpkg``       REAL GeoPackage (K1): frames layer with WKB
  geometry blobs + OGC metadata tables (sources/gpkg.py, no GDAL)

Write once, read back. Each table is computed once, and every later
artifact is derived from what was written, as the reference reads frames
back for EPSG classification:

1. ``frames/`` is built from the inputs (widen + DP, member union, geo
   UDFs) and written first;
2. ``frames_bursts/`` is built from the inputs too (the DP again) and
   written second;
3. everything else reads those two parquet tables: ``burst_id_map/``
   (frames' epsg onto frames_bursts, joined to the burst input), both
   envelopes (frames_bursts), ``frames.geojson``, ``minimal.sqlite`` and
   ``frames.gpkg`` (frames). ``metadata/`` needs neither.

``frames/`` keeps its own plan rather than being derived from the
written bridge: its ``geom_wkt`` text depends on the member order the
union sees, which follows the plan shape (ROADMAP open items).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from burst_db_spark.operators.joins import update_join
from burst_db_spark.plans.frame_db import build_frames, enrich_frames
from burst_db_spark.sinks import write_metadata_table, write_parquet, write_sqlite
from burst_db_spark.sources.geojson import write_geojson
from burst_db_spark.sources.gpkg import write_gpkg
from burst_db_spark.sources.json_docs import write_envelope


def create(
    spark: SparkSession,
    triplets: DataFrame,
    bursts: DataFrame,
    out_dir: str,
    target: int = 9,
    min_frame: int = 5,
    max_frame: int = 10,
) -> dict[str, DataFrame]:
    """Run the create pipeline; returns the main tables for inspection
    (frames and bridge as read back from ``out_dir``)."""
    frames, bridge = build_frames(triplets, target, min_frame, max_frame)
    member_geoms = bridge.join(bursts, "burst_id").select("frame_fid", "geom_wkt")
    write_parquet(
        enrich_frames(frames, member_geoms=member_geoms), f"{out_dir}/frames"
    )
    write_parquet(bridge, f"{out_dir}/frames_bursts")
    # every later sink reads the two tables just written (module docstring)
    frames_full = spark.read.parquet(f"{out_dir}/frames")
    bridge = spark.read.parquet(f"{out_dir}/frames_bursts")

    # J9 update-join: propagate frame epsg onto member bursts
    # (build_frame_db.py:321-335)
    burst_epsg = (
        bridge.join(frames_full.select("frame_fid", "epsg"), "frame_fid")
        .groupBy("burst_id")
        .agg(F.min("epsg").alias("frame_epsg"))
    )
    bursts_out = update_join(
        bursts.withColumn("epsg", F.lit(0)),
        burst_epsg,
        "burst_id",
        {"epsg": F.coalesce(F.col("s.frame_epsg"), F.lit(0))},
    )

    write_parquet(bursts_out, f"{out_dir}/burst_id_map")
    write_envelope(
        bridge.withColumn("burst_id", F.col("burst_id").cast("string")),
        f"{out_dir}/frame_to_burst.json.gz",
        "frame_fid",
        ["burst_id"],
        {"target": target, "min_frame": min_frame, "max_frame": max_frame},
    )
    write_envelope(
        bridge.withColumn("frame_fid", F.col("frame_fid").cast("string")),
        f"{out_dir}/burst_to_frame.json.gz",
        "burst_id",
        ["frame_fid"],
    )
    write_geojson(
        frames_full.where(F.col("geom_wkt").isNotNull()),
        f"{out_dir}/frames.geojson",
        properties=["frame_fid", "epsg", "is_land"],
        simplify_tolerance=1 / 3600,
    )
    write_metadata_table(
        spark,
        {"target": target, "min_frame": min_frame, "max_frame": max_frame},
        f"{out_dir}/metadata",
    )
    # K1 relational parity: minimal DB as a real sqlite file
    # (make_minimal_db columns: id, epsg, snapped meter bbox as INT)
    write_sqlite(
        frames_full.select(
            "frame_fid", "epsg", "uxmin", "uymin", "uxmax", "uymax"
        ),
        f"{out_dir}/minimal.sqlite",
        "frames",
    )
    # K1 geospatial parity: the frames layer as a REAL GeoPackage
    # (the reference's primary artifact, build_frame_db.py frames table).
    # Its fid AUTOINCREMENT follows insert order, and the benchmark
    # goldens pin the order this sink got when it recomputed frames at
    # their size: (pmod(hash(frame_fid), shuffle.partitions), frame_fid).
    # Known defect: the fid depends on the partition count (ROADMAP).
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    write_gpkg(
        frames_full.where(F.col("geom_wkt").isNotNull())
        .select("geom_wkt", "frame_fid", "epsg", "is_land")
        .repartition(n_parts, "frame_fid")
        .sortWithinPartitions("frame_fid"),
        f"{out_dir}/frames.gpkg",
        "frames",
        properties=["frame_fid", "epsg", "is_land"],
    )
    return {"frames": frames_full, "bridge": bridge, "bursts": bursts_out}
