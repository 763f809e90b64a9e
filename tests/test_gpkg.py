"""GeoPackage writer/reader: OGC container conformance + WKB codec."""

from __future__ import annotations

import os
import sqlite3

from burst_db_spark.sources.gpkg import (
    gpkg_blob,
    read_gpkg,
    wkb_from_wkt,
    wkt_from_gpkg_blob,
    wkt_from_wkb,
    write_gpkg,
)

RECT = "POLYGON ((1 2, 4 2, 4 6, 1 6, 1 2))"
MULTI = "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), ((5 5, 7 5, 7 8, 5 8, 5 5)))"
HOLED = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))"


class TestWkbCodec:
    def test_polygon_roundtrip(self):
        assert wkt_from_wkb(wkb_from_wkt(RECT)) == RECT

    def test_multipolygon_roundtrip(self):
        assert wkt_from_wkb(wkb_from_wkt(MULTI)) == MULTI

    def test_polygon_with_hole_roundtrip(self):
        assert wkt_from_wkb(wkb_from_wkt(HOLED)) == HOLED

    def test_gpkg_blob_header_and_envelope(self):
        blob = gpkg_blob(RECT, srs_id=4326)
        assert blob[:2] == b"GP" and blob[2] == 0
        import struct

        assert struct.unpack_from("<i", blob, 4)[0] == 4326
        xmin, xmax, ymin, ymax = struct.unpack_from("<dddd", blob, 8)
        assert (xmin, xmax, ymin, ymax) == (1.0, 4.0, 2.0, 6.0)
        assert wkt_from_gpkg_blob(blob) == RECT


class TestContainer:
    def _write(self, spark, tmp):
        path = os.path.join(tmp, "t.gpkg")
        df = spark.createDataFrame(
            [(1, RECT), (2, MULTI), (3, HOLED)], "gid long, geom_wkt string"
        )
        write_gpkg(df, path, "shapes", properties=["gid"])
        return path

    def test_conformance_pragmas_and_tables(self, spark, tmp_path):
        path = self._write(spark, str(tmp_path))
        con = sqlite3.connect(path)
        assert con.execute("PRAGMA application_id").fetchone()[0] == 0x47504B47
        tables = {
            r[0]
            for r in con.execute(
                "SELECT name FROM sqlite_master WHERE type='table'"
            )
        }
        assert {
            "gpkg_spatial_ref_sys",
            "gpkg_contents",
            "gpkg_geometry_columns",
            "shapes",
        } <= tables
        row = con.execute(
            "SELECT data_type, min_x, max_x, srs_id FROM gpkg_contents "
            "WHERE table_name='shapes'"
        ).fetchone()
        assert row[0] == "features"
        assert row[1] == 0.0 and row[2] == 10.0 and row[3] == 4326
        assert con.execute(
            "SELECT srs_id FROM gpkg_spatial_ref_sys WHERE srs_id=4326"
        ).fetchone()
        con.close()

    def test_read_back(self, spark, tmp_path):
        path = self._write(spark, str(tmp_path))
        got = {r["gid"]: r["geom_wkt"] for r in read_gpkg(spark, path, "shapes").collect()}
        assert got == {"1": RECT, "2": MULTI, "3": HOLED}
