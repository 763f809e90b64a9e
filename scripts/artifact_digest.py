"""Order-insensitive digest of the nine artifacts ``create`` writes.

Usage:
    python scripts/artifact_digest.py DB_DIR

Prints one 16-hex-digit digest of ``DB_DIR``'s ``frames``,
``frames_bursts``, ``burst_id_map`` and ``metadata`` parquet tables, the
two JSON envelopes, ``frames.geojson``, ``minimal.sqlite`` and
``frames.gpkg``. Two ``create`` runs over the same inputs print the same
digest when they wrote the same content, whatever the row, file or key
order. Left out: envelope ``metadata`` (it holds a generation time), the
GeoPackage bookkeeping tables and the GeoPackage ``fid``, which follows
insert order and so the shuffle partition count.

Write-path parity: run ``create`` at two commits on the same inputs and
compare the two digests.
"""

from __future__ import annotations

import contextlib
import gzip
import hashlib
import json
import sqlite3
import sys

import duckdb

PARQUET = ("frames", "frames_bursts", "burst_id_map", "metadata")
ENVELOPES = ("frame_to_burst.json.gz", "burst_to_frame.json.gz")
SQLITE = ("minimal.sqlite", "frames.gpkg")


def artifact_digest(db: str) -> str:
    h = hashlib.sha256()
    with contextlib.closing(duckdb.connect()) as con:
        for name in PARQUET:
            h.update(repr(con.execute(
                f"SELECT count(*), sum(hash(t)) FROM read_parquet('{db}/{name}/*.parquet') t"
            ).fetchone()).encode())
    for name in ENVELOPES:
        with gzip.open(f"{db}/{name}", "rt") as f:
            h.update(json.dumps(json.load(f)["data"], sort_keys=True).encode())
    with open(f"{db}/frames.geojson") as f:
        feats = json.load(f)["features"]
    feats.sort(key=lambda x: x["properties"]["frame_fid"])
    h.update(json.dumps(feats, sort_keys=True).encode())
    for name in SQLITE:
        with contextlib.closing(sqlite3.connect(f"{db}/{name}")) as lite:
            for (table,) in lite.execute(
                "SELECT name FROM sqlite_master WHERE type = 'table' "
                "AND name NOT LIKE 'gpkg%' AND name NOT LIKE 'sqlite%' ORDER BY name"
            ).fetchall():
                cur = lite.execute(f'SELECT * FROM "{table}"')
                keep = [i for i, d in enumerate(cur.description) if d[0] != "fid"]
                rows = sorted(repr(tuple(r[i] for i in keep)) for r in cur)
                h.update(f"{name}:{table}:{rows}".encode())
    return h.hexdigest()[:16]


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    print(artifact_digest(sys.argv[1]))
