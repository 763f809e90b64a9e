"""Seeded input generators. The program only ever sees the files written
here; every table is a pure function of ``(seed, size)``.

- ``write_burst_inputs``: burst triplets and the per-burst map, with the
  column names and types of ``burst_db_spark.plans.fixtures``
  (``burst_triplets`` / ``burst_id_map``) but seeded land/water run
  lengths and ground-track positions, plus the per-date semicolon CSVs the
  historical ingest reads (every burst on every date, ~2 % re-delivered
  with a later granule name).
- ``write_suite_tables``: the ten synthetic star-schema tables the
  registered queries read, with the schemas and value domains of the
  sf tables described in TESTDATA.md.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIRST_DATE = dt.datetime(2016, 7, 1, 6, 0, 0)
CADENCE_DAYS = 12


@dataclass(frozen=True)
class CatalogSize:
    n_triplets: int
    n_tracks: int
    n_dates: int
    dup_frac: float = 0.02


@dataclass(frozen=True)
class BurstInputs:
    triplets: str
    bursts: str
    daily_glob: str
    n_keys: int
    n_rows: int


def _runs(rng: np.random.Generator, n: int) -> np.ndarray:
    """0/1 land flags along one track: alternating water and land runs
    with seeded lengths (short runs exercise the widening pass)."""
    flags = np.zeros(n, dtype=np.int32)
    pos, land = 0, bool(rng.integers(2))
    while pos < n:
        length = int(rng.integers(2, 30)) if land else int(rng.integers(1, 12))
        if land:
            flags[pos:pos + length] = 1
        pos += length
        land = not land
    return flags


def write_burst_inputs(out: str, seed: int, size: CatalogSize) -> BurstInputs:
    rng = np.random.default_rng(seed)
    per_track = size.n_triplets // size.n_tracks
    n = per_track * size.n_tracks
    burst_id = np.arange(1, n + 1, dtype=np.int64)
    track = ((burst_id - 1) // per_track + 1).astype(np.int32)
    pos = ((burst_id - 1) % per_track).astype(np.int32)
    is_land = np.concatenate([_runs(rng, per_track) for _ in range(size.n_tracks)])
    base_lon = rng.uniform(-170.0, 150.0, size.n_tracks)
    lon = np.round(base_lon[track - 1] + pos * 0.05, 4)
    lat = np.round(pos * 150.0 / per_track - 75.0, 4)
    orbit_pass = np.where(track % 2 == 0, "DESCENDING", "ASCENDING")

    os.makedirs(out, exist_ok=True)
    triplets = f"{out}/triplets.parquet"
    pq.write_table(
        pa.table({
            "burst_id": burst_id,
            "track": track,
            "pos": pos,
            "orbit_pass": orbit_pass,
            "is_land": is_land,
            "lon": lon,
            "lat": lat,
        }),
        triplets,
    )

    iw = np.tile(np.arange(1, 4, dtype=np.int64), n)
    b_id = np.repeat(burst_id, 3)
    b_track = np.repeat(track, 3)
    xmin = np.repeat(lon, 3) + (iw - 1) * 0.9
    ymin = np.repeat(lat, 3)
    xmax, ymax = xmin + 0.9, ymin + 0.2
    jpl = [f"t{t:03d}_{b:06d}_iw{i}" for t, b, i in zip(b_track, b_id, iw)]
    wkt = [
        f"POLYGON (({a:.4f} {b:.4f}, {c:.4f} {b:.4f}, {c:.4f} {d:.4f}, "
        f"{a:.4f} {d:.4f}, {a:.4f} {b:.4f}))"
        for a, b, c, d in zip(xmin, ymin, xmax, ymax)
    ]
    bursts = f"{out}/burst_id_map.parquet"
    pq.write_table(
        pa.table({
            "ogc_fid": 3 * (b_id - 1) + iw,
            "burst_id": b_id,
            "relative_orbit_number": b_track,
            "subswath_name": [f"IW{i}" for i in iw],
            "orbit_pass": np.repeat(orbit_pass, 3),
            "burst_id_jpl": jpl,
            "is_land": np.repeat(is_land, 3),
            "geom_wkt": wkt,
            "xmin": xmin,
            "ymin": ymin,
            "xmax": xmax,
            "ymax": ymax,
        }),
        bursts,
    )

    daily = f"{out}/daily"
    os.makedirs(daily, exist_ok=True)
    # each burst is sensed at the same time of day on every date: the
    # track's pass start plus its position along the track
    offset = np.repeat(pos.astype(np.int64) * 3, 3) + (iw - 1) + b_track * 60
    hms = [str(FIRST_DATE + dt.timedelta(seconds=int(s)))[11:] for s in offset]
    head = [f"{j};" for j in jpl]
    mid = [f";{w};S1A_IW_SLC__1SDV_" for w in wkt]
    tail = [f"_{t:03d}.SAFE" for t in b_track]
    n_rows = 0
    for k in range(size.n_dates):
        day = FIRST_DATE + dt.timedelta(days=k * CADENCE_DAYS)
        date, stamp = f"{day:%Y-%m-%d} ", f"{day:%Y%m%d}"
        lines = [
            h + date + t + m + stamp + e
            for h, t, m, e in zip(head, hms, mid, tail)
        ]
        # re-deliveries: same key, a later granule name (the dedup keeps
        # the max granule per key)
        for i in np.flatnonzero(rng.random(len(lines)) < size.dup_frac):
            lines.append(lines[i].replace(".SAFE", "_R2.SAFE"))
        n_rows += len(lines)
        with open(f"{daily}/bursts_{day:%Y-%m-%d}.csv", "w") as f:
            f.write("\n".join(lines) + "\n")
    return BurstInputs(
        triplets, bursts, f"{daily}/*.csv", n_keys=len(jpl) * size.n_dates, n_rows=n_rows,
    )


# ---------------------------------------------------------------------------
# star-schema tables for the registered queries

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_COLORS = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENTS = ("click", "error", "purchase", "signup", "view")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.12:
            # near-duplicate of an earlier document: a few word edits
            words = texts[int(rng.integers(i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(len(words)))] = _VOCAB[int(rng.integers(len(_VOCAB)))]
            words.append("dup")
        else:
            words = [_VOCAB[j] for j in rng.integers(0, len(_VOCAB), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[j] for j in rng.integers(0, len(_LANGS), n)],
        "source": [f"src{j}" for j in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centroids = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, n).astype(np.int32)
    vec = centroids[label] + rng.normal(scale=0.8, size=(n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": label,
    })


def write_suite_tables(out: str, seed: int, sf: float) -> None:
    """Write ``<out>/<table>.parquet`` for every table. Row counts follow the TPC-H scale rules; ``documents`` keeps
    500 rows at every scale, as in TESTDATA.md. ``embeddings`` keeps 300
    where TESTDATA.md has 500: the IVF row's DuckDB oracle took 8.8 s at
    500 rows and 4.6 s at 300 on 4 cores, most of a run's check time."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    i32 = np.int32
    tables = {
        "region": pa.table({
            "r_regionkey": np.arange(5, dtype=i32), "r_name": list(_REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [_SEGMENTS[j] for j in rng.integers(0, 5, n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{_COLORS[a]} {_NOUNS[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
            "p_type": [_PTYPES[j] for j in rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2400, n_ord),
            "o_orderpriority": [_PRIORITIES[j] for j in rng.integers(0, 5, n_ord)],
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_line)],
            "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, "1995-01-02", 2500, n_line),
        }),
        "events": pa.table({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us")
            + np.cumsum(rng.integers(1, int(2 * 30 * 86400e6 / n_ev), n_ev)).astype("timedelta64[us]"),
            "user_id": rng.integers(0, 150, n_ev),
            "event_type": [_EVENTS[j] for j in rng.integers(0, 5, n_ev)],
            "value": _money(rng, 0.01, 490.0, n_ev),
            "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)],
        }),
        "documents": _documents(rng, 500),
        "embeddings": _embeddings(rng, 300),
    }
    os.makedirs(out, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, f"{out}/{name}.parquet")
