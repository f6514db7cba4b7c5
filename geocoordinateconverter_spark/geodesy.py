"""Vectorized NumPy float64 geodesy kernels — the numeric core.

Reimplements, from public formulas, the conversion engine of the
reference (``geo.c`` — SURVEY.md §3.2 P1–P6 and §3.3 chains t1–t6):

* P1 ``geo2xy``  — Transverse-Mercator / Gauss-Krüger forward projection
* P2 ``xy2geo``  — TM/GK inverse projection (footpoint-latitude series)
* P3 ``fila2xyz`` — geodetic → ECEF cartesian
* P4 ``xyz2fila`` — ECEF → geodetic (fixed-iteration latitude solve)
* P5 ``helmert`` — 7-parameter datum shift (forward + exact inverse)
* P6 — series-coefficient init lives in :mod:`..constants` at import
  time (the reference folds these constants once at startup;
  SURVEY.md §5.1).

Design rules (SURVEY.md §2.2): every kernel is a pure function over
NumPy float64 arrays — whole-column, zero per-row Python — so the same
code serves pytest oracles and Arrow-UDF batches unchanged.
The ``xyz2fila`` latitude solve uses a FIXED iteration count
(XYZ2FILA_ITERS) so results are deterministic and independent of data
order / partitioning.  [UNVERIFIED whether the reference uses a fixed
count or a convergence test — geo.c → xyz2fila; re-check on first
populated checkout, SURVEY.md §5.1.]
"""

from __future__ import annotations

import numpy as np

from .constants import (
    D48_GK,
    D96_TM,
    NORTHING_ABS_THRESHOLD,
    NORTHING_OFFSET,
    SLO_D48_TO_ETRS89,
    Ellipsoid,
    Helmert7,
    Projection,
)

ARCSEC_TO_RAD = np.pi / (180.0 * 3600.0)
XYZ2FILA_ITERS = 4  # fixed-count Bowring-seeded iteration; 4 reaches
# float64 convergence over the working area (measured 2.8e-14 deg) and
# saves 6 transcendentals/point vs 6 iterations (determinism preserved)


# ---------------------------------------------------------------------------
# P1 — forward TM/GK projection (geo.c → geo2xy)
# ---------------------------------------------------------------------------

def meridian_arc(fi_rad: np.ndarray, ell: Ellipsoid) -> np.ndarray:
    """Meridian arc length M(φ) via the Krüger power series."""
    return ell.a * (
        ell.m0 * fi_rad
        - ell.m2 * np.sin(2.0 * fi_rad)
        + ell.m4 * np.sin(4.0 * fi_rad)
        - ell.m6 * np.sin(6.0 * fi_rad)
    )


def geo2xy(fi_deg: np.ndarray, la_deg: np.ndarray, proj: Projection):
    """φ,λ [deg] → (northing x, easting y) [m] on ``proj``.

    Returns the Slovenian *reduced* northing (absolute − 5 000 000 m),
    matching the reference's output convention (SURVEY.md §2.1).
    Snyder (1987) eq. 8-9..8-15; sub-mm for |λ−λ0| ≤ 2° (Slovenia).
    """
    ell = proj.ellipsoid
    fi = np.deg2rad(np.asarray(fi_deg, dtype=np.float64))
    dl = np.deg2rad(np.asarray(la_deg, dtype=np.float64) - proj.lon0_deg)

    sf = np.sin(fi)
    cf = np.cos(fi)
    t = sf / cf  # tan via the already-computed pair (one less libm call)
    t2 = t * t
    c = ell.ep2 * cf * cf
    big_a = dl * cf
    a2 = big_a * big_a
    a3 = a2 * big_a
    a4 = a2 * a2
    a5 = a4 * big_a
    a6 = a4 * a2
    n = ell.a / np.sqrt(1.0 - ell.e2 * sf * sf)
    m = meridian_arc(fi, ell)

    easting = proj.false_easting + proj.k0 * n * (
        big_a
        + (1.0 - t2 + c) * a3 / 6.0
        + (5.0 - 18.0 * t2 + t2 * t2 + 72.0 * c - 58.0 * ell.ep2) * a5 / 120.0
    )
    northing_abs = proj.k0 * (
        m
        + n * t * (
            a2 / 2.0
            + (5.0 - t2 + 9.0 * c + 4.0 * c * c) * a4 / 24.0
            + (61.0 - 58.0 * t2 + t2 * t2 + 600.0 * c - 330.0 * ell.ep2) * a6 / 720.0
        )
    )
    x = northing_abs + proj.false_northing  # reduced northing
    return x, easting


# ---------------------------------------------------------------------------
# P2 — inverse TM/GK projection (geo.c → xy2geo)
# ---------------------------------------------------------------------------

def xy2geo(x: np.ndarray, y: np.ndarray, proj: Projection):
    """(reduced northing x, easting y) [m] → φ,λ [deg] on ``proj``.

    Footpoint-latitude series (Snyder 3-26) + inverse series (8-17..8-25).
    """
    ell = proj.ellipsoid
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)

    m = (x - proj.false_northing) / proj.k0
    mu = m / (ell.a * ell.m0)
    fi1 = (
        mu
        + ell.fp2 * np.sin(2.0 * mu)
        + ell.fp4 * np.sin(4.0 * mu)
        + ell.fp6 * np.sin(6.0 * mu)
        + ell.fp8 * np.sin(8.0 * mu)
    )

    sf = np.sin(fi1)
    cf = np.cos(fi1)
    t = sf / cf  # tan via the already-computed pair (one less libm call)
    t2 = t * t
    c1 = ell.ep2 * cf * cf
    w = 1.0 - ell.e2 * sf * sf
    n1 = ell.a / np.sqrt(w)
    r1 = ell.a * (1.0 - ell.e2) / (w * np.sqrt(w))
    d = (y - proj.false_easting) / (n1 * proj.k0)
    d2 = d * d
    d3 = d2 * d
    d4 = d2 * d2
    d5 = d4 * d
    d6 = d4 * d2

    fi = fi1 - (n1 * t / r1) * (
        d2 / 2.0
        - (5.0 + 3.0 * t2 + 10.0 * c1 - 4.0 * c1 * c1 - 9.0 * ell.ep2) * d4 / 24.0
        + (61.0 + 90.0 * t2 + 298.0 * c1 + 45.0 * t2 * t2
           - 252.0 * ell.ep2 - 3.0 * c1 * c1) * d6 / 720.0
    )
    la = np.deg2rad(proj.lon0_deg) + (
        d
        - (1.0 + 2.0 * t2 + c1) * d3 / 6.0
        + (5.0 - 2.0 * c1 + 28.0 * t2 - 3.0 * c1 * c1
           + 8.0 * ell.ep2 + 24.0 * t2 * t2) * d5 / 120.0
    ) / cf
    return np.rad2deg(fi), np.rad2deg(la)


# ---------------------------------------------------------------------------
# P3/P4 — geodetic ↔ ECEF (geo.c → fila2xyz / xyz2fila)
# ---------------------------------------------------------------------------

def fila2xyz(fi_deg, la_deg, h, ell: Ellipsoid):
    fi = np.deg2rad(np.asarray(fi_deg, dtype=np.float64))
    la = np.deg2rad(np.asarray(la_deg, dtype=np.float64))
    h = np.asarray(h, dtype=np.float64)
    sf = np.sin(fi)
    cf = np.cos(fi)
    n = ell.a / np.sqrt(1.0 - ell.e2 * sf * sf)
    x = (n + h) * cf * np.cos(la)
    y = (n + h) * cf * np.sin(la)
    z = (n * (1.0 - ell.e2) + h) * sf
    return x, y, z


def xyz2fila(x, y, z, ell: Ellipsoid):
    """ECEF → geodetic; Bowring seed + FIXED ``XYZ2FILA_ITERS``
    iterations of the classic φ update (vectorized; no convergence
    branch → deterministic under any partitioning)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    z = np.asarray(z, dtype=np.float64)
    la = np.arctan2(y, x)
    p = np.sqrt(x * x + y * y)
    fi = np.arctan2(z, p * (1.0 - ell.e2))  # spherical-ish seed
    for _ in range(XYZ2FILA_ITERS):
        sf = np.sin(fi)
        n = ell.a / np.sqrt(1.0 - ell.e2 * sf * sf)
        fi = np.arctan2(z + ell.e2 * n * sf, p)
    sf = np.sin(fi)
    n = ell.a / np.sqrt(1.0 - ell.e2 * sf * sf)
    h = p / np.cos(fi) - n
    return np.rad2deg(fi), np.rad2deg(la), h


# ---------------------------------------------------------------------------
# P5 — 7-parameter Helmert (geo.c → Helmert apply + slo7params)
# ---------------------------------------------------------------------------

def _helmert_matrix(p: Helmert7) -> np.ndarray:
    rx = p.rx_sec * ARCSEC_TO_RAD
    ry = p.ry_sec * ARCSEC_TO_RAD
    rz = p.rz_sec * ARCSEC_TO_RAD
    scale = 1.0 + p.s_ppm * 1.0e-6
    r = np.array(
        [[1.0, -rz, ry],
         [rz, 1.0, -rx],
         [-ry, rx, 1.0]],
        dtype=np.float64,
    )
    return scale * r


_HELMERT_M = _helmert_matrix(SLO_D48_TO_ETRS89)
_HELMERT_M_INV = np.linalg.inv(_HELMERT_M)  # exact inverse (see constants.py note)
_HELMERT_T = np.array(
    [SLO_D48_TO_ETRS89.tx, SLO_D48_TO_ETRS89.ty, SLO_D48_TO_ETRS89.tz],
    dtype=np.float64,
)


# The 3×3 application is written as explicit elementwise arithmetic,
# NOT a BLAS matmul: inside 32 parallel Arrow workers a threaded BLAS
# would oversubscribe (workers × BLAS threads), and for a constant 3×3
# the elementwise form is faster and bit-stable anyway.

def helmert_d48_to_etrs89(x, y, z):
    x = np.asarray(x, np.float64)
    y = np.asarray(y, np.float64)
    z = np.asarray(z, np.float64)
    m = _HELMERT_M
    t = _HELMERT_T
    return (m[0, 0] * x + m[0, 1] * y + m[0, 2] * z + t[0],
            m[1, 0] * x + m[1, 1] * y + m[1, 2] * z + t[1],
            m[2, 0] * x + m[2, 1] * y + m[2, 2] * z + t[2])


def helmert_etrs89_to_d48(x, y, z):
    dx = np.asarray(x, np.float64) - _HELMERT_T[0]
    dy = np.asarray(y, np.float64) - _HELMERT_T[1]
    dz = np.asarray(z, np.float64) - _HELMERT_T[2]
    m = _HELMERT_M_INV
    return (m[0, 0] * dx + m[0, 1] * dy + m[0, 2] * dz,
            m[1, 0] * dx + m[1, 1] * dy + m[1, 2] * dz,
            m[2, 0] * dx + m[2, 1] * dy + m[2, 2] * dz)


# ---------------------------------------------------------------------------
# Northing normalizer (gk-slo.c input normalize — SURVEY.md §3.1 S3)
# ---------------------------------------------------------------------------

def normalize_northing(x) -> np.ndarray:
    x = np.asarray(x, dtype=np.float64)
    return np.where(x > NORTHING_ABS_THRESHOLD, x - NORTHING_OFFSET, x)


# ---------------------------------------------------------------------------
# Composite chains t1–t6 (geo.c → tmxy2fila_wgs … tmxy2gkxy;
# SURVEY.md §3.3).  Height handling: chains below transform the
# ellipsoidal/physical height per the reference's default mode for each
# t (README defaults — SURVEY.md §3.4 A6); geoid correction is layered
# on by callers via gcs.geoid when height_mode='hg'.
# Each chain is ONE fused NumPy pipeline → ONE Arrow crossing when
# wrapped as an Arrow UDF (SURVEY.md §4.4 design rule).
# ---------------------------------------------------------------------------

def tm_to_wgs84(x, y, h):
    """t=1 tmxy2fila_wgs: D96/TM x,y → ETRS89/WGS84 φ,λ (GRS80 inverse
    projection; D96 is already ETRS89-datum so no Helmert)."""
    fi, la = xy2geo(normalize_northing(x), y, D96_TM)
    return fi, la, np.asarray(h, np.float64)


def wgs84_to_tm(fi, la, h):
    """t=2 fila_wgs2tmxy."""
    x, y = geo2xy(fi, la, D96_TM)
    return x, y, np.asarray(h, np.float64)


def gk_to_wgs84(x, y, h):
    """t=3 gkxy2fila_wgs — THE flagship kernel (BASELINE.json metric):
    D48/GK →(P2 Bessel)→ φλ D48 →(P3)→ ECEF →(P5 Helmert)→ ECEF
    →(P4 GRS80)→ φλ ETRS89, Helmert-transformed height (-ht default)."""
    fi48, la48 = xy2geo(normalize_northing(x), y, D48_GK)
    ex, ey, ez = fila2xyz(fi48, la48, h, D48_GK.ellipsoid)
    ex, ey, ez = helmert_d48_to_etrs89(ex, ey, ez)
    return xyz2fila(ex, ey, ez, D96_TM.ellipsoid)


def wgs84_to_gk(fi, la, h):
    """t=4 fila_wgs2gkxy — exact inverse chain of t=3."""
    ex, ey, ez = fila2xyz(fi, la, h, D96_TM.ellipsoid)
    ex, ey, ez = helmert_etrs89_to_d48(ex, ey, ez)
    fi48, la48, h48 = xyz2fila(ex, ey, ez, D48_GK.ellipsoid)
    x, y = geo2xy(fi48, la48, D48_GK)
    return x, y, h48


def gk_to_tm(x, y, h):
    """t=5 gkxy2tmxy = t3 ∘ t2 (Helmert path)."""
    fi, la, hh = gk_to_wgs84(x, y, h)
    return wgs84_to_tm(fi, la, hh)


def tm_to_gk(x, y, h):
    """t=6 tmxy2gkxy = t1 ∘ t4 (Helmert path)."""
    fi, la, hh = tm_to_wgs84(x, y, h)
    return wgs84_to_gk(fi, la, hh)
