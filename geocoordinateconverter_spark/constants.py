"""Constant tables of the geodesy engine.

Reimplements (from public geodesy knowledge + SURVEY.md §2.1) the
compiled-in constant tables of the reference
``mrihtar/GeoCoordinateConverter`` (``geo.h`` / ``geo.c`` ellipsoid and
projection init — cite: geo.c → ellipsoid/projection init, SURVEY.md
§2.1 item 2).  ``/root/reference`` was EMPTY at build time (SURVEY.md
§0), so every numeric constant here is the standard published geodesy
value the reference also uses; items that could not be cross-checked
against a checkout are tagged [UNVERIFIED] and must be re-anchored the
first time the reference materializes.

All values are Python floats (IEEE-754 binary64) — the reference
computes in C ``double`` and bit-compatibility requires float64
end-to-end (SURVEY.md §2.1 closing note).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# Ellipsoids (geo.c → ellipsoid table; standard published values)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Ellipsoid:
    """Reference ellipsoid with derived constants precomputed once at
    import — the Spark-side equivalent of the reference's init-time
    constant folding (SURVEY.md §5.1 row 1)."""

    name: str
    a: float          # semi-major axis [m]
    f_inv: float      # inverse flattening

    # derived (filled in __post_init__)
    f: float = field(init=False)
    b: float = field(init=False)
    e2: float = field(init=False)   # first eccentricity squared
    ep2: float = field(init=False)  # second eccentricity squared
    # meridian-arc series coefficients (Snyder/Krüger power series)
    m0: float = field(init=False)
    m2: float = field(init=False)
    m4: float = field(init=False)
    m6: float = field(init=False)
    # footpoint-latitude (rectifying→geodetic) series coefficients
    e1: float = field(init=False)
    fp2: float = field(init=False)
    fp4: float = field(init=False)
    fp6: float = field(init=False)
    fp8: float = field(init=False)

    def __post_init__(self) -> None:
        f = 1.0 / self.f_inv
        e2 = f * (2.0 - f)
        e4 = e2 * e2
        e6 = e4 * e2
        object.__setattr__(self, "f", f)
        object.__setattr__(self, "b", self.a * (1.0 - f))
        object.__setattr__(self, "e2", e2)
        object.__setattr__(self, "ep2", e2 / (1.0 - e2))
        # meridian arc M(phi) = a*(m0*phi - m2*sin 2phi + m4*sin 4phi - m6*sin 6phi)
        object.__setattr__(self, "m0", 1.0 - e2 / 4.0 - 3.0 * e4 / 64.0 - 5.0 * e6 / 256.0)
        object.__setattr__(self, "m2", 3.0 * e2 / 8.0 + 3.0 * e4 / 32.0 + 45.0 * e6 / 1024.0)
        object.__setattr__(self, "m4", 15.0 * e4 / 256.0 + 45.0 * e6 / 1024.0)
        object.__setattr__(self, "m6", 35.0 * e6 / 3072.0)
        # footpoint latitude series (Snyder 3-26)
        se = math.sqrt(1.0 - e2)
        e1 = (1.0 - se) / (1.0 + se)
        e1_2 = e1 * e1
        e1_3 = e1_2 * e1
        e1_4 = e1_2 * e1_2
        object.__setattr__(self, "e1", e1)
        object.__setattr__(self, "fp2", 3.0 * e1 / 2.0 - 27.0 * e1_3 / 32.0)
        object.__setattr__(self, "fp4", 21.0 * e1_2 / 16.0 - 55.0 * e1_4 / 32.0)
        object.__setattr__(self, "fp6", 151.0 * e1_3 / 96.0)
        object.__setattr__(self, "fp8", 1097.0 * e1_4 / 512.0)


BESSEL_1841 = Ellipsoid("bessel", a=6377397.155, f_inv=299.1528128)
GRS80 = Ellipsoid("grs80", a=6378137.0, f_inv=298.257222101)
WGS84 = Ellipsoid("wgs84", a=6378137.0, f_inv=298.257223563)


# ---------------------------------------------------------------------------
# Projections (geo.c → projection parameter sets; SURVEY.md §2.1 item 2)
# D48/GK (Gauss-Krüger on Bessel) and D96/TM (Transverse Mercator on
# GRS80) share the Slovenian parameter set: central meridian 15°E,
# k0 = 0.9999, false easting 500 000 m, and the national "reduced"
# northing convention (absolute northing − 5 000 000 m).
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Projection:
    name: str
    ellipsoid: Ellipsoid
    lon0_deg: float = 15.0
    k0: float = 0.9999
    false_easting: float = 500000.0
    false_northing: float = -5000000.0  # applied to ABSOLUTE northing → reduced


D48_GK = Projection("d48gk", BESSEL_1841)
D96_TM = Projection("d96tm", GRS80)

# Threshold above which an input northing is treated as "absolute"
# (5,xxx,xxx m) and reduced by 5 000 000 m — reimplementation of the
# reference's leading-"5" auto-detect (gk-slo.c input normalization,
# SURVEY.md §3.1 S3).  [UNVERIFIED exact threshold in reference]
NORTHING_ABS_THRESHOLD = 1.0e6
NORTHING_OFFSET = 5.0e6


# ---------------------------------------------------------------------------
# 7-parameter Helmert datum shift D48 ↔ ETRS89 (geo.c → country-wide
# best-fit parameter set; SURVEY.md §2.1 item 2, §3.2 P5).
#
# [UNVERIFIED — /root/reference was empty; these are the published
# Slovenia country-wide best-fit parameters (GURS national set, widely
# reproduced in Slovenian geodesy literature).  Re-anchor against
# geo.c → slo7params on first populated checkout; pytest goldens for the
# exact digits activate then (SURVEY.md §0, FIXTURES.md §2).]
#
# Convention: coordinate-frame rotation, position-vector style applied as
#   X_etrs = T + (1 + s·1e-6) · R(rx,ry,rz) · X_d48
# with rotations in arc-seconds.  The INVERSE direction uses the exact
# algebraic inverse (matrix inverse + subtract), NOT sign-flipped
# parameters, so that round-trips close at float64 epsilon — a
# deliberate, documented deviation recorded per SURVEY.md §5.1 (the
# reference's sign-flip inverse leaves O(rot²) mm-level closure error).
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Helmert7:
    name: str
    tx: float  # m
    ty: float  # m
    tz: float  # m
    rx_sec: float  # arc-seconds
    ry_sec: float
    rz_sec: float
    s_ppm: float   # parts-per-million


SLO_D48_TO_ETRS89 = Helmert7(
    name="slovenia_countrywide",
    tx=409.545,
    ty=72.164,
    tz=486.872,
    rx_sec=3.085957,
    ry_sec=5.469110,
    rz_sec=-11.020289,
    s_ppm=17.919665,
)


# ---------------------------------------------------------------------------
# Working area (FIXTURES.md header): the Slovenian bounding box used by
# the reference's grids and by every synthetic fixture in this repo.
# ---------------------------------------------------------------------------

BBOX_FI_MIN = 45.25
BBOX_FI_MAX = 47.00
BBOX_LA_MIN = 13.25
BBOX_LA_MAX = 16.75

# Deterministic multiplicative mixers used by fixture synthesis (Knuth,
# 2^32·phi) — shared between Spark queries and DuckDB oracle SQL so both
# engines derive bit-identical synthetic coordinates from integer keys.
MIX_A = 2654435761
MIX_B = 1597334677
MIX_MOD = 1000000
