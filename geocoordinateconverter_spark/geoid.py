"""Geoid-undulation raster + bilinear sampling (SURVEY.md §3.4 A4/A5).

Reimplements the reference's ``geoid_height(fi, la, grid)`` — bilinear
interpolation of the 4 surrounding raster nodes (geo.c → geoid_height;
grids compiled into ``geoid_slo.h`` / ``geoid_egm.h``).

``/root/reference`` was EMPTY at build time (SURVEY.md §0), so per
FIXTURES.md §6 the two grids here are **synthetic deterministic
stand-ins** with the real grids' shape and semantics: a smooth seeded
surface in the 45–48 m range typical of the Slovenian geoid.  The
kernel, grid layout, and out-of-range rule are the real engine; golden
values activate the first time the real headers are readable
(SURVEY.md §0 action item).

Out-of-grid behavior: undulation 0.0 (no error), matching the survey's
reading of the reference  [UNVERIFIED — geo.c → geoid_height
out-of-range branch; re-check on first populated checkout].
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .constants import BBOX_FI_MAX, BBOX_FI_MIN, BBOX_LA_MAX, BBOX_LA_MIN


@dataclass(frozen=True)
class GeoidGrid:
    name: str
    lat0: float
    lon0: float
    dlat: float
    dlon: float
    n: np.ndarray  # (nrows, ncols) float64 undulation [m]

    @property
    def nrows(self) -> int:
        return self.n.shape[0]

    @property
    def ncols(self) -> int:
        return self.n.shape[1]


def _synthetic_grid(name: str, nrows: int, ncols: int,
                    amp1: float, amp2: float, base: float) -> GeoidGrid:
    """Deterministic smooth surface (FIXTURES.md §6): no RNG at all, so
    every executor materializes bit-identical tables at import."""
    lat = BBOX_FI_MIN + (BBOX_FI_MAX - BBOX_FI_MIN) * np.arange(nrows, dtype=np.float64) / (nrows - 1)
    lon = BBOX_LA_MIN + (BBOX_LA_MAX - BBOX_LA_MIN) * np.arange(ncols, dtype=np.float64) / (ncols - 1)
    lat2 = lat[:, None]
    lon2 = lon[None, :]
    n = (base
         + amp1 * np.sin(3.0 * (lat2 - BBOX_FI_MIN))
         + amp2 * np.cos(2.5 * (lon2 - BBOX_LA_MIN))
         + 0.15 * np.sin(7.0 * (lat2 - BBOX_FI_MIN)) * np.cos(5.0 * (lon2 - BBOX_LA_MIN)))
    return GeoidGrid(
        name=name,
        lat0=BBOX_FI_MIN,
        lon0=BBOX_LA_MIN,
        dlat=(BBOX_FI_MAX - BBOX_FI_MIN) / (nrows - 1),
        dlon=(BBOX_LA_MAX - BBOX_LA_MIN) / (ncols - 1),
        n=n,
    )


# Single source of truth for the synthetic-surface parameters — the
# SQL oracle generator (functions/sqlgen.geoid_sql) reads THIS table,
# so engine and oracle cannot silently desynchronize (r4 review).
GRID_PARAMS = {"slo": (2.1, 1.7, 46.5), "egm": (1.6, 2.3, 46.1)}

# Arc-minute-scale resolution like the real SLO-AMG2000 grid
GEOID_SLO = _synthetic_grid("slo", 106, 211, *GRID_PARAMS["slo"])
GEOID_EGM = _synthetic_grid("egm", 71, 141, *GRID_PARAMS["egm"])

GRIDS = {"slo": GEOID_SLO, "egm": GEOID_EGM}


def geoid_height(fi, la, model: str = "slo") -> np.ndarray:
    """Vectorized bilinear undulation N(φ,λ); out-of-grid → 0.0."""
    g = GRIDS[model]
    fi = np.asarray(fi, np.float64)
    la = np.asarray(la, np.float64)
    rf = (fi - g.lat0) / g.dlat
    cf = (la - g.lon0) / g.dlon
    inside = (rf >= 0) & (cf >= 0) & (rf <= g.nrows - 1) & (cf <= g.ncols - 1)
    # NaN (a NULL point) → node 0 before the int64 cast; masked to 0.0
    rf_c = np.clip(np.nan_to_num(rf, nan=0.0), 0.0, g.nrows - 1.0)
    cf_c = np.clip(np.nan_to_num(cf, nan=0.0), 0.0, g.ncols - 1.0)
    r0 = np.minimum(np.floor(rf_c).astype(np.int64), g.nrows - 2)
    c0 = np.minimum(np.floor(cf_c).astype(np.int64), g.ncols - 2)
    tr = rf_c - r0
    tc = cf_c - c0
    n00 = g.n[r0, c0]
    n01 = g.n[r0, c0 + 1]
    n10 = g.n[r0 + 1, c0]
    n11 = g.n[r0 + 1, c0 + 1]
    val = (n00 * (1.0 - tr) * (1.0 - tc)
           + n01 * (1.0 - tr) * tc
           + n10 * tr * (1.0 - tc)
           + n11 * tr * tc)
    return np.where(inside, val, 0.0)
