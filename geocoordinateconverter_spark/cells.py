"""Deterministic hierarchical grid-cell index ("slocell") — the H3/S2
stand-in mandated by BASELINE.json north_rule ([NORTH-RULE], SURVEY.md
§3.6 "H3/S2 cell encode").

No ``h3`` wheel exists in this environment, so per SURVEY.md §3.6 the
cell encode is a custom deterministic kernel.  Design goals, in order:

1. **Catalyst-native** — encoding is pure arithmetic (floor/scale/pack),
   so the Spark side is built-in ``Column`` expressions inside
   whole-stage codegen, NOT a UDF.  The hot path never leaves the JVM.
2. **Oracle-mirrorable** — the identical arithmetic is emitted as ANSI
   SQL text for the DuckDB oracle, giving bit-identical cell ids.
3. **Hierarchical** — parent/child by resolution, like H3: res r has
   ``BASE_N · 2^r`` cells per axis over the Slovenian bbox; parent =
   (ix >> 1, iy >> 1) at r−1.

Cell id layout (non-negative int64):  ``res·2^56 + ix·2^28 + iy``.

At 100 TB scale this matters: cell encode is applied to every document,
and keeping it in codegen (vs a Python UDF) removes the dominant
serialization cost; the id is also the shuffle/partition key for tile
aggregation, so a single flat int64 beats a struct key.
"""

from __future__ import annotations

import numpy as np

from .constants import BBOX_FI_MAX, BBOX_FI_MIN, BBOX_LA_MAX, BBOX_LA_MIN

BASE_N = 8          # cells per axis at resolution 0
RES_SHIFT = 56
IX_SHIFT = 28
DEFAULT_RES = 7     # ~ (1.75/1024)° ≈ 190 m N-S — comparable to H3 res 8

FI_SPAN = BBOX_FI_MAX - BBOX_FI_MIN
LA_SPAN = BBOX_LA_MAX - BBOX_LA_MIN


def n_cells(res: int) -> int:
    return BASE_N * (1 << res)


# ---------------------------------------------------------------------------
# NumPy kernel (used inside Arrow-UDF chains when fused with geodesy)
# ---------------------------------------------------------------------------

def encode(fi: np.ndarray, la: np.ndarray, res: int = DEFAULT_RES) -> np.ndarray:
    n = n_cells(res)
    ix = np.floor((np.asarray(la, np.float64) - BBOX_LA_MIN) / LA_SPAN * n)
    iy = np.floor((np.asarray(fi, np.float64) - BBOX_FI_MIN) / FI_SPAN * n)
    ix = np.clip(ix, 0, n - 1).astype(np.int64)
    iy = np.clip(iy, 0, n - 1).astype(np.int64)
    return (np.int64(res) << RES_SHIFT) + (ix << IX_SHIFT) + iy


def decode(cell: np.ndarray):
    cell = np.asarray(cell, np.int64)
    res = cell >> RES_SHIFT
    ix = (cell >> IX_SHIFT) & ((1 << RES_SHIFT - IX_SHIFT) - 1)
    iy = cell & ((1 << IX_SHIFT) - 1)
    return res, ix, iy


def cell_center(cell: np.ndarray):
    res, ix, iy = decode(cell)
    n = (BASE_N * (2 ** res.astype(np.float64))) if isinstance(res, np.ndarray) \
        else float(n_cells(int(res)))
    la = BBOX_LA_MIN + (ix + 0.5) / n * LA_SPAN
    fi = BBOX_FI_MIN + (iy + 0.5) / n * FI_SPAN
    return fi, la


def parent(cell: np.ndarray) -> np.ndarray:
    res, ix, iy = decode(cell)
    return ((res - 1) << RES_SHIFT) + ((ix >> 1) << IX_SHIFT) + (iy >> 1)


def cover_bbox(la_min: float, fi_min: float, la_max: float, fi_max: float,
               res: int = DEFAULT_RES) -> np.ndarray:
    """All res-``res`` cells intersecting a lon/lat bbox — used to build
    polygon cover-cell sets for the PIP broadcast prefilter."""
    n = n_cells(res)
    ix0 = int(np.clip(np.floor((la_min - BBOX_LA_MIN) / LA_SPAN * n), 0, n - 1))
    ix1 = int(np.clip(np.floor((la_max - BBOX_LA_MIN) / LA_SPAN * n), 0, n - 1))
    iy0 = int(np.clip(np.floor((fi_min - BBOX_FI_MIN) / FI_SPAN * n), 0, n - 1))
    iy1 = int(np.clip(np.floor((fi_max - BBOX_FI_MIN) / FI_SPAN * n), 0, n - 1))
    cells = [
        (res << RES_SHIFT) + (jx << IX_SHIFT) + jy
        for jx in range(ix0, ix1 + 1)
        for jy in range(iy0, iy1 + 1)
    ]
    return np.asarray(cells, np.int64)


# ---------------------------------------------------------------------------
# SQL text generation — the SAME arithmetic for Spark SQL and DuckDB.
# Both engines parse this as float64 ops on identical inputs → identical
# int64 cell ids (floor-boundary flips require ~1e-12° disagreement on
# ~0.002° cells: negligible, and zero for integer-derived fixtures).
# ---------------------------------------------------------------------------

def encode_sql(fi_expr: str, la_expr: str, res: int = DEFAULT_RES) -> str:
    n = n_cells(res)
    ix = (f"least({n - 1}, greatest(0, cast(floor((({la_expr}) - {BBOX_LA_MIN!r}) "
          f"/ {LA_SPAN!r} * {n}) as bigint)))")
    iy = (f"least({n - 1}, greatest(0, cast(floor((({fi_expr}) - {BBOX_FI_MIN!r}) "
          f"/ {FI_SPAN!r} * {n}) as bigint)))")
    return (f"(cast({res} as bigint) * {1 << RES_SHIFT} + {ix} * {1 << IX_SHIFT} + {iy})")
