"""Triangle-mesh affine transformation (AFT) — SURVEY.md §3.4 A1–A3.

Reimplements the reference's high-accuracy "trikotniška transformacija"
(geo.c → xy2xy_aft + point-in-triangle test; directed triangle tables
``aft_gktm.h`` / ``aft_tmgk.h``): locate the triangle containing a
point in a Delaunay-style mesh of tie points, then apply that
triangle's 6-coefficient affine map.

``/root/reference`` was EMPTY at build time (SURVEY.md §0), so per
FIXTURES.md §6 the tables here are **synthetic deterministic
stand-ins** with the real tables' shape (~899 directed triangles over
the Slovenian GK plane): a regular 22×22 tie-point grid split into
2·21·21 = 882 triangles, destination vertices = Helmert-path chain
(t=5) plus a smooth ~0.3 m sinusoidal residual field mimicking real
D48 distortions.  Affine coefficients are solved exactly from the 3
vertex pairs, so the FIXTURES.md §6 consistency invariant (affine maps
source vertices to dest vertices) holds to float64 epsilon by
construction.  Real tables drop in unchanged once the reference
materializes.

Scale/determinism notes (SURVEY.md §5.1/§5.2):

* Candidate pruning via a uniform bucket grid over triangle bboxes,
  built once at import (replaces the reference's last-hit cache A3 —
  perf-semantics-neutral under batch vectorization).
* **First-match-in-table-order** tie resolution on boundary points,
  replicating the reference's linear-scan semantics so outputs are
  bit-identical run-to-run and partition-layout-independent.
* Containment epsilon: barycentric coordinates ≥ −1e-12 (relative)
  [UNVERIFIED vs geo.c → coord_in_triangle epsilon; re-anchor on first
  populated checkout].
* Points outside the mesh hull → NaN outputs (callers filter); the
  synthetic mesh covers the full FIXTURES.md GK bbox so in-area data
  never hits this.
"""

from __future__ import annotations

import numpy as np

from . import geodesy

EPS_BARY = 1e-12

# Tie-point grid over the FIXTURES.md GK working area (reduced northing)
_X_MIN, _X_MAX = 10000.0, 210000.0
_Y_MIN, _Y_MAX = 360000.0, 640000.0
_GRID_N = 22  # 22×22 tie points → 882 triangles ≈ reference's ~899


def _residual(x: np.ndarray, y: np.ndarray):
    """Smooth deterministic pseudo-distortion field (~±0.3 m)."""
    u = (x - _X_MIN) / (_X_MAX - _X_MIN)
    v = (y - _Y_MIN) / (_Y_MAX - _Y_MIN)
    dx = 0.30 * np.sin(4.1 * u + 1.3) * np.cos(3.7 * v)
    dy = 0.27 * np.cos(3.3 * u) * np.sin(4.9 * v + 0.7)
    return dx, dy


def _build_tables():
    xs = np.linspace(_X_MIN, _X_MAX, _GRID_N)
    ys = np.linspace(_Y_MIN, _Y_MAX, _GRID_N)
    gx, gy = np.meshgrid(xs, ys, indexing="ij")
    src = np.stack([gx.ravel(), gy.ravel()], axis=1)  # (n², 2) GK plane

    # destination = Helmert-path t=5 chain + residual (both float64)
    tx, ty, _ = geodesy.gk_to_tm(src[:, 0], src[:, 1], np.zeros(len(src)))
    rx, ry = _residual(src[:, 0], src[:, 1])
    dst = np.stack([tx + rx, ty + ry], axis=1)  # TM plane

    # regular-grid triangulation: each quad → 2 triangles, fixed order
    tris = []
    for i in range(_GRID_N - 1):
        for j in range(_GRID_N - 1):
            p00 = i * _GRID_N + j
            p01 = i * _GRID_N + j + 1
            p10 = (i + 1) * _GRID_N + j
            p11 = (i + 1) * _GRID_N + j + 1
            tris.append((p00, p10, p11))
            tris.append((p00, p11, p01))
    tris = np.asarray(tris, np.int64)
    return src, dst, tris


def _affine_from_pairs(s: np.ndarray, d: np.ndarray) -> np.ndarray:
    """Solve per-triangle affine [a b c; d e f] with
    dx = a·sx + b·sy + c, dy = d·sx + e·sy + f.  s,d: (ntri, 3, 2).

    Closed-form Cramer solve (r5, replacing ``np.linalg.solve``): the
    elementwise expression sequence below is replicated verbatim by
    ``sqlgen.aft_values_sql`` so the DuckDB oracle derives the SAME
    float64 coefficients arithmetically instead of embedding 882 rows
    of literals (the 230 KB statements that pinned the driver's shared
    connection pool in r4).  LU (LAPACK) and Cramer differ by ulps;
    both satisfy the FIXTURES.md §6 vertex-consistency invariant, and
    Spark + oracle move together so parity is unaffected."""
    x1, y1 = s[:, 0, 0], s[:, 0, 1]
    x2, y2 = s[:, 1, 0], s[:, 1, 1]
    x3, y3 = s[:, 2, 0], s[:, 2, 1]
    u1, v1 = d[:, 0, 0], d[:, 0, 1]
    u2, v2 = d[:, 1, 0], d[:, 1, 1]
    u3, v3 = d[:, 2, 0], d[:, 2, 1]
    det = (x2 - x1) * (y3 - y1) - (x3 - x1) * (y2 - y1)
    ca = ((u2 - u1) * (y3 - y1) - (u3 - u1) * (y2 - y1)) / det
    cb = ((x2 - x1) * (u3 - u1) - (x3 - x1) * (u2 - u1)) / det
    cc = u1 - ca * x1 - cb * y1
    cd = ((v2 - v1) * (y3 - y1) - (v3 - v1) * (y2 - y1)) / det
    ce = ((x2 - x1) * (v3 - v1) - (x3 - x1) * (v2 - v1)) / det
    cf = v1 - cd * x1 - ce * y1
    return np.stack([ca, cb, cc, cd, ce, cf], axis=1)  # (ntri, 6)


class AftTable:
    """One directed AFT table with bucket-grid candidate pruning."""

    def __init__(self, verts_src: np.ndarray, verts_dst: np.ndarray,
                 tris: np.ndarray, nbuckets: int = 64):
        self.tri_src = verts_src[tris]            # (ntri, 3, 2)
        self.tri_dst = verts_dst[tris]
        self.coef = _affine_from_pairs(self.tri_src, self.tri_dst)
        self.nb = nbuckets
        self.x0 = float(verts_src[:, 0].min())
        self.x1 = float(verts_src[:, 0].max())
        self.y0 = float(verts_src[:, 1].min())
        self.y1 = float(verts_src[:, 1].max())

        # bucket grid → padded candidate matrix (bucket, max_c)
        bx0 = self._bx(self.tri_src[:, :, 0].min(axis=1))
        bx1 = self._bx(self.tri_src[:, :, 0].max(axis=1))
        by0 = self._by(self.tri_src[:, :, 1].min(axis=1))
        by1 = self._by(self.tri_src[:, :, 1].max(axis=1))
        buckets: list[list[int]] = [[] for _ in range(nbuckets * nbuckets)]
        for t in range(len(self.coef)):
            for ix in range(bx0[t], bx1[t] + 1):
                for iy in range(by0[t], by1[t] + 1):
                    buckets[ix * nbuckets + iy].append(t)
        max_c = max(len(b) for b in buckets)
        cand = np.full((nbuckets * nbuckets, max_c), -1, np.int64)
        for i, b in enumerate(buckets):
            cand[i, : len(b)] = sorted(b)  # table order → first-match determinism
        self.cand = cand

    def _bucket(self, u):
        """Bucket index of the grid coordinate ``u`` (in bucket units):
        clipped to the grid before the int64 cast, NaN to bucket 0, so a
        NULL/NaN point casts cleanly and still locates to −1."""
        return np.clip(np.nan_to_num(u, nan=0.0), 0,
                       self.nb - 1).astype(np.int64)

    def _bx(self, x):
        return self._bucket((np.asarray(x) - self.x0) / (self.x1 - self.x0)
                            * self.nb)

    def _by(self, y):
        return self._bucket((np.asarray(y) - self.y0) / (self.y1 - self.y0)
                            * self.nb)

    def locate(self, x: np.ndarray, y: np.ndarray) -> np.ndarray:
        """Triangle index per point (first match in table order), −1 if
        none.  Fully vectorized: (npts, max_c) barycentric batch."""
        x = np.asarray(x, np.float64)
        y = np.asarray(y, np.float64)
        cand = self.cand[self._bx(x) * self.nb + self._by(y)]  # (npts, max_c)
        valid = cand >= 0
        c = np.where(valid, cand, 0)
        v0 = self.tri_src[c, 0]  # (npts, max_c, 2)
        v1 = self.tri_src[c, 1]
        v2 = self.tri_src[c, 2]
        d00 = v1[..., 0] - v0[..., 0]
        d01 = v1[..., 1] - v0[..., 1]
        d10 = v2[..., 0] - v0[..., 0]
        d11 = v2[..., 1] - v0[..., 1]
        px = x[:, None] - v0[..., 0]
        py = y[:, None] - v0[..., 1]
        den = d00 * d11 - d01 * d10
        l1 = (px * d11 - py * d10) / den
        l2 = (py * d00 - px * d01) / den
        inside = valid & (l1 >= -EPS_BARY) & (l2 >= -EPS_BARY) & (l1 + l2 <= 1.0 + EPS_BARY)
        first = inside.argmax(axis=1)                      # first candidate in table order
        found = inside.any(axis=1)
        tri = cand[np.arange(len(x)), first]
        return np.where(found, tri, -1)

    def transform(self, x: np.ndarray, y: np.ndarray):
        """Apply the containing triangle's affine map; NaN outside."""
        tri = self.locate(x, y)
        ok = tri >= 0
        t = np.where(ok, tri, 0)
        cf = self.coef[t]
        ox = cf[:, 0] * x + cf[:, 1] * y + cf[:, 2]
        oy = cf[:, 3] * x + cf[:, 4] * y + cf[:, 5]
        nan = np.float64(np.nan)
        return np.where(ok, ox, nan), np.where(ok, oy, nan), tri


def _build():
    src, dst, tris = _build_tables()
    fwd = AftTable(src, dst, tris)           # gk → tm  (aft_gktm.h analogue)
    rev = AftTable(dst, src, tris)           # tm → gk  (aft_tmgk.h analogue)
    return fwd, rev


AFT_GK_TM, AFT_TM_GK = _build()

# TRUE while the tables above are the synthetic regular-grid stand-ins.
# sqlgen.aft_values_sql keys on this: synthetic tables are derived
# arithmetically in SQL (generate_series + Cramer — tiny statements),
# but the real aft_gktm.h/aft_tmgk.h tables are an IRREGULAR Delaunay
# mesh no generate_series can reproduce, so the oracle must fall back
# to literal serialization of whatever AFT_GK_TM/AFT_TM_GK hold.
# tools/reanchor.py MUST flip this to False when swapping in the real
# tables (r5 review: without the flag, a real-table swap would leave
# the oracle silently regenerating the synthetic grid).
TABLES_SYNTHETIC = True


# --- composite chains t7–t10 (geo.c dispatch — SURVEY.md §3.3) -------------

def gk_to_wgs84_aft(x, y, h):
    """t=7 gkxy2fila_wgs_aft: AFT gk→tm, then GRS80 inverse projection;
    height copied (-hc default)."""
    nx = geodesy.normalize_northing(x)
    tx, ty, _ = AFT_GK_TM.transform(nx, np.asarray(y, np.float64))
    fi, la = geodesy.xy2geo(tx, ty, geodesy.D96_TM)
    return fi, la, np.asarray(h, np.float64)


def wgs84_to_gk_aft(fi, la, h):
    """t=8 fila_wgs2gkxy_aft."""
    tx, ty = geodesy.geo2xy(fi, la, geodesy.D96_TM)
    gx, gy, _ = AFT_TM_GK.transform(tx, ty)
    return gx, gy, np.asarray(h, np.float64)


def gk_to_tm_aft(x, y, h):
    """t=9 gkxy2tmxy_aft — the cm-accurate official-style transform."""
    nx = geodesy.normalize_northing(x)
    tx, ty, _ = AFT_GK_TM.transform(nx, np.asarray(y, np.float64))
    return tx, ty, np.asarray(h, np.float64)


def tm_to_gk_aft(x, y, h):
    """t=10 tmxy2gkxy_aft."""
    gx, gy, _ = AFT_TM_GK.transform(np.asarray(x, np.float64),
                                    np.asarray(y, np.float64))
    return gx, gy, np.asarray(h, np.float64)
