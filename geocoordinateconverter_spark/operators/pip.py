"""Point-in-polygon join — [NORTH-RULE] (SURVEY.md §3.6, §5.2 item 3).

Two-phase plan, designed for the 100 TB point side:

1. **Prefilter** — points get a grid-cell id (Catalyst arithmetic,
   cells.encode_sql) and equi-join against a tiny broadcast table of
   polygon *cover cells* (every cell intersecting a polygon's bbox).
   Expressing PIP as a broadcast **equi**-join lets Catalyst pick
   BroadcastHashJoin — no shuffle of the big side, no
   BroadcastNestedLoopJoin.
2. **Exact refine** — a second tiny broadcast join on ``mun_id`` brings
   each candidate its polygon's vertex columns; an even-odd ray cast in
   SQL keeps the points inside, in the NumPy operation order, so it is
   bit-identical to a NumPy cast.  Both joins and the refine run in one
   whole-stage codegen stage, with no Python worker.  Handles concave
   polygons; boundary rule is the classic half-open crossing test.

The municipality fixture (FIXTURES.md §4) is a deterministic set of
convex octagons around mixed centroids (212 at bench scale to match the
real Slovenian municipality count; 20 at test scale).  Synthesis is
pure arithmetic on ``mun_id`` so :func:`municipalities_sql` rebuilds it
bit-identically inside DuckDB, and :func:`pip_oracle_condition`
generates the convex half-plane containment test the oracle uses
(engine ray-cast ≡ half-plane test on convex polygons).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cells
from ..constants import BBOX_FI_MAX, BBOX_FI_MIN, BBOX_LA_MAX, BBOX_LA_MIN
from ..functions.sqlgen import f as _f

N_VERTS = 8
PIP_CELL_RES = 6  # prefilter resolution (~0.0068° ≈ 500–750 m cells)
VERT_COLS = [f"v{v}{a}" for v in range(N_VERTS) for a in "xy"]


# ---------------------------------------------------------------------------
# Fixture synthesis (deterministic, no RNG — identical on every
# executor and inside DuckDB)
# ---------------------------------------------------------------------------

def _mix01(i: int, mult: int) -> float:
    return ((i * mult) % 1000000) / 1000000.0


def municipality_polygons(n_mun: int = 20) -> np.ndarray:
    """(n_mun, N_VERTS, 2) lon/lat vertex array, CCW convex octagons."""
    out = np.empty((n_mun, N_VERTS, 2), dtype=np.float64)
    for i in range(n_mun):
        cx = BBOX_LA_MIN + 0.3 + (BBOX_LA_MAX - BBOX_LA_MIN - 0.6) * _mix01(i + 1, 2654435761)
        cy = BBOX_FI_MIN + 0.2 + (BBOX_FI_MAX - BBOX_FI_MIN - 0.4) * _mix01(i + 1, 1597334677)
        r = 0.08 + 0.05 * _mix01(i + 1, 40503)
        phase = 2.0 * math.pi * _mix01(i + 1, 69069) / 8.0
        for v in range(N_VERTS):
            ang = phase + 2.0 * math.pi * v / N_VERTS
            out[i, v, 0] = cx + r * math.cos(ang)
            out[i, v, 1] = cy + 0.7 * r * math.sin(ang)
    return out


def municipalities_values_sql(n_mun: int = 20) -> str:
    """VALUES table (mun_id, v0x, v0y, …, v7x, v7y) with exact float64
    literals — the oracle's copy of the polygon table."""
    polys = municipality_polygons(n_mun)
    rows = []
    for i in range(n_mun):
        rows.append(f"({i}, {', '.join(_f(c) for c in polys[i].ravel())})")
    cols = ", ".join(VERT_COLS)
    return (f"(SELECT * FROM (VALUES {', '.join(rows)}) "
            f"AS m(mun_id, {cols}))")


def pip_oracle_condition(px: str = "p.la", py: str = "p.fi") -> str:
    """Convex containment as AND of half-plane tests (CCW ⇒ every edge
    cross product ≥ 0).  Strict/non-strict choice is irrelevant off the
    boundary; fixture points never lie exactly on an edge."""
    conds = []
    for v in range(N_VERTS):
        w = (v + 1) % N_VERTS
        conds.append(
            f"((m.v{w}x - m.v{v}x) * (({py}) - m.v{v}y) - "
            f"(m.v{w}y - m.v{v}y) * (({px}) - m.v{v}x) >= {_f(0.0)})"
        )
    return "(" + " AND ".join(conds) + ")"


# ---------------------------------------------------------------------------
# Engine side
# ---------------------------------------------------------------------------

def municipalities_df(spark: SparkSession, n_mun: int = 20) -> DataFrame:
    """Dimension table: mun_id and the vertex columns v0x, v0y, …, v7x,
    v7y (exact float64).  Built from Arrow, so it plans as a local scan
    and broadcasting it starts no Python worker."""
    pdf = pd.DataFrame(municipality_polygons(n_mun).reshape(n_mun, -1),
                       columns=VERT_COLS)
    pdf.insert(0, "mun_id", np.arange(n_mun, dtype=np.int32))
    return spark.createDataFrame(pdf)


def cover_cells(mun: DataFrame) -> DataFrame:
    """(mun_id, cell) for every PIP_CELL_RES cell meeting a polygon's
    bbox — :func:`cells.cover_bbox` as SQL on the vertex columns: the
    bbox corner cells by the points' own encoder, the cells between
    them by two explodes."""
    xs = ", ".join(VERT_COLS[0::2])
    ys = ", ".join(VERT_COLS[1::2])

    def corner(fi: str, la: str) -> str:
        return cells.encode_sql(f"{fi}({ys})", f"{la}({xs})", PIP_CELL_RES)

    lo = corner("least", "least")
    return (mun.selectExpr(
        "mun_id", f"{lo} AS lo", f"{corner('greatest', 'least')} - {lo} AS ny",
        f"explode(sequence(0L, {corner('least', 'greatest')} - {lo}, "
        f"{1 << cells.IX_SHIFT}L)) AS dx")
        .selectExpr("mun_id", "explode(sequence(lo + dx, lo + dx + ny)) AS cell"))


def ray_cast_sql(px: str, py: str, vx: list[str], vy: list[str]) -> str:
    """Even-odd ray cast as one SQL predicate over the polygon (vx, vy).
    Per edge the crossing is the NumPy form
    ``crosses & (x < (xj - xi) * (y - yi) / (yj - yi) + xi)`` in the
    same operation order; the outer CASE evaluates the division only
    where the edge crosses the ray, so a horizontal edge never divides
    by zero (an error under ANSI mode).  NULL or NaN coordinates cross
    nothing."""
    n = len(vx)
    hits = []
    for v in range(n):
        w = (v + 1) % n
        xint = f"({vx[w]} - {vx[v]}) * ({py} - {vy[v]}) / ({vy[w]} - {vy[v]}) + {vx[v]}"
        hits.append(f"CASE WHEN ({vy[v]} > {py}) <> ({vy[w]} > {py}) "
                    f"THEN CASE WHEN {px} < {xint} THEN 1 ELSE 0 END ELSE 0 END")
    return f"(({' + '.join(hits)}) % 2 = 1)"


def pip_join(points: DataFrame, spark: SparkSession,
             fi_col: str = "fi", la_col: str = "la",
             n_mun: int = 20) -> DataFrame:
    """points (big) ⋈ municipalities (tiny broadcast) → rows + mun_id.

    Plan shape, one whole-stage codegen pipeline: cell encode →
    BroadcastHashJoin on cover cell → BroadcastHashJoin on mun_id
    (vertex columns) → ray-cast filter.  The point side is never
    shuffled.  The expressions are SQL text: one parse per expression
    instead of hundreds of Py4J calls per plan.
    """
    mun = municipalities_df(spark, n_mun)
    fi, la = f"`{fi_col}`", f"`{la_col}`"
    pts = points.withColumn(
        "cell", F.expr(cells.encode_sql(fi, la, PIP_CELL_RES)))
    cand = (pts.join(F.broadcast(cover_cells(mun)), "cell", "inner")
            .join(F.broadcast(mun.withColumnRenamed("mun_id", "v_mun")),
                  F.col("mun_id") == F.col("v_mun")))
    inside = ray_cast_sql(la, fi, VERT_COLS[0::2], VERT_COLS[1::2])
    return cand.filter(inside).drop("cell", "v_mun", *VERT_COLS)
