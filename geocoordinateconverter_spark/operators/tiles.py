"""Raster↔vector tile aggregation with skew handled by the plan —
[NORTH-RULE] (SURVEY.md §3.6 rows "raster↔vector tile aggregation" and
"skew handling (Ljubljana hot cells)", §5.2 item 4).

The corpus is Ljubljana-heavy by construction (60 % of coordinates in a
~12 km cluster — FIXTURES.md §1 skew rule), so a handful of cells carry
most rows.  Spark's hash aggregation does map-side partial aggregation,
which absorbs skew for algebraic aggs (counts, sums).  For a distinct
count per cell (:func:`salted_tile_agg`) Spark plans two Exchanges:
the lower one hashes on (cell, key), so a hot cell's rows spread over
every reducer by key; the upper one on cell only carries the small
per-(cell, key) partials to the per-cell merge.  No single reducer
ever holds a hot cell's full key set, with no salt and no knob
(executed plan: 2 Exchanges, 4 HashAggregates — pytest asserts the
shape and the per-partition balance on a 60 %-hot-cell fixture).

A later explicit salt (e.g. for a non-decomposable per-cell state)
should take its factor from a sampled per-cell estimate, never a
constant.  AQE's skew-join splitting (enabled in plans/session.py)
remains the runtime backstop for joins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..kernels import cell_col


def tile_agg(points: DataFrame, fi: str = "fi", la: str = "la",
             res: int = 7, extra_aggs: list[Column] | None = None) -> DataFrame:
    """Plain tile aggregation: codegen cell encode → hash agg (partial
    + final, one shuffle on cell)."""
    aggs = [F.count("*").alias("n_pts")] + (extra_aggs or [])
    return (points
            .withColumn("cell", cell_col(F.col(fi), F.col(la), res))
            .groupBy("cell").agg(*aggs))


def salted_tile_agg(points: DataFrame, key: str, fi: str = "fi",
                    la: str = "la", res: int = 7) -> DataFrame:
    """(cell, n_pts, n_distinct): row and distinct-``key`` count per
    cell.  Spark's distinct-aggregate rewrite shuffles on (cell, key)
    before merging on cell, which spreads a hot cell over reducers —
    see the module docstring."""
    return tile_agg(points, fi, la, res,
                    [F.countDistinct(key).alias("n_distinct")])


def tile_topk_points(points: DataFrame, key: str, fi: str = "fi",
                     la: str = "la", value: str = "h", res: int = 5,
                     k: int = 3) -> DataFrame:
    """Per-tile top-k points by ``value`` (ties by key asc, so the
    SQL-window oracle matches exactly): a codegen window top-k — ONE
    exchange on cell, no Python.  A grouped-map ``applyInPandas`` form
    calls Python once PER TILE, and ~3 ms of pandas overhead × |cells|
    dominates (measured 30 s vs ~1 s at sf0.1)."""
    pts = points.withColumn("cell", cell_col(F.col(fi), F.col(la), res))
    w = Window.partitionBy("cell").orderBy(F.col(value).desc(),
                                           F.col(key).asc())
    return (pts.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("cell", key, value, F.col("rk").cast("int").alias("rk")))


# ---------------------------------------------------------------------------
# k-ring neighborhood smoothing (grid convolution over tile counts)
# ---------------------------------------------------------------------------

from .. import cells as _cells

_CELL_AXIS = 1 << _cells.IX_SHIFT      # ix/iy field width in the cell id
_CELL_RES = 1 << _cells.RES_SHIFT


def kring_smooth(points: DataFrame, res: int = 5,
                 fi: str = "fi", la: str = "la") -> DataFrame:
    """(cell, n_own, n_smooth, n_nbrs): each cell's own point count,
    the 3×3 k-ring(1) neighborhood sum, and how many populated
    neighbor cells contributed — the H3 ``kRing``-style smoothing /
    hotspot-convolution primitive (heatmap blur, density smoothing).

    Scale shape: the convolution runs on the ALREADY-AGGREGATED tile
    table (|cells| ≪ |points|): decode (ix, iy) arithmetically, explode
    the 9 offsets map-side (9× a small table, not the corpus), and
    re-aggregate on the target cell — one extra small shuffle after
    the tile agg.  n_own rides the same aggregation as a conditional
    sum, so no self-join.  Every value is integer arithmetic — exact
    in both engines.  Cells outside the grid are clipped (the grid
    edge smooths over fewer neighbors, like any finite convolution).
    """
    from .. import cells as cellmod
    n = cellmod.n_cells(res)
    counts = tile_agg(points, fi, la, res)
    d = counts.select(
        "n_pts",
        F.expr(f"(cell div {_CELL_AXIS}) % {_CELL_AXIS}").alias("ix"),
        F.expr(f"cell % {_CELL_AXIS}").alias("iy"))
    offs = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                     for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    t = (d.select("n_pts", "ix", "iy", F.explode(offs).alias("o"))
         .select("n_pts",
                 (F.col("ix") + F.col("o.dx")).alias("jx"),
                 (F.col("iy") + F.col("o.dy")).alias("jy"),
                 ((F.col("o.dx") == 0) & (F.col("o.dy") == 0)).alias("own"))
         .filter(F.col("jx").between(0, n - 1)
                 & F.col("jy").between(0, n - 1)))
    return (t.groupBy((F.lit(res).cast("long") * F.lit(_CELL_RES)
                       + F.col("jx") * F.lit(_CELL_AXIS)
                       + F.col("jy")).alias("cell"))
            .agg(F.sum(F.when(F.col("own"), F.col("n_pts"))
                       .otherwise(F.lit(0))).alias("n_own"),
                 F.sum("n_pts").alias("n_smooth"),
                 F.count("*").alias("n_nbrs")))


def kring_smooth_sql(points_src: str, res: int = 5,
                     fi: str = "fi", la: str = "la") -> str:
    from .. import cells as cellmod
    n = cellmod.n_cells(res)
    offs = ", ".join(f"({dx}, {dy})"
                     for dx in (-1, 0, 1) for dy in (-1, 0, 1))
    return f"""
WITH counts AS (
  SELECT {cellmod.encode_sql(fi, la, res)} AS cell, count(*) AS n_pts
  FROM {points_src} p GROUP BY 1),
d AS (
  SELECT n_pts, (cell // {_CELL_AXIS}) % {_CELL_AXIS} AS ix,
         cell % {_CELL_AXIS} AS iy
  FROM counts),
t AS (
  SELECT n_pts, ix + dx AS jx, iy + dy AS jy,
         (dx = 0 AND dy = 0) AS own
  FROM d CROSS JOIN (VALUES {offs}) o(dx, dy)
  WHERE ix + dx BETWEEN 0 AND {n - 1} AND iy + dy BETWEEN 0 AND {n - 1})
SELECT cast({res} as bigint) * {_CELL_RES}
       + jx * {_CELL_AXIS} + jy AS cell,
       sum(CASE WHEN own THEN n_pts ELSE 0 END) AS n_own,
       sum(n_pts) AS n_smooth, count(*) AS n_nbrs
FROM t GROUP BY 1
"""
