"""kNN join to reference stations — [NORTH-RULE] (SURVEY.md §3.6).

Semantics: the k nearest stations per point, deterministic ties by
``station_id`` asc (FIXTURES.md §5).  The station table is tiny, so it
lives in the pandas-UDF closure; the kernel computes the full
(batch × n_st) distance matrix in NumPy, stable-argsorts, and emits the
top-k as a flat struct which codegen explodes into rows.  The plan is
Scan → ArrowEvalPython → Generate — no Exchange at all, a pure map at
any point count.  Its independent check is :func:`knn_oracle_sql`, a
DuckDB cross join + window with the same IEEE ops (stable sort ≡
(dist2, station_id) tie-break), so dist2 agrees bit for bit.

:func:`radius_join` prunes by grid cell instead: stations register in
every cell of a ring around them, points equi-join on their cell.

Distance: flat-earth squared degrees ``(Δφ)² + (0.7·Δλ)²`` — pure
arithmetic (0.7 ≈ cos 46° meridian-convergence factor, adequate for a
1.75°-tall working area and bit-identical across engines).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .. import cells
from ..constants import BBOX_FI_MAX, BBOX_FI_MIN, BBOX_LA_MAX, BBOX_LA_MIN
from ..functions.sqlgen import f as _f

LA_FACTOR = 0.7
KNN_CELL_RES = 3  # coarse cells for radius_join's ring pruning


def station_positions(n_st: int = 25) -> np.ndarray:
    out = np.empty((n_st, 2), dtype=np.float64)  # (fi, la)
    for i in range(n_st):
        out[i, 0] = BBOX_FI_MIN + 0.1 + (BBOX_FI_MAX - BBOX_FI_MIN - 0.2) * (((i + 1) * 2654435761) % 1000000) / 1000000.0
        out[i, 1] = BBOX_LA_MIN + 0.1 + (BBOX_LA_MAX - BBOX_LA_MIN - 0.2) * (((i + 1) * 1597334677) % 1000000) / 1000000.0
    return out


def stations_values_sql(n_st: int = 25) -> str:
    pos = station_positions(n_st)
    rows = ", ".join(f"({i}, {_f(pos[i, 0])}, {_f(pos[i, 1])})" for i in range(n_st))
    return f"(SELECT * FROM (VALUES {rows}) AS s(station_id, s_fi, s_la))"


def stations_df(spark: SparkSession, n_st: int = 25) -> DataFrame:
    pos = station_positions(n_st)
    rows = [(i, float(pos[i, 0]), float(pos[i, 1])) for i in range(n_st)]
    return spark.createDataFrame(
        rows, "station_id int, s_fi double, s_la double")


def _station_rings(spark: SparkSession, pos: np.ndarray,
                   radius: float) -> DataFrame:
    """(cell, station_id) rows registering each station in every
    KNN_CELL_RES cell any of whose points could lie within ``radius``
    (metric units of :func:`_dist2`'s sqrt) of it — Chebyshev ring
    with one cell of slack, clipped to the bbox grid."""
    n_st = pos.shape[0]
    n = cells.n_cells(KNN_CELL_RES)
    cell_h = (BBOX_FI_MAX - BBOX_FI_MIN) / n
    cell_w = (BBOX_LA_MAX - BBOX_LA_MIN) / n
    r_fi = int(np.ceil(radius / cell_h)) + 1
    r_la = int(np.ceil(radius / LA_FACTOR / cell_w)) + 1
    ring_rows = []
    for i in range(n_st):
        c = int(cells.encode(pos[i, 0:1], pos[i, 1:2], KNN_CELL_RES)[0])
        _, ix, iy = cells.decode(np.asarray([c], np.int64))
        ix, iy = int(ix[0]), int(iy[0])
        for dx in range(-r_la, r_la + 1):
            for dy in range(-r_fi, r_fi + 1):
                jx, jy = ix + dx, iy + dy
                if 0 <= jx < n and 0 <= jy < n:
                    ring_rows.append(
                        ((KNN_CELL_RES << cells.RES_SHIFT)
                         + (jx << cells.IX_SHIFT) + jy, i))
    return spark.createDataFrame(ring_rows, "cell bigint, station_id int")


def _dist2(fi, la):
    return ((F.col(fi) - F.col("s_fi")) * (F.col(fi) - F.col("s_fi"))
            + (F.lit(LA_FACTOR) * (F.col(la) - F.col("s_la")))
            * (F.lit(LA_FACTOR) * (F.col(la) - F.col("s_la"))))


def knn_kernel_udf(n_st: int, k: int):
    """Vectorized top-k kernel: stations in closure, full distance
    matrix per Arrow batch, stable argsort (ties resolve to the lowest
    station_id because columns are in id order).  The arithmetic is the
    exact IEEE op sequence of :func:`_dist2` / the SQL oracle —
    subtract, multiply, multiply-add in the same order — so dist2 is
    bit-identical to :func:`knn_oracle_sql`'s."""
    pos = station_positions(n_st)
    sfi = pos[:, 0].copy()
    sla = pos[:, 1].copy()
    fields = ", ".join(f"s{j}:int, d{j}:double" for j in range(k))

    @pandas_udf(f"struct<{fields}>")
    def _udf(fi: pd.Series, la: pd.Series) -> pd.DataFrame:
        fv = fi.to_numpy(np.float64)[:, None]
        lv = la.to_numpy(np.float64)[:, None]
        dfi = fv - sfi[None, :]
        dla = LA_FACTOR * (lv - sla[None, :])
        d2 = dfi * dfi + dla * dla
        idx = np.argsort(d2, axis=1, kind="stable")[:, :k]
        top = np.take_along_axis(d2, idx, axis=1)
        out = {}
        for j in range(k):
            out[f"s{j}"] = pd.Series(idx[:, j].astype(np.int32))
            out[f"d{j}"] = pd.Series(top[:, j])
        return pd.DataFrame(out)

    return _udf


def knn_join(points: DataFrame, spark: SparkSession, key: str,
             fi_col: str = "fi", la_col: str = "la", k: int = 3,
             n_st: int = 25) -> DataFrame:
    # at most n_st neighbours exist per point
    k = min(k, n_st)
    # NULL fi/la: kNN of an unknown coordinate is undefined — such rows
    # are EXCLUDED from the output (the UDF would emit NaN dist2 rows)
    points = points.filter(F.col(fi_col).isNotNull()
                           & F.col(la_col).isNotNull())
    udf = knn_kernel_udf(n_st, k)
    nn = points.withColumn("_nn", udf(F.col(fi_col), F.col(la_col)))
    structs = F.array(*[
        F.struct(F.col(f"_nn.s{j}").alias("station_id"),
                 F.col(f"_nn.d{j}").alias("dist2"),
                 F.lit(j + 1).alias("rk"))
        for j in range(k)])
    keep = points.columns
    return (nn.select(*keep, F.explode(structs).alias("_e"))
            .select(*keep, F.col("_e.station_id").alias("station_id"),
                    F.col("_e.dist2").alias("dist2"),
                    F.col("_e.rk").alias("rk")))


def knn_oracle_sql(points_src: str, key: str, k: int = 3,
                   n_st: int = 25, fi: str = "fi", la: str = "la") -> str:
    """Brute-force oracle: cross join + window, identical distance
    arithmetic and (dist2, station_id) tie-break."""
    return f"""
(SELECT {key}, station_id, dist2, rk FROM (
   SELECT p.{key} AS {key}, s.station_id AS station_id,
          (p.{fi} - s.s_fi) * (p.{fi} - s.s_fi)
          + ({_f(LA_FACTOR)} * (p.{la} - s.s_la)) * ({_f(LA_FACTOR)} * (p.{la} - s.s_la)) AS dist2,
          row_number() OVER (
            PARTITION BY p.{key}
            ORDER BY (p.{fi} - s.s_fi) * (p.{fi} - s.s_fi)
                     + ({_f(LA_FACTOR)} * (p.{la} - s.s_la)) * ({_f(LA_FACTOR)} * (p.{la} - s.s_la)) ASC,
                     s.station_id ASC) AS rk
   FROM {points_src} p CROSS JOIN {stations_values_sql(n_st)} s
 ) q WHERE rk <= {k})
"""


RADIUS_DEFAULT = 0.1  # metric units of _dist2's sqrt (≈11 km N-S)


def radius_join(points: DataFrame, spark: SparkSession,
                fi_col: str = "fi", la_col: str = "la",
                radius: float = RADIUS_DEFAULT,
                n_st: int = 25) -> DataFrame:
    """ε-distance join — [NORTH-RULE] (SURVEY.md §3.6 spatial joins):
    every (point, station) pair with ``dist2 <= radius²``.  Unlike
    :func:`knn_join` (top-k per point) this is a within-distance join
    (reference analogue: gk-slo's nearest-tie-point search is bounded
    by a fixed grid radius — conv.c's triangle candidate pruning).

    Stations register in every cell within the radius ring
    (:func:`_station_rings`), points equi-join on their codegen cell
    id, then the exact predicate filters.  Candidate fan-out per point
    is O(stations nearby), not O(n_st); the plan is Scan →
    BroadcastHashJoin ×2 → Filter, no shuffle of the point side.

    The ring superset proof holds over the WORKING BBOX only:
    cells.encode clips an out-of-bbox point into an edge cell.  Such
    points take an unpruned broadcast candidate set instead.  That
    fallback branch is added only when an eager ``limit(1).count()``
    probe finds an out-of-bbox row, so all-in-bbox plans carry no
    BroadcastNestedLoopJoin.  The probe is one small Spark job at call
    time over the upstream lineage: do not compose this over streaming
    DataFrames (count() would throw) or nondeterministic sources (the
    gate decision is a snapshot; materialize such sources first).

    The predicate is pure ``*``/``-``/``+`` on float64 (no libm), so
    Spark and the DuckDB oracle (:func:`radius_oracle_sql`) agree
    bit-for-bit with no tolerance.
    """
    from ..kernels import cell_col
    points = points.filter(F.col(fi_col).isNotNull()
                           & F.col(la_col).isNotNull())
    st = stations_df(spark, n_st)
    rings = _station_rings(spark, station_positions(n_st), radius)
    in_bbox = (F.col(fi_col).between(BBOX_FI_MIN, BBOX_FI_MAX)
               & F.col(la_col).between(BBOX_LA_MIN, BBOX_LA_MAX))
    pts = (points.filter(in_bbox)
           .withColumn("cell", cell_col(F.col(fi_col), F.col(la_col),
                                        KNN_CELL_RES)))
    cand = (pts.join(F.broadcast(rings), "cell")
            .join(F.broadcast(st), "station_id")
            .drop("cell"))
    if points.filter(~in_bbox).limit(1).count():
        cand = cand.unionByName(
            points.filter(~in_bbox).join(F.broadcast(st)))
    return (cand.withColumn("dist2", _dist2(fi_col, la_col))
            .filter(F.col("dist2") <= F.lit(radius * radius))
            .drop("s_fi", "s_la"))


def radius_oracle_sql(points_src: str, key: str,
                      radius: float = RADIUS_DEFAULT, n_st: int = 25,
                      fi: str = "fi", la: str = "la") -> str:
    """Brute-force oracle: cross join + the identical exact predicate."""
    d2 = (f"(p.{fi} - s.s_fi) * (p.{fi} - s.s_fi) "
          f"+ ({_f(LA_FACTOR)} * (p.{la} - s.s_la)) "
          f"* ({_f(LA_FACTOR)} * (p.{la} - s.s_la))")
    return f"""
(SELECT p.{key} AS {key}, s.station_id AS station_id, {d2} AS dist2
 FROM {points_src} p CROSS JOIN {stations_values_sql(n_st)} s
 WHERE {d2} <= {_f(radius * radius)})
"""
