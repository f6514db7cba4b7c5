"""Spark-layer tests: Arrow-crossing parity, join-operator equivalence,
plan-shape audits, and rerun determinism (SURVEY.md §6.2 items 3/5)."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geocoordinateconverter_spark import cells, kernels
from geocoordinateconverter_spark import geodesy as g
from geocoordinateconverter_spark.operators import knn as knn_op
from geocoordinateconverter_spark.operators import pip as pip_op

N = 5000
rng = np.random.default_rng(11)
FI = rng.uniform(45.25, 47.0, N)
LA = rng.uniform(13.25, 16.75, N)
H = rng.uniform(0, 2000, N)


@pytest.fixture(scope="module")
def pts_df(spark):
    pdf = pd.DataFrame({"k": np.arange(N), "fi": FI, "la": LA, "h": H})
    return spark.createDataFrame(pdf)


def test_udf_bitwise_parity(spark, pts_df):
    """Arrow-UDF output ≡ pure-NumPy kernel output bitwise — the
    Arrow crossing changes nothing (SURVEY.md §6.2 item 3)."""
    t4 = kernels.transform_udf(4)
    out = (pts_df.withColumn("o", t4(F.col("fi"), F.col("la"), F.col("h")))
           .select("k", "o.*").toPandas().sort_values("k"))
    ex, ey, eh = g.wgs84_to_gk(FI, LA, H)
    np.testing.assert_array_equal(out["x"].to_numpy(), ex)
    np.testing.assert_array_equal(out["y"].to_numpy(), ey)
    np.testing.assert_array_equal(out["h"].to_numpy(), eh)


def test_cell_col_matches_numpy(spark, pts_df):
    got = (pts_df.withColumn("c", kernels.cell_col(F.col("fi"), F.col("la"), 7))
           .select("k", "c").toPandas().sort_values("k"))
    np.testing.assert_array_equal(got["c"].to_numpy(), cells.encode(FI, LA, 7))


def test_no_row_python_in_plan(spark, pts_df):
    """input_hint hard ban: only ArrowEvalPython may appear, never
    BatchEvalPython (SURVEY.md §8 watch-list item b)."""
    t3 = kernels.transform_udf(3)
    df = pts_df.withColumn("o", t3(F.col("fi"), F.col("la"), F.col("h")))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_pip_plan_is_broadcast(spark, pts_df):
    """PIP prefilter must be a broadcast hash join — no shuffle of the
    point side, no BroadcastNestedLoopJoin (SURVEY.md §5.2 item 3) —
    and the ray-cast refine stays in Catalyst: over a Python-free input
    the plan has no Python node, and the refine sits inside whole-stage
    codegen."""
    out = pip_op.pip_join(pts_df, spark)
    out.collect()  # the final adaptive plan carries the codegen ids
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert re.search(r"(?<!Broadcast)Exchange ", plan) is None
    final = plan.split("== Initial Plan ==")[0]
    refine = [ln for ln in final.splitlines() if "CASE WHEN" in ln]
    assert refine and all(re.search(r"\*\(\d+\) ", ln) for ln in refine)


def _numpy_pip(x, y, polys) -> set:
    """Brute-force NumPy even-odd ray cast of every point against every
    polygon → {(row index, polygon index)}."""
    exp = set()
    for m in range(len(polys)):
        vx, vy = polys[m, :, 0], polys[m, :, 1]
        inside = np.zeros(len(x), dtype=bool)
        nv = len(vx)
        for v in range(nv):
            w = (v + 1) % nv
            crosses = (vy[v] > y) != (vy[w] > y)
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = (vx[w] - vx[v]) * (y - vy[v]) / (vy[w] - vy[v]) + vx[v]
            inside ^= crosses & (x < xint)
        exp.update((k, m) for k in np.where(inside)[0])
    return exp


def test_pip_vs_numpy_oracle(spark):
    """Engine two-phase PIP ≡ brute-force NumPy even-odd over all
    polygons (FIXTURES.md §4 oracle): the same (k, mun_id) set, on the
    fixture points plus points on a vertex, on edges, on a cell
    boundary, with NULL / NaN coordinates and outside the bbox (clamped
    into edge cells)."""
    polys = pip_op.municipality_polygons(20)
    n = cells.n_cells(pip_op.PIP_CELL_RES)
    v0x, v0y = polys[0, 0]
    cx, cy = polys[0, :, 0].mean(), polys[0, :, 1].mean()
    ix = np.floor((cx - cells.BBOX_LA_MIN) / cells.LA_SPAN * n)
    x_edge = cells.BBOX_LA_MIN + cells.LA_SPAN * ix / n  # on a cell edge
    nan = float("nan")
    extra = [(v0y, v0x), (cy, x_edge), (cy, np.nextafter(x_edge, 0)),
             (cy, cx), (nan, cx), (cy, nan), (nan, nan),
             (None, cx), (cy, None), (None, None),
             (44.0, cx), (48.0, cx), (cy, 12.0), (cy, 18.0),
             (44.0, 12.0), (-90.0, 190.0)]
    # points exactly on polygon 0's edges (x in the NumPy op order), at
    # the y where the slope-first order (xj-xi)/(yj-yi)*(y-yi) rounds x
    # differently: an engine in that order moves them across the edge
    vx, vy = polys[0, :, 0], polys[0, :, 1]
    for v in range(pip_op.N_VERTS):
        w = (v + 1) % pip_op.N_VERTS
        y = np.random.default_rng(v).uniform(*sorted((vy[v], vy[w])), 20000)
        x = (vx[w] - vx[v]) * (y - vy[v]) / (vy[w] - vy[v]) + vx[v]
        moved = x != (vx[w] - vx[v]) / (vy[w] - vy[v]) * (y - vy[v]) + vx[v]
        extra += list(zip(y[moved], x[moved]))
    rows = [(k, float(a), float(b)) for k, (a, b) in enumerate(zip(FI, LA))]
    rows += [(N + i, *(None if c is None else float(c) for c in e))
             for i, e in enumerate(extra)]
    fi = np.array([r[1] for r in rows], dtype=float)  # NULL → NaN
    la = np.array([r[2] for r in rows], dtype=float)
    df = spark.createDataFrame(rows, "k long, fi double, la double")
    got = pip_op.pip_join(df, spark).select("k", "mun_id").toPandas()
    got_set = set(map(tuple, got.to_numpy()))
    exp = _numpy_pip(la, fi, polys)
    assert got_set == exp
    assert {(N + 1, 0), (N + 2, 0), (N + 3, 0)} <= exp  # cell edge, centre


def test_raycast_concave_polygon(spark):
    """The PRODUCT refine (pip.ray_cast_sql) is a general even-odd ray
    cast: verify it on a concave (arrow-head) polygon where half-plane /
    convex-only tests would fail, against the NumPy cast.  The polygon
    has horizontal and zero-length edges, so every point also exercises
    the guard that keeps ANSI division by zero from firing; the vertex
    columns come from data, as after pip_join's vertex join."""
    poly = np.array([[[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [2.0, 1.5],
                      [0.0, 4.0], [0.0, 0.0], [0.0, 0.0], [0.0, 0.0]]])
    # degenerate repeated vertices are fine for even-odd
    px = [2.0, 2.0, 0.5, 2.5, 2.0, 4.0, 2.0, 0.0, float("nan"), 1.0]
    py = [0.5, 3.0, 0.5, 2.5, 0.0, 4.0, 1.5, 2.0, 1.0, float("nan")]
    # (2,3) and (2.5,2.5) in the notch → outside; then a point on the
    # horizontal edge y=0, two vertices, the left edge, NaN x, NaN y
    verts = [float(c) for c in poly[0].ravel()]
    vcols = ", ".join(f"{c} double" for c in pip_op.VERT_COLS)
    df = spark.createDataFrame(
        [(x, y, *verts) for x, y in zip(px, py)],
        f"px double, py double, {vcols}")
    inside = pip_op.ray_cast_sql("px", "py", pip_op.VERT_COLS[0::2],
                                 pip_op.VERT_COLS[1::2])
    got = [r.inside for r in df.select(F.expr(inside).alias("inside")).collect()]
    exp = _numpy_pip(np.array(px), np.array(py), poly)
    assert got == [(k, 0) in exp for k in range(len(px))]
    assert got[:4] == [True, False, True, False]


def test_pip_cover_cells_equal_cover_bbox(spark):
    """The Catalyst cover (pip.cover_cells) is exactly the NumPy
    cells.cover_bbox set of every polygon, at bench scale (212)."""
    polys = pip_op.municipality_polygons(212)
    got = pip_op.cover_cells(pip_op.municipalities_df(spark, 212)).toPandas()
    exp = {(m, int(c)) for m, p in enumerate(polys)
           for c in cells.cover_bbox(p[:, 0].min(), p[:, 1].min(),
                                     p[:, 0].max(), p[:, 1].max(),
                                     pip_op.PIP_CELL_RES)}
    assert len(got) == len(exp)
    assert set(map(tuple, got.to_numpy())) == exp


def _duck_pts(extra_rows: str = ""):
    """A DuckDB connection with the fixture points as table ``pts``
    (plus ``extra_rows``, a SQL VALUES list of (k, fi, la, h))."""
    import duckdb
    con = duckdb.connect()
    con.register("pdf", pd.DataFrame({"k": np.arange(N), "fi": FI,
                                      "la": LA, "h": H}))
    sql = "SELECT k, fi, la, h FROM pdf"
    if extra_rows:
        sql += f" UNION ALL SELECT * FROM (VALUES {extra_rows})"
    con.execute(f"CREATE TABLE pts AS {sql}")
    return con


def test_knn_methods_agree(spark, pts_df):
    """kernel (zero-shuffle) ≡ the DuckDB brute-force oracle
    row-for-row, with bit-identical dist2 (same IEEE op sequence)."""
    cols = ["k", "station_id", "dist2", "rk"]
    got = (knn_op.knn_join(pts_df, spark, key="k", k=3)
           .select(*cols).toPandas()
           .sort_values(["k", "rk"]).reset_index(drop=True))
    with _duck_pts() as con:
        exp = (con.execute(f"SELECT {', '.join(cols)} FROM "
                           f"{knn_op.knn_oracle_sql('pts', 'k', k=3)} q")
               .df().sort_values(["k", "rk"]).reset_index(drop=True))
    assert len(got) == N * 3
    pd.testing.assert_frame_equal(got, exp, check_dtype=False,
                                  check_exact=True)


def test_radius_join_methods_agree(spark, pts_df):
    """cellprune (equi-join pruned) ≡ the DuckDB brute-force oracle
    row-for-row with bit-identical dist2; out-of-bbox rows take the
    exact fallback; NULL-coordinate rows are excluded."""
    extra = spark.createDataFrame(
        [(90001, 48.5, 15.0, 100.0),       # out of bbox (north)
         (90002, None, 14.5, 100.0)],      # NULL fi → excluded
        "k long, fi double, la double, h double")
    pts = pts_df.unionByName(extra)
    cols = ["k", "station_id", "dist2"]
    a = (knn_op.radius_join(pts, spark)
         .select(*cols).toPandas()
         .sort_values(["k", "station_id"]).reset_index(drop=True))
    with _duck_pts("(90001, 48.5e0, 15.0e0, 100.0e0), "
                   "(90002, NULL, 14.5e0, 100.0e0)") as con:
        b = (con.execute(f"SELECT {', '.join(cols)} FROM "
                         f"{knn_op.radius_oracle_sql('pts', 'k')} q")
             .df().sort_values(["k", "station_id"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
    assert 90002 not in set(a["k"])
    # every emitted pair satisfies the predicate; brute-force recount
    pos = knn_op.station_positions(25)
    d2 = ((FI[:, None] - pos[None, :, 0]) ** 2
          + (knn_op.LA_FACTOR * (LA[:, None] - pos[None, :, 1])) ** 2)
    exp_in = int((d2 <= knn_op.RADIUS_DEFAULT ** 2).sum())
    n_oob = int(len(a[a["k"] == 90001]))
    assert len(a) == exp_in + n_oob


def test_cli_api_parity(spark, pts_df):
    """api.convert: -r recovers the unswapped result bitwise; extra
    columns pass through; -dms matches the shared DMS arithmetic."""
    from geocoordinateconverter_spark import api
    src = pts_df.limit(100).withColumn("label", F.concat(F.lit("pt"), "k"))
    plain = api.convert(src, t=2).toPandas().sort_values("k")
    swapped = src.select("k", "label", F.col("la").alias("c1"),
                         F.col("fi").alias("c2"), "h")
    rev = api.convert(swapped, t=2, reverse=True,
                      cols=("c1", "c2", "h")).toPandas().sort_values("k")
    np.testing.assert_array_equal(plain["x_out"].to_numpy(),
                                  rev["x_out"].to_numpy())
    assert (plain["label"].to_numpy() == rev["label"].to_numpy()).all()  # passthrough survives -r
    # dms twin: api._dms_col ≡ the SQL formatter used by dms_format
    import __spark_entry__ as em
    wgs = src.select("k", "fi")
    a = wgs.withColumn("dms", api._dms_col(F.col("fi"))) \
        .select("k", "dms").toPandas().sort_values("k")
    wgs.createOrReplaceTempView("dms_twin_src")
    b = spark.sql(f"SELECT k, {em.DMS_FMT_SQL} AS dms FROM dms_twin_src") \
        .toPandas().sort_values("k")
    assert list(a["dms"]) == list(b["dms"])
    # -x self-test: every frozen golden row agrees
    st = api.self_test(spark).toPandas()
    from geocoordinateconverter_spark import goldens
    assert len(st) == sum(len(v) for v in goldens.EXPECTED.values())


def test_height_mode_wrapper(spark, pts_df):
    """A6 selector semantics: hc copies input h bitwise; ht is the
    chain's own height (the NumPy chain, called directly); hg shifts it
    by the geoid undulation; projected↔projected chains reject hg (no
    geographic endpoint)."""
    import pytest as _pytest

    from geocoordinateconverter_spark import geodesy
    from geocoordinateconverter_spark import kernels as k
    src = pts_df.limit(200)
    inp = src.select("k", "fi", "la", "h").toPandas().sort_values("k")
    _, _, chain_h = geodesy.wgs84_to_tm(inp["fi"].to_numpy(),
                                        inp["la"].to_numpy(),
                                        inp["h"].to_numpy())

    def heights(mode):
        return (src.withColumn("o", k.transform_udf(2, mode)(
            F.col("fi"), F.col("la"), F.col("h"))).select("k", "o.h")
            .toPandas().sort_values("k")["h"].to_numpy())

    np.testing.assert_array_equal(heights("hc"), inp["h"].to_numpy())
    np.testing.assert_array_equal(heights("ht"), chain_h)
    assert not np.array_equal(heights("hg"), chain_h)
    assert k.HEIGHT_MODE_DEFAULTS[3] == "ht"
    with _pytest.raises(ValueError, match="geographic endpoint"):
        k.transform_udf(5, "hg")


def test_knn_kernel_plan_has_no_exchange(spark, pts_df):
    """the kernel path must be a pure map: no Exchange in the plan."""
    df = knn_op.knn_join(pts_df, spark, key="k", k=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan


def test_knn_vs_numpy_bruteforce(spark, pts_df):
    got = (knn_op.knn_join(pts_df, spark, key="k", k=3)
           .select("k", "station_id", "rk").toPandas()
           .sort_values(["k", "rk"]))
    pos = knn_op.station_positions(25)
    d2 = (FI[:, None] - pos[None, :, 0]) ** 2 \
        + (knn_op.LA_FACTOR * (LA[:, None] - pos[None, :, 1])) ** 2
    order = np.lexsort((np.broadcast_to(np.arange(25), d2.shape), d2), axis=1)
    exp = order[:, :3]
    np.testing.assert_array_equal(
        got["station_id"].to_numpy().reshape(N, 3), exp)


def test_rerun_and_partitioning_determinism(spark, pts_df):
    """north_star: identical join output rows & tile assignments across
    reruns and partition layouts."""
    def tiles(df):
        t3 = kernels.transform_udf(4)
        return (df.withColumn("o", t3(F.col("fi"), F.col("la"), F.col("h")))
                .withColumn("cell", kernels.cell_col(F.col("fi"), F.col("la"), 7))
                .groupBy("cell").agg(F.count("*").alias("n"))
                .toPandas().sort_values("cell").reset_index(drop=True))
    a = tiles(pts_df)
    b = tiles(pts_df.repartition(17))
    pd.testing.assert_frame_equal(a, b)


def test_bbox_join_cover_equals_bruteforce(spark):
    """Spatial-hash cover path ≡ broadcast brute force on adversarial
    rectangles: many-cell spans, slivers, grid-edge clamps, and a
    rectangle fully outside every municipality."""
    from geocoordinateconverter_spark.operators import bboxjoin as bj
    crafted = [
        (1, 13.5, 45.3, 16.5, 46.9),     # spans nearly the whole grid
        (2, 14.5, 46.0, 14.5001, 46.8),  # vertical sliver
        (3, 13.2501, 45.2501, 13.26, 45.26),  # hugs the grid corner
        (4, 16.74, 46.99, 16.7499, 46.9999),  # far corner, likely no hits
        (5, 14.0, 46.2, 14.6, 46.21),    # horizontal sliver
    ]
    pdf = spark.createDataFrame(
        crafted, "k long, pxmin double, pymin double, "
                 "pxmax double, pymax double")
    got = (bj.bbox_intersects_join(pdf, spark).toPandas()
           .sort_values(["k", "mun_id"]).reset_index(drop=True))
    mun = spark.createDataFrame(
        bj.mun_bbox_rows(20), "mun_id int, mxmin double, mymin double, "
                              "mxmax double, mymax double")
    ox = F.least("pxmax", "mxmax") - F.greatest("pxmin", "mxmin")
    oy = F.least("pymax", "mymax") - F.greatest("pymin", "mymin")
    brute = (pdf.join(F.broadcast(mun))
             .withColumn("ox", ox).withColumn("oy", oy)
             .filter((F.col("ox") > 0) & (F.col("oy") > 0))
             .select("k", "mun_id", "ox", "oy").toPandas()
             .sort_values(["k", "mun_id"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(got, brute, check_exact=True)  # incl. extents
    assert len(brute) > 5                      # non-trivial fixture
