"""The geo Arrow UDFs against the plain NumPy kernels they wrap.

``kernels.transform_udf`` / ``geoid_udf`` / ``aft_locate_udf`` and
``knn.knn_kernel_udf`` read Arrow columns as NumPy buffer views, run
the kernel over ``kernels.BLOCK_ROWS``-row blocks and wrap the result
back into Arrow.  These tests pin that the wrapping changes nothing:
the output equals a single NumPy pass bit for bit, a NaN result is
NULL, a NULL input reads as NaN, integer columns read as float64, and
block seams, the remainder block and an empty partition are harmless.
The last test checks that a Python worker running the geo kernels
never imports pandas.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from geocoordinateconverter_spark import aft, geodesy, geoid, kernels
from geocoordinateconverter_spark.operators import knn

ROOT = Path(__file__).resolve().parent.parent

# (chain, height mode, input columns)
CHAINS = [(3, "ht", ("x", "y", "h")), (7, "hc", ("x", "y", "h")),
          (4, "hg", ("fi", "la", "h")), (1, "hg", ("x", "y", "h")),
          (3, "ht", ("xi", "yi", "hi"))]
_FN = {1: geodesy.tm_to_wgs84, 3: geodesy.gk_to_wgs84,
       4: geodesy.wgs84_to_gk, 7: aft.gk_to_wgs84_aft}


def _ref_chain(t, mode, a1, a2, a3):
    """One NumPy pass of chain ``t`` with the -ht/-hc/-hg selector."""
    o1, o2, o3 = _FN[t](a1, a2, a3)
    if mode == "hc":
        h = a3
    elif mode == "ht":
        h = o3
    elif t in kernels.GEOGRAPHIC_OUT:
        h = o3 + geoid.geoid_height(o1, o2, "slo")
    else:
        h = o3 - geoid.geoid_height(a1, a2, "slo")
    names = ("fi", "la", "h") if t in kernels.GEOGRAPHIC_OUT else ("x", "y", "h")
    return dict(zip(names, (o1, o2, np.asarray(h, np.float64))))


def _ref_knn(fi, la, k=3, n_st=25):
    pos = knn.station_positions(n_st)
    dfi = fi[:, None] - pos[None, :, 0]
    dla = knn.LA_FACTOR * (la[:, None] - pos[None, :, 1])
    d2 = dfi * dfi + dla * dla
    idx = np.argsort(d2, axis=1, kind="stable")[:, :k]
    return idx.astype(np.int32), np.take_along_axis(d2, idx, axis=1)


def _assert_arrow_equals(got: pa.Table, want: dict) -> None:
    """Bit-exact values, and a NaN of the NumPy result is NULL (never
    NaN) in the Arrow output."""
    for name, w in want.items():
        if w.dtype.kind == "f":
            isnull = got.column(name).is_null().to_numpy(zero_copy_only=False)
            np.testing.assert_array_equal(isnull, np.isnan(w), err_msg=name)
    pd.testing.assert_frame_equal(
        got.select(list(want)).to_pandas(), pd.DataFrame(want),
        check_exact=True)


# ---------------------------------------------------------------- Spark
# Three range partitions of 2·8192 + 5 rows; the filter empties the
# third, so one worker sees two block seams and a 5-row remainder and
# another sees no rows at all.
PART = 2 * 8192 + 5


def _frac(mult: int) -> str:
    return f"(cast((id * {mult}) % 1000000 AS double) / 1000000.0)"


@pytest.fixture(scope="module")
def geo_inputs(spark):
    df = (spark.range(0, 3 * PART, 1, 3).filter(F.col("id") < 2 * PART)
          .selectExpr(
              "id",
              "CASE id WHEN 0 THEN NULL WHEN 1 THEN double('NaN') "
              f"WHEN 2 THEN 1.0e7 ELSE 10000.0 + 200000.0 * {_frac(2654435761)} END AS x",
              f"CASE id WHEN 4 THEN NULL ELSE 360000.0 + 280000.0 * {_frac(1597334677)} END AS y",
              "CASE id WHEN 3 THEN NULL WHEN 5 THEN double('NaN') "
              f"ELSE 200.0 + 1800.0 * {_frac(40503)} END AS h",
              "CASE id WHEN 0 THEN NULL WHEN 2 THEN 60.0 "
              f"ELSE 45.4 + 1.4 * {_frac(2654435761)} END AS fi",
              "CASE id WHEN 1 THEN double('NaN') WHEN 2 THEN 30.0 "
              f"ELSE 13.4 + 3.2 * {_frac(1597334677)} END AS la",
              "CASE id WHEN 0 THEN NULL "
              f"ELSE bigint(10000 + (id * 2654435761) % 200000) END AS xi",
              f"bigint(360000 + (id * 1597334677) % 280000) AS yi",
              "CASE id WHEN 3 THEN NULL ELSE int(200 + id % 1800) END AS hi"))
    assert df.rdd.getNumPartitions() == 3
    cols = df.orderBy("id").toPandas()
    arrays = {c: cols[c].to_numpy(np.float64) for c in cols.columns if c != "id"}
    return df, arrays


@pytest.mark.parametrize("t,mode,cols", CHAINS)
def test_transform_udf_equals_numpy(geo_inputs, t, mode, cols):
    df, a = geo_inputs
    udf = kernels.transform_udf(t, mode)
    got = (df.select("id", udf(*cols).alias("o")).select("id", "o.*")
           .toArrow().sort_by("id"))
    _assert_arrow_equals(got, _ref_chain(t, mode, *(a[c] for c in cols)))


def test_geoid_and_aft_udfs_equal_numpy(geo_inputs):
    df, a = geo_inputs
    got = (df.select("id", kernels.geoid_udf("slo")("fi", "la").alias("n"),
                     kernels.aft_locate_udf("gk_tm")("x", "y").alias("tri"))
           .toArrow().sort_by("id"))
    tri = aft.AFT_GK_TM.locate(a["x"], a["y"])
    off = np.isin(np.arange(len(tri)), [0, 1, 2, 4])  # NULL, NaN, 1e7
    assert (tri[off] == -1).all() and (tri[~off] >= 0).all()
    _assert_arrow_equals(got, {"n": geoid.geoid_height(a["fi"], a["la"], "slo"),
                               "tri": tri})


def test_knn_join_equals_numpy(spark, geo_inputs):
    df, a = geo_inputs
    got = (knn.knn_join(df.select("id", "fi", "la"), spark, key="id")
           .toArrow().sort_by([("id", "ascending"), ("rk", "ascending")]))
    # id 0 (fi NULL) is excluded by knn_join; id 1 (la NaN) is kept
    idx, d2 = _ref_knn(a["fi"][1:], a["la"][1:])
    _assert_arrow_equals(got, {"station_id": idx.ravel(),
                               "dist2": d2.ravel()})
    assert got.column("dist2").null_count == 3  # the NaN-la row


# ----------------------------------------------------------- in process
def _arr(v: np.ndarray, null: int | None = None, type_=pa.float64()):
    """Arrow column over ``v`` with an optional NULL slot, read through
    a 3-row offset so the buffer-view path handles sliced columns."""
    mask = np.zeros(len(v) + 3, bool)
    if null is not None:
        mask[null + 3] = True
    return pa.array(np.r_[np.zeros(3, v.dtype), v], type_, mask=mask).slice(3)


def _inputs(n=40):
    """n rows in the working area with a NaN x and fi, an out-of-grid y
    and an out-of-grid la."""
    rng = np.random.default_rng(5)
    x = rng.uniform(10000, 210000, n)
    y = rng.uniform(360000, 640000, n)
    h = rng.uniform(200, 2000, n)
    fi = rng.uniform(45.4, 46.8, n)
    la = rng.uniform(13.4, 16.6, n)
    x[1], y[2], fi[1], la[4] = np.nan, 9e9, np.nan, -50.0
    return x, y, h, fi, la


@pytest.mark.parametrize("n", [40, 0])
def test_udf_funcs_blocked_in_process(spark, monkeypatch, n):
    """``.func`` on Arrow arrays with 7-row blocks: 5 full blocks and a
    5-row remainder (or no rows) equal one NumPy pass."""
    monkeypatch.setattr(kernels, "BLOCK_ROWS", 7)
    x, y, h, fi, la = (v[:n] for v in _inputs())
    null = 3 if n else None

    def as_read(v):  # the NULL slot reads as NaN
        return np.where(np.arange(n) == null, np.nan, v)

    ax, ay, ah = _arr(x, null), _arr(y), _arr(h)
    for t, mode, args, ref in [
            (3, "ht", (ax, ay, ah), (as_read(x), y, h)),
            (7, "hc", (ax, ay, ah), (as_read(x), y, h)),
            (4, "hg", (_arr(fi, null), _arr(la), ah), (as_read(fi), la, h))]:
        got = kernels.transform_udf(t, mode).func(*args)
        _assert_arrow_equals(pa.Table.from_struct_array(got),
                             _ref_chain(t, mode, *ref))

    xi = np.round(x[~np.isnan(x)]).astype(np.int64)
    yi = np.round(y[: len(xi)]).astype(np.int64)
    hi = np.round(h[: len(xi)]).astype(np.int32)
    got = kernels.transform_udf(3).func(
        _arr(xi, None, pa.int64()), _arr(yi, None, pa.int64()),
        _arr(hi, None, pa.int32()))
    _assert_arrow_equals(pa.Table.from_struct_array(got),
                         _ref_chain(3, "ht", xi * 1.0, yi * 1.0, hi * 1.0))

    _assert_arrow_equals(
        pa.table({"n": kernels.geoid_udf("slo").func(_arr(fi), _arr(la)),
                  "tri": kernels.aft_locate_udf("gk_tm").func(ax, ay)}),
        {"n": geoid.geoid_height(fi, la, "slo"),
         "tri": aft.AFT_GK_TM.locate(as_read(x), y)})

    got = knn.knn_kernel_udf(25, 3).func(_arr(fi), _arr(la))
    idx, d2 = _ref_knn(fi, la)
    want = {}
    for j in range(3):
        want[f"s{j}"], want[f"d{j}"] = idx[:, j].copy(), d2[:, j].copy()
    _assert_arrow_equals(pa.Table.from_struct_array(got), want)


# --------------------------------------------------------- pandas-free
_GUARD = textwrap.dedent("""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf
    from geocoordinateconverter_spark import kernels
    from geocoordinateconverter_spark.operators import knn
    from geocoordinateconverter_spark.plans.session import build_session

    spark = build_session("pandas-free-guard", cores=1)
    df = spark.range(200).selectExpr(
        "id", "10000.0D + 900.0D * id AS x", "360000.0D + 1300.0D * id AS y",
        "300.0D AS h", "45.4D + 0.007D * id AS fi", "13.4D + 0.016D * id AS la")
    for out in (df.select(kernels.transform_udf(3)("x", "y", "h")),
                df.select(kernels.transform_udf(7)("x", "y", "h")),
                knn.knn_join(df, spark, key="id")):
        out.write.format("noop").mode("overwrite").save()

    @arrow_udf("long")
    def probe(v: pa.Array) -> pa.Array:
        import sys
        flag = (10 * ("geocoordinateconverter_spark.kernels" in sys.modules)
                + ("pandas" in sys.modules))
        return pa.Array.from_buffers(
            pa.int64(), len(v), [None, pa.py_buffer(np.full(len(v), flag))])

    print("PROBE", spark.range(1).select(probe("id")).first()[0])
    spark.stop()
""")


def test_geo_worker_never_imports_pandas():
    """One local[1] session runs t=3, t=7 and kNN to the noop sink, then
    a probe in the same pooled worker: the kernels module is loaded
    there (so the probe saw the kernels' worker) and pandas is not.
    The driver imports pandas as soon as a session starts, so only a
    worker can tell."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g",
               PYTHONPATH=os.pathsep.join(
                   [str(ROOT), os.environ.get("PYTHONPATH", "")]))
    res = subprocess.run([sys.executable, "-c", _GUARD], cwd=ROOT, env=env,
                         capture_output=True, text=True, timeout=600)
    lines = [ln for ln in res.stdout.splitlines() if ln.startswith("PROBE")]
    assert res.returncode == 0 and lines, res.stderr[-3000:]
    assert lines[-1] == "PROBE 10", "worker flag (10·kernels + pandas)"
