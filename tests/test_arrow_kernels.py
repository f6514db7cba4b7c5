"""The Arrow UDFs and Arrow map kernels against what they compute.

``kernels.transform_udf`` / ``geoid_udf`` / ``aft_locate_udf`` and
``knn.knn_kernel_udf`` read Arrow columns as NumPy buffer views, run
the kernel over ``arrowbuf.BLOCK_ROWS``-row blocks and wrap the result
back into Arrow.  These tests pin that the wrapping changes nothing:
the output equals a single NumPy pass bit for bit, a NaN result is
NULL, a NULL input reads as NaN, integer columns read as float64, and
block seams, the remainder block and an empty partition are harmless.

The corpus kernels (MinHash and SimHash signatures, the top-k
candidate scan) are checked against their DuckDB twins on adversarial
inputs: empty, all-space, NULL and non-ASCII text, sliced and empty
Arrow arrays, empty and NULL token lists (which the signature kernels
refuse), NaN vectors and ties at the kth score.

The guard tests check that a Python worker running the geo or the
corpus kernels never imports pandas.
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

from geocoordinateconverter_spark import (aft, arrowbuf, geodesy, geoid,
                                          kernels)
from geocoordinateconverter_spark.operators import knn
from geocoordinateconverter_spark.operators import similarity as sim
from geocoordinateconverter_spark.operators import textdedup as td

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
    monkeypatch.setattr(arrowbuf, "BLOCK_ROWS", 7)
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


# --------------------------------------------------------------- corpus
# Adversarial docs in one partition of 2·8192 + 5 rows (one Arrow
# batch): empty, all-space, NULL, multi-space, tab and non-ASCII text
# next to short generated docs that share many tokens.
_ODD_TEXTS = ["", "   ", None, "Ünïcödé straße ünïcödé", "日本語 の テキスト 日本語",
              "a  b   c", " lead and trail ", "x", "x x x x",
              "emoji \U0001F642 \U0001F642 end", "tab\tinside word"]


def _sql_text(t):
    return "NULL" if t is None else "'" + t + "'"


@pytest.fixture(scope="module")
def odd_docs(spark):
    cases = " ".join(f"WHEN {i} THEN {_sql_text(t)}"
                     for i, t in enumerate(_ODD_TEXTS))
    docs = spark.range(0, PART, 1, 1).selectExpr(
        "id AS doc_id",
        f"CASE id {cases} ELSE concat_ws(' ', 'w' || (id % 211), "
        "'v' || (id % 17), 'y' || (id * 7 % 101), 'z' || (id % 5)) END AS text")
    return docs, docs.toArrow()


def _duck(sql: str, **tables) -> list[tuple]:
    import duckdb
    with duckdb.connect() as con:
        for name, t in tables.items():
            con.register(name, t)
        return con.execute(sql).fetchall()


def _sig_sql(docs: pa.Table) -> tuple[dict, dict]:
    """{doc_id: MinHash signature list}, {doc_id: SimHash} from the
    DuckDB twins over ``docs``."""
    mh = _duck(f"SELECT doc_id, list(sig ORDER BY perm) FROM "
               f"{td.MINHASH_SIG_SQL} q GROUP BY doc_id", documents=docs)
    sh = _duck(f"SELECT doc_id, simhash FROM {td.SIMHASH_SQL} q",
               documents=docs)
    return dict(mh), dict(sh)


def test_signature_udfs_equal_sql(odd_docs):
    docs, table = odd_docs
    mh = td.minhash_sig_array(docs).toArrow()
    sh = td.simhash(docs).toArrow()
    want_mh, want_sh = _sig_sql(table)
    assert dict(zip(*mh.to_pydict().values())) == want_mh
    assert dict(zip(*sh.to_pydict().values())) == want_sh
    assert len(want_mh) == PART - 3 and not {0, 1, 2} & want_mh.keys()


def test_signature_funcs_on_sliced_empty_and_null_lists(spark):
    """``.func`` on a sliced token list column equals the SQL twins; an
    empty or NULL list raises, even a NULL whose offsets span tokens,
    and never gives a neighbour's signature or an ``IndexError``; 0 rows
    give 0 rows; a NULL token raises."""
    toks = [["a", "b"], ["ü", "日本", "ü"], ["x"], ["b", "a"]]
    arr = pa.array([["pad"]] * 3 + toks, pa.list_(pa.string())).slice(3)
    want_mh, want_sh = _sig_sql(pa.table({
        "doc_id": range(len(toks)), "text": [" ".join(t) for t in toks]}))
    kerns = ((td._minhash_sig_kernel(), pa.list_(pa.int64()), want_mh),
             (td._simhash_kernel(), pa.int64(), want_sh))
    for kern, _, want in kerns:
        assert kern.func(arr).to_pylist() == [want[i]
                                              for i in range(len(toks))]
    # row 1 is NULL but spans the tokens "c", "d"
    spanning = pa.ListArray.from_arrays(
        pa.array([0, 2, 4, 5], pa.int32()), pa.array(list("abcde")),
        mask=pa.array([False, True, False]))
    bad = [pa.array([["a"], []], pa.list_(pa.string())),       # trailing
           pa.array([[], ["a"]], pa.list_(pa.string())),       # leading
           pa.array([["a"], None, ["b"]], pa.list_(pa.string())),
           spanning]
    for kern, type_, _ in kerns:
        for col in bad:
            with pytest.raises(ValueError, match="empty or NULL"):
                kern.func(col)
        out = kern.func(arr.slice(0, 0))
        assert len(out) == 0 and out.type == type_
        with pytest.raises(ValueError, match="NULL token"):
            kern.func(pa.array([["a", None]], pa.list_(pa.string())))


def _nan_key(rows):
    return sorted(tuple("nan" if isinstance(v, float) and np.isnan(v) else v
                        for v in r) for r in rows)


def test_brute_force_topk_equals_sql_nan_and_ties(spark):
    """Every third vector is unique, the rest repeat 23 vectors, so
    exact ties straddle the kth score; vectors 7 and 300 hold a NaN, so
    7 scores NaN against every query (Spark and DuckDB rank NaN first)
    and query 300 scores NaN against everything."""
    elem = ("CASE WHEN id IN (7, 300) AND d = 5 THEN float('NaN') "
            "WHEN id % 3 = 0 THEN float(((id * 2654435761 + d * 40503) "
            "% 1000) / 1000.0 - 0.5) "
            "ELSE float((((id % 23) * 7919 + d * 104729) % 1000) "
            "/ 1000.0 - 0.5) END")
    emb = spark.range(0, 2000, 1, 4).selectExpr(
        "id AS vec_id",
        f"transform(sequence(0, {sim.DIM - 1}), d -> {elem}) AS embedding")
    qf = "vec_id % 100 = 0"
    got = [tuple(r) for r in sim.brute_force_topk(emb, 5, qf).collect()]
    want = _duck(sim.brute_force_topk_sql(5, qf), embeddings=emb.toArrow())
    assert _nan_key(got) == _nan_key(want) and len(want) == 20 * 5
    assert sum(r[1] == 7 for r in want) == 19  # NaN ranks first


@pytest.mark.parametrize("mode", ["brute", "lsh", "pq_adc"])
def test_topk_batch_covers_topk_with_ties(mode):
    """``_topk_batch`` over a sliced batch: every valid row scoring at
    or above a query's kth-best valid score (the top-k and all rows tied
    with the kth) is emitted with its exact score, a query never
    matches itself, and 0 rows emit nothing."""
    rng = np.random.default_rng(11)
    n, k = 40, 3
    X = rng.uniform(-0.5, 0.5, (6, sim.DIM)).astype(np.float32)[
        rng.integers(0, 6, n)]  # ~7 copies each: ties at the kth score
    q = [0, 9, 22, 30]
    X[q] = rng.uniform(-0.5, 0.5, (len(q), sim.DIM))  # only self scores 1
    X[5, 3] = X[17, 0] = X[30, 1] = np.nan  # query 30 scores NaN
    ids = np.arange(100, 100 + n, dtype=np.int64)
    p = sim._topk_payload(ids[q], X[q].astype(np.float64), mode)
    vec_id = pa.array(np.r_[np.zeros(3, np.int64), ids]).slice(3)
    emb = pa.array([[0.0] * sim.DIM] * 3 + X.tolist(),
                   pa.list_(pa.float32())).slice(3)

    S, valid = sim._score_batch(p, mode, ids, X.astype(np.float64))
    sel = np.where(np.isnan(S), np.inf, S)
    got = {(qi, vi): sc for qi, vi, sc in zip(
        *sim._topk_batch(p, mode, k, vec_id, emb).to_pydict().values())}
    for j, qid in enumerate(ids[q]):
        cand = np.flatnonzero(valid[:, j])
        if len(cand) == 0:  # no row shares the query's LSH bucket
            continue
        kth = np.sort(sel[cand, j])[::-1][min(k, len(cand)) - 1]
        need = {(qid, ids[i]) for i in cand if sel[i, j] >= kth}
        assert need <= got.keys(), (mode, qid)
    for (qi, vi), sc in got.items():
        i, j = vi - 100, q.index(qi - 100)
        assert valid[i, j] and qi != vi
        np.testing.assert_array_equal(sc, S[i, j])
    assert sim._topk_batch(p, mode, k, vec_id.slice(0, 0),
                           emb.slice(0, 0)) is None


# --------------------------------------------------------- pandas-free
_PROBE = textwrap.dedent("""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf

    @arrow_udf("long")
    def probe(v: pa.Array) -> pa.Array:
        import sys
        flag = (10 * ("geocoordinateconverter_spark.{module}" in sys.modules)
                + ("pandas" in sys.modules))
        return pa.Array.from_buffers(
            pa.int64(), len(v), [None, pa.py_buffer(np.full(len(v), flag))])

    # local[1] runs the 16 one-row tasks in turn, each on the head of
    # the FIFO idle-worker pool, so every pooled worker answers
    flags = spark.range(0, 16, 1, 16).select(probe("id")).collect()
    print("PROBE", *sorted(set(r[0] for r in flags)))
    spark.stop()
""")

_GEO_GUARD = textwrap.dedent("""
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
""")

_CORPUS_GUARD = textwrap.dedent("""
    import sys
    from geocoordinateconverter_spark.operators import (curation,
                                                        similarity, textdedup)
    print("IMPORT", int("pandas" in sys.modules))

    from geocoordinateconverter_spark.plans.session import build_session

    spark = build_session("pandas-free-guard", cores=1)
    docs = spark.range(300).selectExpr(
        "id AS doc_id", "concat_ws(' ', 'w' || (id % 17), 'v' || (id % 5), "
        "'u' || (id % 3), 'the', 'end', 'of', 'it') AS text")
    emb = spark.range(300).selectExpr(
        "id AS vec_id", "transform(sequence(0, 63), d -> "
        "float(((id * 31 + d * 17) % 101) / 101.0 - 0.5)) AS embedding")
    for out in (textdedup.minhash_pairs(docs), textdedup.simhash(docs),
                similarity.brute_force_topk(emb),
                similarity.lsh_buckets(emb), similarity.pq_codes_rows(emb),
                curation.decontaminate(docs)):
        out.write.format("noop").mode("overwrite").save()
""")


def _run_guard(script: str, module: str) -> list[str]:
    """stdout lines of ``script`` followed by the worker probe for
    ``module``, run in its own interpreter (the test session's driver
    has pandas loaded already).  The probe line lists the distinct
    flags 10·(module loaded) + (pandas loaded) of the pooled workers."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g",
               PYTHONPATH=os.pathsep.join(
                   [str(ROOT), os.environ.get("PYTHONPATH", "")]))
    res = subprocess.run(
        [sys.executable, "-c", script + _PROBE.format(module=module)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600)
    lines = [ln for ln in res.stdout.splitlines()
             if ln.startswith(("PROBE", "IMPORT"))]
    assert res.returncode == 0 and lines, res.stderr[-3000:]
    return lines


def test_geo_worker_never_imports_pandas():
    """One local[1] session runs t=3, t=7 and kNN to the noop sink, then
    probes its pooled workers: geodesy, which the t=3 kernel calls, is
    loaded in one (so the probe saw the kernels' worker) and pandas in
    none.  The driver imports pandas as soon as a session starts, so
    only a worker can tell."""
    lines = _run_guard(_GEO_GUARD, "geodesy")
    assert lines[-1] in ("PROBE 10", "PROBE 0 10"), \
        "worker flags (10·geodesy + pandas)"


def test_corpus_worker_never_imports_pandas():
    """The corpus modules import without pandas, and the pooled workers
    of a local[1] session that ran the MinHash pairs, SimHash,
    brute-force top-k, LSH bucket, PQ code and decontamination kernels
    have no pandas, one of them with textdedup loaded."""
    lines = _run_guard(_CORPUS_GUARD, "operators.textdedup")
    assert lines[0] == "IMPORT 0", "pandas imported with the corpus modules"
    assert lines[-1] in ("PROBE 10", "PROBE 0 10"), \
        "worker flags (10·textdedup + pandas)"
