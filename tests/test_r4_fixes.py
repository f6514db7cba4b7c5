"""Round-4 additions: fixed-point k-means, large-star/small-star
connected components, single-pass SimHash kernel, shapefile Z/M +
multipart, checkpoint partial-manifest crash."""
from __future__ import annotations

import numpy as np
import pytest


def test_ivf_train_kmeans_exact_matches_numpy_bitwise(spark):
    """The fixed-point trainer is EXACT: Spark output must equal the
    int64 NumPy replay with zero tolerance (sums are integer, hence
    order-independent), including n_vecs and the dyadic centroids."""
    from geocoordinateconverter_spark.operators import similarity as sim
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pdf = emb.orderBy("vec_id").toPandas()
    V = np.stack(pdf["embedding"].to_numpy())
    assign, Cq = sim.kmeans_replay_exact(V, n_iter=3)
    sizes = {c: int((assign == c).sum()) for c in range(sim.N_CLUSTERS)
             if (assign == c).any()}
    got = sim.ivf_train_kmeans_exact(emb, n_iter=3).collect()
    got_sizes = {}
    for r in got:
        got_sizes[r.cluster] = r.n_vecs
        assert r.centroid == Cq[r.cluster, r.d] / sim.KM_SCALE, \
            (r.cluster, r.d)
    assert got_sizes == sizes


def test_cc_star_long_chain_and_equivalence(spark):
    """A 41-node path graph has diameter 40: label propagation would
    need 40 rounds, while large-star/small-star must converge within
    25 and label every node with the component min."""
    from geocoordinateconverter_spark.operators import textdedup as td
    e = spark.createDataFrame([(i, i + 1) for i in range(40)],
                              "src long, dst long")
    star = {(r.doc_id, r.label) for r in td._cc_star(e, 25).collect()}
    assert star == {(i, 0) for i in range(41)}
    # two disjoint components keep distinct roots
    e2 = spark.createDataFrame([(1, 2), (2, 3), (10, 11)],
                               "src long, dst long")
    star2 = {(r.doc_id, r.label) for r in td._cc_star(e2, 25).collect()}
    assert star2 == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_minhash_sig_kernel_matches_explode_form(spark):
    """Map-only signature array vs the explode×K → groupBy twin:
    identical (doc_id, perm, sig) rows."""
    from geocoordinateconverter_spark.operators import textdedup as td
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    a = {(r.doc_id, r.perm): r.sig
         for r in td.minhash_signatures(docs, kernel=True).collect()}
    b = {(r.doc_id, r.perm): r.sig
         for r in td.minhash_signatures(docs, kernel=False).collect()}
    assert a == b and len(a) > 0


def test_minhash_sig_array_plan_is_map_only(spark):
    from geocoordinateconverter_spark.operators import textdedup as td
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    plan = (td.minhash_sig_array(docs)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_repetition_ratio_kernel_matches_explode_form(spark):
    """Run-length-fold mode count == the exploded two-agg form, and
    the kernel plan has no Exchange."""
    from geocoordinateconverter_spark.operators import textdedup as td
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    a = {r.doc_id: (r.top_gram_count, r.n_grams, r.repetition_ratio)
         for r in td.repetition_ratio(docs, kernel=True).collect()}
    b = {r.doc_id: (r.top_gram_count, r.n_grams, r.repetition_ratio)
         for r in td.repetition_ratio(docs, kernel=False).collect()}
    assert a == b and len(a) > 0
    plan = (td.repetition_ratio(docs)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_rolling_fp_horner_matches_explode_form(spark):
    """Horner-fold fingerprint == the exploded square-and-multiply
    form, doc for doc (same mod field, so equality is exact)."""
    from geocoordinateconverter_spark.operators import textdedup as td
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    a = {r.doc_id: (r.rolling_fp, r.n_tok)
         for r in td.rolling_fingerprint(docs, kernel=True).collect()}
    b = {r.doc_id: (r.rolling_fp, r.n_tok)
         for r in td.rolling_fingerprint(docs, kernel=False).collect()}
    assert a == b and len(a) > 0
    plan = (td.rolling_fingerprint(docs)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_simhash_kernel_matches_explode_form(spark):
    """The map-only Arrow kernel and the explode×60 SQL-shaped form
    must emit identical fingerprints for every doc (exact integer
    semantics, so equality is bitwise, not approximate)."""
    from geocoordinateconverter_spark.operators import textdedup as td
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    a = {r.doc_id: r.simhash
         for r in td.simhash(docs, kernel=True).collect()}
    b = {r.doc_id: r.simhash
         for r in td.simhash(docs, kernel=False).collect()}
    assert a == b and len(a) > 0


def test_simhash_kernel_plan_is_map_only(spark):
    """The kernel path must contain no Exchange (the whole point)."""
    from geocoordinateconverter_spark.operators import textdedup as td
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    plan = td.simhash(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan


def test_dms_negative_coordinates(spark):
    """Sign is factored out before the D/M/S integer math: southern/
    western coordinates format as '-DdMmS.Ss', not floor-toward--inf
    garbage — and the API column agrees with the shared SQL formatter
    on negatives."""
    import __spark_entry__ as em
    from pyspark.sql import functions as F

    from geocoordinateconverter_spark import api
    vals = [(-0.5,), (-46.05625,), (0.5,), (46.05625,), (-0.0001,)]
    df = spark.createDataFrame(vals, "fi double")
    a = [r.d for r in df.select(api._dms_col(F.col("fi"))
                                .alias("d")).collect()]
    assert a[0] == "-0d30m0.0s"
    assert a[1] == "-46d3m22.5s"
    assert a[2] == "0d30m0.0s"
    assert a[3] == "46d3m22.5s"
    assert not any("d-" in s or "m-" in s for s in a)
    df.createOrReplaceTempView("dmsneg")
    b = [r.d for r in spark.sql(
        f"SELECT {em.DMS_FMT_SQL} AS d FROM dmsneg").collect()]
    assert a == b


def test_knn_cellring_out_of_bbox_points(spark):
    """Out-of-bbox points take the exact broadcast candidate set (the
    ring-radius bound is proven over the bbox only): cellring must
    equal the brute-force path row-for-row on a mixed in/out input."""
    from geocoordinateconverter_spark.operators import knn as knn_op
    rows = [(0, 46.1, 14.5), (1, 46.8, 15.9),     # in bbox
            (2, 49.0, 14.5), (3, 46.1, 19.5),     # out (north / east)
            (4, 43.9, 12.9), (5, 47.9, 17.1)]     # out (south-west / ne)
    pts = spark.createDataFrame(rows, "k long, fi double, la double")
    ring = {(r.k, r.rk): r.station_id for r in knn_op.knn_join(
        pts, spark, key="k", k=3, method="cellring").collect()}
    brute = {(r.k, r.rk): r.station_id for r in knn_op.knn_join(
        pts, spark, key="k", k=3, method="broadcast").collect()}
    assert ring == brute and len(ring) == 6 * 3


def test_checkpoint_torn_manifest_recommits(spark, tmp_path_factory):
    """Crash DURING the manifest write: the manifest dir exists but is
    unreadable (partial/garbage parquet).  The rerun must detect it,
    quarantine it, and re-commit EVERY bucket rather than skipping —
    and the result must equal a clean one-shot write bucket-for-bucket
    (idempotence of the deterministic overwrite)."""
    import glob
    import os

    import pandas as pd

    from geocoordinateconverter_spark.operators import checkpoint as cp
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text", "lang"))
    out1 = str(tmp_path_factory.mktemp("ckpt_torn") / "out_torn")
    out2 = str(tmp_path_factory.mktemp("ckpt_torn") / "out_clean")

    with pytest.raises(RuntimeError, match="injected failure"):
        cp.checkpointed_write(docs, out1, key="doc_id", n_buckets=8,
                              fail_after_bucket=3)
    # tear the manifest: truncate one committed part file mid-way and
    # drop a garbage file next to it — the torn state a crash during
    # the append leaves behind
    mdir = os.path.join(out1, cp.MANIFEST)
    part = sorted(glob.glob(os.path.join(mdir, "part-*.parquet")))[0]
    raw = open(part, "rb").read()
    open(part, "wb").write(raw[: max(4, len(raw) // 2)])
    open(os.path.join(mdir, "part-torn.parquet"), "wb").write(b"PAR1junk")

    res = cp.checkpointed_write(docs, out1, key="doc_id", n_buckets=8)
    assert res["skipped"] == []          # nothing trusted
    assert sorted(res["written"]) == list(range(8))  # full re-commit
    assert glob.glob(mdir + ".corrupt.*")  # quarantined, not deleted

    cp.checkpointed_write(docs, out2, key="doc_id", n_buckets=8)
    ma = {r.bucket: (r.n_rows, r.value_hash)
          for r in cp.manifest(spark, out1).collect()}
    mb = {r.bucket: (r.n_rows, r.value_hash)
          for r in cp.manifest(spark, out2).collect()}
    assert ma == mb and len(ma) == 8
    a = (cp.read_checkpointed(spark, out1).toPandas()
         .sort_values("doc_id").reset_index(drop=True))
    b = (cp.read_checkpointed(spark, out2).toPandas()
         .sort_values("doc_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(a[sorted(a.columns)], b[sorted(b.columns)])


def test_shapefile_z_types_roundtrip(tmp_path):
    """PointZ / PolyLineZ / PolygonZ binary roundtrips are bit-exact,
    including multi-part (hole-ring) structure and M arrays."""
    from geocoordinateconverter_spark.sources import shapefile as shp
    base = str(tmp_path / "ptz")
    pts = [[np.array([[1.5, 2.5, 10.0, 0.25]])],
           [np.array([[3.5, 4.5, -2.0, shp.M_NODATA]])]]
    shp.write_shp(base, pts, shp.SHP_POINTZ)
    st, got = shp.read_shp(base)
    assert st == shp.SHP_POINTZ
    for a, b in zip(pts, got):
        np.testing.assert_array_equal(a[0], b[0])

    base2 = str(tmp_path / "polyz")
    outer = np.array([[0., 0., 1., 5.], [10., 0., 2., 6.],
                      [10., 10., 3., 7.], [0., 0., 1., 5.]])
    hole = np.array([[2., 1., 1.5, 8.], [5., 1., 1.6, 9.],
                     [4., 3., 1.7, 10.], [2., 1., 1.5, 8.]])
    shapes = [[outer, hole], [outer + 100.0]]
    shp.write_shp(base2, shapes, shp.SHP_POLYGONZ)
    st2, got2 = shp.read_shp(base2)
    assert st2 == shp.SHP_POLYGONZ
    assert [len(s) for s in got2] == [2, 1]  # part structure preserved
    for srec, grec in zip(shapes, got2):
        for sp, gp in zip(srec, grec):
            np.testing.assert_array_equal(sp, gp)


def test_shapefile_m_and_multipoint_types(tmp_path):
    """PointM / PolyLineM / MultiPoint / MultiPointZ / MultiPointM
    roundtrips are bit-exact — the full ESRI type matrix minus
    MultiPatch."""
    from geocoordinateconverter_spark.sources import shapefile as shp
    # PointM (21)
    base = str(tmp_path / "ptm")
    pts = [[np.array([[1.0, 2.0, 0.5]])], [np.array([[3.0, 4.0, shp.M_NODATA]])]]
    shp.write_shp(base, pts, shp.SHP_POINTM)
    st, got = shp.read_shp(base)
    assert st == shp.SHP_POINTM
    for a, b in zip(pts, got):
        np.testing.assert_array_equal(a[0], b[0])
    # PolyLineM (23), two parts
    base = str(tmp_path / "linem")
    lines = [[np.array([[0., 0., 1.], [1., 1., 2.]]),
              np.array([[5., 5., 3.], [6., 5., 4.], [7., 5., 5.]])]]
    shp.write_shp(base, lines, shp.SHP_POLYLINEM)
    st, got = shp.read_shp(base)
    assert st == shp.SHP_POLYLINEM and len(got[0]) == 2
    for a, b in zip(lines[0], got[0]):
        np.testing.assert_array_equal(a, b)
    # MultiPoint (8) / MultiPointZ (18) / MultiPointM (28)
    for t, w in ((shp.SHP_MULTIPOINT, 2), (shp.SHP_MULTIPOINTZ, 4),
                 (shp.SHP_MULTIPOINTM, 3)):
        base = str(tmp_path / f"mp{t}")
        rec = np.arange(12.0 * w).reshape(12, w)
        shp.write_shp(base, [[rec]], t)
        st, got = shp.read_shp(base)
        assert st == t and len(got[0]) == 1
        np.testing.assert_array_equal(got[0][0], rec)


def test_shapefile_m_range_excludes_nodata(tmp_path):
    """Per spec, NODATA measures (< -1e38) must not pollute Mmin/Mmax
    in the file header or the record's M block."""
    import struct

    from geocoordinateconverter_spark.sources import shapefile as shp
    base = str(tmp_path / "mnodata")
    line = np.array([[0., 0., 2.5], [1., 0., shp.M_NODATA],
                     [2., 0., 7.5]])
    shp.write_shp(base, [[line]], shp.SHP_POLYLINEM)
    raw = open(base + ".shp", "rb").read()
    hdr_mmin, hdr_mmax = struct.unpack("<2d", raw[84:100])
    assert (hdr_mmin, hdr_mmax) == (2.5, 7.5)
    # record: 100 (file hdr) + 8 (rec hdr) + 4 (type) + 32 (box) +
    # 4+4 (nparts,npts) + 4 (parts) + 48 (3 xy pairs) → M block
    mo = 100 + 8 + 4 + 32 + 8 + 4 + 48
    rec_mmin, rec_mmax = struct.unpack("<2d", raw[mo:mo + 16])
    assert (rec_mmin, rec_mmax) == (2.5, 7.5)
    # values themselves still roundtrip bit-exactly, sentinel included
    _, got = shp.read_shp(base)
    np.testing.assert_array_equal(got[0][0], line)


def test_shapefile_null_shape_records(tmp_path):
    """A null-shape (type 0) record inside a Polygon file survives the
    roundtrip as an empty record and contributes no vertex rows."""
    from geocoordinateconverter_spark.sources import shapefile as shp
    base = str(tmp_path / "withnull")
    ring = np.array([[0., 0.], [4., 0.], [4., 4.], [0., 0.]])
    shapes = [[ring], [], [ring + 10.0]]
    shp.write_shp(base, shapes, shp.SHP_POLYGON)
    st, got = shp.read_shp(base)
    assert st == shp.SHP_POLYGON
    assert len(got) == 3 and got[1] == []
    np.testing.assert_array_equal(got[0][0], ring)
    np.testing.assert_array_equal(got[2][0], ring + 10.0)


def test_shapefile_zm_df_bridge(spark, tmp_path):
    """df → PolygonZ file → df keeps x/y/z/m bitwise and maps NULL m
    through the spec's NODATA sentinel."""
    from geocoordinateconverter_spark.sources import shapefile as shp
    rows = [(1, 0, 0, 0.0, 0.0, 5.0, 1.0), (1, 0, 1, 9.0, 0.0, 6.0, None),
            (1, 1, 2, 2.0, 1.0, 7.0, 3.0), (2, 0, 0, 50.0, 50.0, 8.0, 4.0)]
    df = spark.createDataFrame(rows, shp.VERTEX_SCHEMA_ZM)
    base = str(tmp_path / "zmbridge")
    shp.df_to_shapefile(df, base, shp.SHP_POLYGONZ)
    back = {(r.geom_id, r.part, r.vid): (r.x, r.y, r.z, r.m)
            for r in shp.shapefile_to_df(spark, base).collect()}
    for gid, part, vid, x, y, z, m in rows:
        bx, by, bz, bm = back[(gid, part, vid)]
        assert (bx, by, bz) == (x, y, z)
        assert bm == (m if m is not None else shp.M_NODATA)


def test_ann_recall_clustered_orderings(spark):
    """On the 16-cluster fixture every ANN arm must beat chance by an
    order of magnitude, nprobe=3 must beat single-probe IVF, and every
    arm must beat its own recall on the uniform fixture (which is the
    documented worst case).  Note the honest finding: tight clusters
    are the IDEAL case for hyperplane LSH (cluster members share
    buckets), so LSH can exceed single-probe IVF here — the diagnostic
    distinguishes working from broken, not a fixed method ranking."""
    import __spark_entry__ as em
    q = em.queries()
    sf = "/root/testdata/sf0.001"
    clustered = {r.method: r.recall_at_5
                 for r in q["ann_recall_report_clustered"](spark, sf).collect()}
    uniform = {r.method: r.recall_at_5
               for r in q["ann_recall_report"](spark, sf).collect()}
    chance = 5.0 / 500.0
    for m in ("lsh", "ivf", "ivf_nprobe"):
        assert clustered[m] > 10 * chance, (m, clustered[m])
        assert clustered[m] > uniform[m], (m, clustered[m], uniform[m])
    assert clustered["ivf_nprobe"] >= clustered["ivf"]


def test_ivf_train_kmeans_exact_partition_invariant(spark):
    """Shuffle-order invariance is the whole point of the fixed-point
    formulation: training on a 13-partition scramble of the input must
    produce the bit-identical model (the N vs 4N executor
    reproducibility the north rule demands, provoked locally)."""
    from geocoordinateconverter_spark.operators import similarity as sim
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = {(r.cluster, r.d): (r.n_vecs, r.centroid)
            for r in sim.ivf_train_kmeans_exact(emb, n_iter=3).collect()}
    scrambled = emb.repartition(13, "label")
    alt = {(r.cluster, r.d): (r.n_vecs, r.centroid)
           for r in sim.ivf_train_kmeans_exact(scrambled,
                                               n_iter=3).collect()}
    assert base == alt
