"""Round-5 fix regression tests (ADVICE r4 + VERDICT r4 items)."""

from __future__ import annotations

import numpy as np
import pytest

from geocoordinateconverter_spark.operators import knn as knn_op
from geocoordinateconverter_spark.operators import multimodal as mm
from geocoordinateconverter_spark.sources import shapefile as shp


# ---- radius join: gated cartesian fallback + explicit NULL rule ---------

def _mk_pts(spark, rows):
    return spark.createDataFrame(rows, "k bigint, fi double, la double")


def test_cellring_all_in_bbox_plan_has_no_bnlj(spark):
    """ADVICE r4: with every point in the working bbox radius_join's
    out-of-bbox cartesian fallback must be gated OUT — no
    BroadcastNestedLoopJoin branch — and the pruned pairs are exact."""
    rows = [(i, 45.6 + 0.001 * i, 14.2 + 0.001 * i) for i in range(50)]
    out = knn_op.radius_join(_mk_pts(spark, rows), spark, radius=0.5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    pos = knn_op.station_positions(25)
    fi = np.array([r[1] for r in rows])
    la = np.array([r[2] for r in rows])
    d2 = ((fi[:, None] - pos[None, :, 0]) ** 2
          + (knn_op.LA_FACTOR * (la[:, None] - pos[None, :, 1])) ** 2)
    exp = int((d2 <= 0.5 ** 2).sum())
    assert exp > 0 and out.count() == exp


def test_null_coords_excluded_by_every_method(spark):
    """r5 review: NULL coordinates are excluded by knn_join and
    radius_join alike (no NaN/NULL-dist2 rows)."""
    rows = [(1, 45.6, 14.2), (2, None, 14.2), (3, 45.6, None)]
    pts = _mk_pts(spark, rows)
    for out in (knn_op.knn_join(pts, spark, key="k", k=3),
                knn_op.radius_join(pts, spark, radius=0.5)):
        assert sorted(set(r.k for r in out.collect())) == [1]


# ---- corpus operators read each frame once and persist nothing ----------

def _persisted_frames(spark) -> set:
    """Ids of persisted RDDs other than local checkpoints (the star
    connected-components rounds truncate their lineage that way)."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return {k for k in rdds.keySet()
            if not rdds.get(k).rdd().isLocallyCheckpointed()}


@pytest.mark.parametrize("op", [
    "textdedup.minhash_pairs", "textdedup.simhash_near_dup_pairs",
    "textdedup.minhash_rerank_exact", "textdedup.near_dup_drop_list",
    "textdedup.near_dup_components", "curation.dup_ngram_spans",
    "curation.line_dedup", "sketch.cms_heavy_hitters"])
def test_corpus_operator_persists_nothing(spark, op):
    import importlib
    mod, fn = op.split(".")
    f = getattr(importlib.import_module(
        f"geocoordinateconverter_spark.operators.{mod}"), fn)
    docs = spark.createDataFrame(
        [(i, f"some body of text number {i % 3} repeated here and there",
          f"src{i % 2}") for i in range(40)],
        "doc_id bigint, text string, source string")
    spark.catalog.clearCache()
    before = _persisted_frames(spark)
    f(docs).collect()
    assert _persisted_frames(spark) == before


# ---- shapefile M-NODATA boundary -----------------------------------------

def test_m_range_includes_exact_nodata_boundary():
    """ESRI spec: values LESS THAN -1e38 are nodata; exactly -1e38 is a
    legal measure and must enter Mmin/Mmax (ADVICE r4)."""
    vals = np.array([-1e38, 5.0, -1.1e38])  # last one is true nodata
    lo, hi = shp._m_rng(vals)
    assert lo == -1e38 and hi == 5.0


# ---- decode_media optional-codec self-upgrade ----------------------------

def test_decode_media_raw_and_stub_paths():
    assert (mm.decode_media(b"\x01\x02", "raw") ==
            np.array([1, 2], np.uint8)).all()
    if not mm._pil_available():
        with pytest.raises(NotImplementedError, match="Pillow"):
            mm.decode_media(b"xx", "png")
    with pytest.raises(NotImplementedError):
        mm.decode_media(b"xx", "mp4")


@pytest.mark.skipif(not mm._pil_available(), reason="Pillow not installed")
def test_decode_media_png_roundtrip_with_pil():
    import io

    from PIL import Image
    img = Image.new("L", (2, 2))
    buf = io.BytesIO()
    img.save(buf, format="PNG")
    arr = mm.decode_media(buf.getvalue(), "png")
    assert arr.shape == (2, 2)


# ---- as-of join (union-window form) --------------------------------------

def test_asof_join_semantics_and_ties(spark):
    from datetime import datetime
    from geocoordinateconverter_spark.operators import rangejoin as rj
    T = lambda s: datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    rows = [
        # (event_id, ts, user_id, type)
        (1, T(10), 1, "view"),
        (2, T(18), 1, "click"),    # -> view 1, lag 8s
        (3, T(20), 1, "view"),     # equal-ts view counts (<=)
        (4, T(20), 1, "click"),    # -> view 3 (equal ts, views first)
        (5, T(30), 1, "view"),
        (6, T(30), 1, "view"),     # duplicate-ts views: higher id wins
        (7, T(40), 1, "click"),    # -> view 6
        (8, T(5), 2, "click"),     # no prior view -> NULLs
    ]
    df = spark.createDataFrame(
        [(i, t, u, k, 0.0, "{}") for i, t, u, k in rows],
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string")
    got = {r.event_id: r for r in rj.asof_clicks_views(df).collect()}
    assert set(got) == {2, 4, 7, 8}
    assert got[2].asof_right_id == 1 and got[2].lag_us == 8_000_000
    assert got[4].asof_right_id == 3 and got[4].lag_us == 0
    assert got[7].asof_right_id == 6 and got[7].lag_us == 10_000_000
    assert got[8].asof_right_id is None and got[8].lag_us is None


def test_asof_join_plan_has_no_join(spark):
    # the scale claim: the as-of is a union + window, not a join — the
    # physical plan must contain a single Exchange (user_id) and zero
    # join operators of any kind
    from geocoordinateconverter_spark.operators import rangejoin as rj
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    p = rj.asof_clicks_views(ev)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in p
    assert p.count("Exchange") == 1


def test_pq_train_codebooks_exact_matches_numpy_bitwise(spark):
    """Trained PQ: Spark output ≡ int64 NumPy replay with zero
    tolerance (same fixed-point contract as the IVF trainer), and
    partition-count invariance."""
    from geocoordinateconverter_spark.operators import similarity as sim
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pdf = emb.orderBy("vec_id").toPandas()
    V = np.stack(pdf["embedding"].to_numpy())
    codes, Cq = sim.pq_train_replay_exact(V, n_iter=3)
    got = sim.pq_train_codebooks_exact(emb, n_iter=3).collect()
    sizes = {(m, j): int((codes[:, m] == j).sum())
             for m in range(sim.PQ_M) for j in range(sim.PQ_K)
             if (codes[:, m] == j).any()}
    got_sizes = {}
    for r in got:
        got_sizes[(r.m, r.cluster)] = r.n_vecs
        assert r.centroid == Cq[r.m, r.cluster, r.d] / sim.KM_SCALE
    assert got_sizes == sizes
    # partition invariance (int sums are order-free)
    got13 = sim.pq_train_codebooks_exact(emb.repartition(13),
                                         n_iter=3).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, got13))


def test_pq_trained_beats_grid_adc_recall(spark):
    """The POINT of training: on the clustered fixture, ADC recall@5
    with 3-iteration trained codebooks must beat the untrained grid
    codebooks (whose raw-ADC recall is quantization-error-bound)."""
    from geocoordinateconverter_spark.operators import similarity as sim
    emb = sim.clustered_embeddings(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
    pdf = emb.orderBy("vec_id").toPandas()
    V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()

    def adc_recall(C):
        """recall@5 of ADC scores vs exact cosine, queries = id%50==0."""
        M, K, S = C.shape
        H = 0.5 * (C * C).sum(axis=2)
        codes = np.empty((V.shape[0], M), dtype=np.int64)
        for m in range(M):
            Xm = V[:, m * S:(m + 1) * S]
            codes[:, m] = (Xm @ C[m].T - H[m]).argmax(axis=1)
        norms = np.sqrt((V * V).sum(axis=1))
        qs = np.nonzero(ids % 50 == 0)[0]
        hit = tot = 0
        for qi in qs:
            cand = np.nonzero(ids != ids[qi])[0]
            cos = (V[cand] @ V[qi]) / (norms[cand] * norms[qi])
            exact5 = set(ids[cand[np.lexsort((ids[cand], -cos))][:5]])
            lut = np.empty((M, K))
            for m in range(M):
                lut[m] = C[m] @ V[qi, m * S:(m + 1) * S] - H[m]
            adc = lut[np.arange(M)[None, :], codes[cand]].sum(axis=1)
            adc5 = set(ids[cand[np.lexsort((ids[cand], -adc))][:5]])
            hit += len(exact5 & adc5)
            tot += 5
        return hit / tot

    grid = sim.PQ_CODEBOOK
    _, Cq = sim.pq_train_replay_exact(V, n_iter=3)
    trained = Cq.astype(np.float64) / sim.KM_SCALE
    r_grid, r_trained = adc_recall(grid), adc_recall(trained)
    assert r_trained > r_grid, (r_trained, r_grid)
    assert r_trained >= r_grid + 0.1  # a real lift, not noise


def test_ivf_trained_beats_grid_cell_recall(spark):
    """Same demonstration for the COARSE quantizer: single-probe IVF
    recall@5 on the clustered fixture with 3-iteration trained
    centroids must beat the fixed grid centroids."""
    from geocoordinateconverter_spark.operators import similarity as sim
    emb = sim.clustered_embeddings(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
    pdf = emb.orderBy("vec_id").toPandas()
    V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()

    def ivf_recall(C):
        score = V @ C.T - 0.5 * (C * C).sum(axis=1)
        assign = score.argmax(axis=1)
        norms = np.sqrt((V * V).sum(axis=1))
        hit = tot = 0
        for qi in np.nonzero(ids % 50 == 0)[0]:
            cand = np.nonzero(ids != ids[qi])[0]
            cos = (V[cand] @ V[qi]) / (norms[cand] * norms[qi])
            exact5 = set(ids[cand[np.lexsort((ids[cand], -cos))][:5]])
            inc = cand[assign[cand] == assign[qi]]
            cos_c = (V[inc] @ V[qi]) / (norms[inc] * norms[qi])
            got5 = set(ids[inc[np.lexsort((ids[inc], -cos_c))][:5]])
            hit += len(exact5 & got5)
            tot += 5
        return hit / tot

    grid = np.array([[sim.centroid_coef(c, d) for d in range(sim.DIM)]
                     for c in range(sim.N_CLUSTERS)])
    _, Cq = sim.kmeans_replay_exact(V, n_iter=3)
    r_grid = ivf_recall(grid)
    r_trained = ivf_recall(Cq.astype(np.float64) / sim.KM_SCALE)
    assert r_trained > r_grid, (r_trained, r_grid)
