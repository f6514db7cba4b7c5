"""Operator-layer tests: checkpoint resumability, streaming/batch
equivalence, hot-cell tile aggregation, dedup kernels, entry() smoke."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geocoordinateconverter_spark import cells, kernels
from geocoordinateconverter_spark.operators import checkpoint as cp
from geocoordinateconverter_spark.operators import multimodal as mm
from geocoordinateconverter_spark.operators import similarity as sim
from geocoordinateconverter_spark.operators import tiles
from geocoordinateconverter_spark.streaming import windows as sw
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


def test_checkpoint_resume(spark, docs, tmp_path_factory):
    """north_star resumability: crash mid-write → rerun skips completed
    buckets and the final table equals a clean one-shot write."""
    out1 = str(tmp_path_factory.mktemp("ckpt") / "out_crash")
    out2 = str(tmp_path_factory.mktemp("ckpt") / "out_clean")
    df = docs.select("doc_id", "text", "lang")

    with pytest.raises(RuntimeError, match="injected failure"):
        cp.checkpointed_write(df, out1, key="doc_id", n_buckets=8,
                              fail_after_bucket=3)
    m1 = cp.manifest(spark, out1).collect()
    assert len(m1) == 4  # buckets 0..3 committed before the crash

    res = cp.checkpointed_write(df, out1, key="doc_id", n_buckets=8)
    assert sorted(res["skipped"]) == [0, 1, 2, 3]
    assert sorted(res["written"]) == [4, 5, 6, 7]

    cp.checkpointed_write(df, out2, key="doc_id", n_buckets=8)
    a = cp.read_checkpointed(spark, out1).toPandas().sort_values("doc_id").reset_index(drop=True)
    b = cp.read_checkpointed(spark, out2).toPandas().sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a[sorted(a.columns)], b[sorted(b.columns)])
    # manifest value hashes match bucket-for-bucket (byte-equivalence)
    ma = {r.bucket: r.value_hash for r in cp.manifest(spark, out1).collect()}
    mb = {r.bucket: r.value_hash for r in cp.manifest(spark, out2).collect()}
    assert ma == mb


def test_streaming_equals_batch(spark, tmp_path_factory):
    import shutil
    base = tmp_path_factory.mktemp("stream")
    ck = str(base / "ck")
    events_dir = base / "events"
    events_dir.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", events_dir / "part-0.parquet")
    events_path = str(events_dir)
    batch = sw.windowed_event_agg(spark.read.parquet(events_path)) \
        .toPandas().sort_values(["win", "event_type"]).reset_index(drop=True)
    sdf = sw.windowed_event_agg_streaming(spark, events_path, ck)
    q = (sdf.writeStream.format("memory").queryName("winagg")
         .outputMode("complete").option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120), "stream did not finish in 120s"
    got = (spark.table("winagg").toPandas()
           .sort_values(["win", "event_type"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(
        got[batch.columns.tolist()].astype(batch.dtypes.to_dict()), batch)


def test_geo_pipeline_streaming_equals_batch(spark, tmp_path_factory):
    """Streaming twin of the flagship geoparse→t3→tile pipeline equals
    the batch run row-for-row (availableNow, complete mode)."""
    import shutil

    from geocoordinateconverter_spark.streaming import geopipeline as gp
    base = tmp_path_factory.mktemp("geostream")
    docs_dir = base / "documents"
    docs_dir.mkdir()
    shutil.copy(f"{SF_SMOKE}/documents.parquet", docs_dir / "part-0.parquet")
    spark.read.parquet(str(docs_dir)).createOrReplaceTempView("gp_docs")
    batch = (gp.flagship_tiles_batch(spark, "gp_docs")
             .toPandas().sort_values("cell").reset_index(drop=True))
    sdf = gp.flagship_tiles_streaming(spark, str(docs_dir))
    q = (sdf.writeStream.format("memory").queryName("geotiles")
         .outputMode("complete")
         .option("checkpointLocation", str(base / "ck"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120), "stream did not finish in 120s"
    got = (spark.table("geotiles").toPandas()
           .sort_values("cell").reset_index(drop=True))
    pd.testing.assert_frame_equal(
        got[batch.columns.tolist()].astype(batch.dtypes.to_dict()), batch)


def test_ivf_assignment_and_rerank(spark):
    """IVF quantizer: every vector lands in a valid cell; the in-cell
    top-k cosine ordering agrees with a NumPy recomputation."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    sizes = sim.ivf_cluster_sizes(emb).toPandas()
    assert set(sizes["cluster"]) <= set(range(sim.N_CLUSTERS))
    assert sizes["n_vecs"].sum() == emb.count()
    got = sim.ivf_topk(emb, k=3).toPandas()
    # NumPy oracle: assign with the same centroids, rerank in-cell
    pdf = emb.toPandas()
    X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    C = np.array([[sim.centroid_coef(c, d) for d in range(sim.DIM)]
                  for c in range(sim.N_CLUSTERS)])
    scores = X @ C.T - 0.5 * (C * C).sum(axis=1)
    assign = scores.argmax(axis=1)
    ids = pdf["vec_id"].to_numpy()
    norms = np.sqrt((X * X).sum(axis=1))
    for q_row in np.nonzero(ids % 50 == 0)[0][:5]:
        cell = assign[q_row]
        cand = np.nonzero((assign == cell) & (ids != ids[q_row]))[0]
        cos = (X[cand] @ X[q_row]) / (norms[cand] * norms[q_row])
        order = cand[np.lexsort((ids[cand], -cos))][:3]
        mine = got[got.q_id == ids[q_row]].sort_values("rk")["vec_id"].tolist()
        assert mine == ids[order].tolist()


@pytest.fixture(scope="module")
def skewed_pts(spark):
    rng = np.random.default_rng(5)
    n = 40000
    hot = rng.random(n) < 0.6
    fi = np.where(hot, 46.05 + 0.002 * rng.random(n),
                  rng.uniform(45.25, 47.0, n))
    la = np.where(hot, 14.51 + 0.002 * rng.random(n),
                  rng.uniform(13.25, 16.75, n))
    return spark.createDataFrame(pd.DataFrame(
        {"k": np.arange(n), "fi": fi, "la": la}))


def test_tile_distinct_agg_spreads_hot_cell(spark, skewed_pts):
    """60 % of the rows sit in one or two res-7 cells.  The distinct
    count per cell must (1) equal a pandas groupby on the NumPy cell
    encoder, (2) plan as two shuffles with the lower one hashed on
    (cell, k), and (3) so leave no partition after that shuffle above
    its fair share — where hashing on cell alone would pin the hot
    cell to one reducer."""
    df = tiles.salted_tile_agg(skewed_pts, key="k")
    plan = df._jdf.queryExecution().executedPlan().toString()

    src = skewed_pts.toPandas()
    src["cell"] = cells.encode(src["fi"].to_numpy(), src["la"].to_numpy(), 7)
    want = (src.groupby("cell")["k"].agg(["size", "nunique"])
            .rename(columns={"size": "n_pts", "nunique": "n_distinct"})
            .reset_index())
    got = df.toPandas().sort_values("cell").reset_index(drop=True)
    pd.testing.assert_frame_equal(got[want.columns.tolist()], want,
                                  check_dtype=False)

    shuffles = re.findall(r"(?<!Broadcast)Exchange (\w+)\(([^)]*)\)", plan)
    assert [kind for kind, _ in shuffles] == ["hashpartitioning"] * 2, plan
    lower = [c.split("#")[0].strip() for c in shuffles[-1][1].split(",")]
    assert lower[:2] == ["cell", "k"], plan
    n_part = int(lower[2])

    def max_share(*keys):
        part = F.pmod(F.hash(*keys), F.lit(n_part))
        counts = [r[1] for r in (skewed_pts
                  .withColumn("cell", kernels.cell_col(F.col("fi"),
                                                       F.col("la"), 7))
                  .groupBy(part).count().collect())]
        return max(counts) / (len(src) / n_part)

    assert max_share("cell", "k") < 1.1
    assert max_share("cell") > 2.0  # the skew the (cell, k) key removes


def test_rolling_fingerprint_uncapped(spark):
    """docs longer than r1's 512-token cap fingerprint correctly: the
    Horner fold has no length limit (VERDICT r1 #4).  Reference =
    pure-Python Horner evaluation of the same polynomial."""
    import hashlib

    from geocoordinateconverter_spark.operators import textdedup as td

    def py_fp(tokens):
        fp = 0
        for t in tokens:
            th = int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % td.ROLL_P
            fp = (fp * td.ROLL_B + th) % td.ROLL_P
        return fp

    docs = [(1, " ".join(f"w{i % 97}" for i in range(1000))),
            (2, " ".join(f"w{i % 97}" for i in range(513))),
            (3, "a b c"),
            # differ only PAST token 512 — r1's cap made these collide
            (4, " ".join(["x"] * 600)),
            (5, " ".join(["x"] * 599 + ["y"]))]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {r.doc_id: (r.rolling_fp, r.n_tok)
           for r in td.rolling_fingerprint(df).collect()}
    for doc_id, text in docs:
        toks = [t for t in text.split(" ") if t]
        assert got[doc_id] == (py_fp(toks), len(toks)), doc_id
    assert got[4][0] != got[5][0]  # tail-divergent docs must differ


def test_multimodal_stub_and_features(spark, docs):
    feats = mm.extract_features(mm.html_binary(docs), "html", "raw").toPandas()
    assert len(feats) == docs.count()
    assert (feats["n_bytes"] > 25).all()  # wrapper adds 27 bytes
    assert feats["magic"].iloc[0] == "3c68746d"  # '<htm'
    assert ((feats["byte_entropy"] > 0) & (feats["byte_entropy"] < 8)).all()
    with pytest.raises(NotImplementedError):
        mm.decode_media(b"xx", "jpeg")


def test_entry_smoke(spark):
    import __spark_entry__ as e
    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"cell", "mun_id", "n_docs", "avg_h"}


def test_register_is_per_session(spark):
    """Temp views are session state: registering a data dir in one
    session must not make _register skip a sibling session."""
    import __spark_entry__ as e
    e._register(spark, SF_SMOKE)
    other = spark.newSession()
    e._register(other, SF_SMOKE)
    assert "doc_id" in other.table("documents").columns


def test_stateful_streaming_dedup(spark, docs, tmp_path_factory):
    """applyInPandasWithState dedup ≡ batch exact_dedup on the same
    corpus (streaming/stateful.py)."""
    import shutil

    from geocoordinateconverter_spark.operators import textdedup as td
    from geocoordinateconverter_spark.streaming import stateful

    base = tmp_path_factory.mktemp("sdedup")
    src_dir = base / "docs"
    src_dir.mkdir()
    shutil.copy(f"{SF_SMOKE}/documents.parquet", src_dir / "part-0.parquet")

    batch = (td.exact_dedup(spark.read.parquet(str(src_dir)))
             .toPandas().sort_values("text_md5").reset_index(drop=True))

    schema = spark.read.parquet(str(src_dir)).schema
    stream = spark.readStream.schema(schema).parquet(str(src_dir))
    out = stateful.streaming_dedup(stream)
    q = (out.writeStream.format("memory").queryName("sdedup")
         .outputMode("update")
         .option("checkpointLocation", str(base / "ck"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120), "stream did not finish in 120s"
    got = (spark.table("sdedup").toPandas()
           .sort_values("text_md5").reset_index(drop=True))
    # same groups, same keeper, same counts (column name differs: n_dups)
    assert list(got["text_md5"]) == list(batch["text_md5"])
    assert list(got["keep_doc_id"]) == list(batch["keep_doc_id"])
    assert list(got["n_seen"]) == list(batch["n_dups"])


def test_pagerank_fixed_point_deterministic(spark):
    """(a) partitioning invariance: int64 fixed-point ranks are
    bit-identical across shuffle-partition counts (the float form
    would not be); (b) sanity vs a float numpy PageRank on the same
    graph: relative agreement to ~1e-10 (5 truncating int divisions
    at scale 1e12 cost at most ~5e-12 each)."""
    from geocoordinateconverter_spark.operators import graph as gr

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    a = (gr.pagerank_hosts(orders, spark).toPandas()
         .sort_values("node").reset_index(drop=True))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        b = (gr.pagerank_hosts(orders, spark).toPandas()
             .sort_values("node").reset_index(drop=True))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    pd.testing.assert_frame_equal(a, b)

    e = (gr.host_edges(orders).toPandas()
         .drop_duplicates().to_numpy())
    n = gr.N_HOSTS
    out = np.zeros(n)
    np.add.at(out, e[:, 0], 1)
    pr = np.full(n, 1.0 / n)
    for _ in range(gr.N_ITER):
        nxt = np.full(n, 0.15 / n)
        contrib = pr[e[:, 0]] / out[e[:, 0]]
        np.add.at(nxt, e[:, 1], 0.85 * contrib)
        pr = nxt
    got = a["pr"].to_numpy() / gr.SCALE
    np.testing.assert_allclose(got, pr, rtol=0, atol=1e-9)


def test_streaming_watermark_drops_late_rows(spark, tmp_path_factory):
    """Late-data semantics (round brief: watermarks + windowed aggs):
    in append mode a window is emitted once its end passes the
    watermark, and a row arriving after that — older than the
    watermark — is DROPPED, not re-aggregated.  Two availableNow
    epochs over one checkpoint: epoch 2 delivers a late row into the
    already-finalized window A plus fresh rows that advance the
    watermark past window B."""
    base = tmp_path_factory.mktemp("late")
    in_dir, out_dir, ck = (str(base / d) for d in ("in", "out", "ck"))
    import os
    os.makedirs(in_dir)

    def write_batch(name, rows):
        pdf = pd.DataFrame(rows, columns=["ts", "event_type", "value"])
        # Spark cannot read TIMESTAMP(NANOS) parquet — write micros
        pdf["ts"] = pd.to_datetime(pdf["ts"], unit="s").astype("datetime64[us]")
        # one file per epoch, atomically visible to the file source
        pdf.to_parquet(f"{in_dir}/{name}.parquet")

    def run_epoch():
        from geocoordinateconverter_spark.streaming import windows as sw2
        sdf = sw2.windowed_event_agg_streaming(spark, in_dir, ck)
        q = (sdf.writeStream.format("parquet").option("path", out_dir)
             .outputMode("append").option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120), "epoch did not finish in 120s"

    t0 = 1_700_000_000 - (1_700_000_000 % 300)      # window-aligned base
    write_batch("b1", [(t0 + i * 6, "click", 1.0) for i in range(10)]
                + [(t0 + 3600 + i, "click", 1.0) for i in range(5)])
    run_epoch()
    # watermark after epoch 1 ≈ t0+3604-600s → window A [t0, t0+300)
    # finalized; window B [t0+3600, ...) still open
    write_batch("b2", [(t0 + 30, "click", 99.0)]     # LATE into window A
                + [(t0 + 7200 + i, "click", 1.0) for i in range(3)])
    run_epoch()
    got = (spark.read.parquet(out_dir).toPandas()
           .sort_values("win").reset_index(drop=True))
    win_a, win_b = t0 // 300, (t0 + 3600) // 300
    # A emitted exactly once, WITHOUT the late row's value=99
    a = got[got["win"] == win_a]
    assert len(a) == 1 and int(a["n_events"].iloc[0]) == 10
    assert float(a["sum_value"].iloc[0]) == 10.0
    # B finalized by epoch 2's watermark advance; C still open
    b = got[got["win"] == win_b]
    assert len(b) == 1 and int(b["n_events"].iloc[0]) == 5
    assert set(got["win"]) == {win_a, win_b}


def test_frame_sample_reference_and_edges(spark):
    """frame_sample vs an independent Python reference on crafted
    payloads: sub-frame payload (0 frames → md5('')), exact frame
    boundary, trailing partial frame excluded, stride > n_frames."""
    import hashlib

    payloads = [
        (0, b"x" * 7),                 # < one frame
        (1, b"ab" * 8),                # exactly 1 frame (16 B)
        (2, bytes(range(100))),        # 6 frames + 4-byte tail
        (3, b"q" * (16 * 13 + 5)),     # 13 frames, stride skips most
        (4, b""),                      # empty payload
    ]
    df = spark.createDataFrame(payloads, "doc_id long, html binary")
    got = {r.doc_id: r for r in mm.frame_sample(df).collect()}
    for doc_id, p in payloads:
        hx = p.hex().upper()
        frames = [hx[j * 32:(j + 1) * 32] for j in range(len(p) // 16)]
        sampled = "".join(frames[::4])
        exp_md5 = hashlib.md5(sampled.encode()).hexdigest()
        r = got[doc_id]
        assert r.n_frames == len(frames)
        assert r.n_sampled == (len(frames) + 3) // 4
        assert r.sample_md5 == exp_md5, doc_id


def test_geoparse_swapped_compiles_without_codegen_fallback(spark):
    """The swapped-pair geo filter is pushed below the page construction;
    it must stay small enough for whole-stage codegen (with fallback
    off, a method beyond 64 KB raises instead of running interpreted)
    and still equal its DuckDB twin."""
    import duckdb

    import __spark_entry__ as em
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        got = sorted(map(tuple, em.queries()["geoparse_swapped_pair"](
            spark, SF_SMOKE).collect()))
    finally:
        spark.conf.unset("spark.sql.codegen.fallback")
    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{SF_SMOKE}/documents.parquet')")
        ref = sorted(con.execute(
            em.oracle_sql()["geoparse_swapped_pair"]).fetchall())
    assert got == ref and len(got) > 0
