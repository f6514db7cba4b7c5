"""r6 optimization round: the Arrow ANN candidate kernel must be
bit-identical to the r5 expression formulations it replaced.

Two layers of evidence:

* fold-level — the NumPy rank-1-update fold produces the same float64s
  as a strictly sequential per-pair left fold (NumPy elementwise ops
  neither fuse nor reassociate);
* operator-level — each rewritten top-k operator's full output equals
  the r5 join/window formulation, rebuilt here verbatim as the
  reference twin, on the smoke fixture.
"""

from __future__ import annotations

import re

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from geocoordinateconverter_spark.operators import similarity as sim

SF_SMOKE = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


def test_fold_dot_mat_bitwise():
    rng = np.random.default_rng(7)
    X = rng.standard_normal((37, sim.DIM)).astype(np.float32).astype(np.float64)
    Q = rng.standard_normal((11, sim.DIM)).astype(np.float32).astype(np.float64)
    S = sim._fold_dot_mat(X, Q)
    for i in range(X.shape[0]):
        for j in range(Q.shape[0]):
            acc = X[i, 0] * Q[j, 0]
            for d in range(1, sim.DIM):
                acc = acc + X[i, d] * Q[j, d]
            assert S[i, j] == acc  # bitwise: same fold order, same IEEE ops
    n2 = sim._fold_norm2_np(X)
    for i in range(X.shape[0]):
        acc = X[i, 0] * X[i, 0]
        for d in range(1, sim.DIM):
            acc = acc + X[i, d] * X[i, d]
        assert n2[i] == acc


def _legacy_brute(emb, k=5, query_filter="vec_id % 50 = 0"):
    emb_n = emb.withColumn("c_n2", sim.norm2_col("embedding"))
    q = emb_n.filter(query_filter).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"),
        F.col("c_n2").alias("q_n2"))
    cand = (emb_n.alias("c")
            .join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
            .withColumn("dot", sim.dot_col("q_emb", "embedding"))
            .withColumn("cos", F.col("dot")
                        / F.sqrt(F.col("q_n2") * F.col("c_n2"))))
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(),
                                           F.col("vec_id").asc())
    return (cand.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("q_id", "vec_id", "rk",
                    F.round("cos", 9).alias("cos_sim")))


def _legacy_ivfpq(emb, k=5, nprobe=3, query_filter="vec_id % 50 = 0"):
    corpus = (emb
              .withColumn("cluster", sim.ivf_cluster_udf()(F.col("embedding")))
              .withColumn("codes", sim.pq_encode_udf()(F.col("embedding")))
              .select("vec_id", "cluster", "codes"))
    q = (emb.filter(query_filter)
         .withColumn("probes", sim.ivf_probe_udf(nprobe)(F.col("embedding")))
         .withColumn("q_lut", sim.pq_lut_udf()(F.col("embedding")))
         .select(F.col("vec_id").alias("q_id"), "q_lut",
                 F.explode("probes").alias("q_cluster")))
    cand = (corpus.join(F.broadcast(q),
                        (F.col("cluster") == F.col("q_cluster"))
                        & (F.col("vec_id") != F.col("q_id")))
            .withColumn("adc", sim.adc_score_col()))
    w = Window.partitionBy("q_id").orderBy(F.col("adc").desc(),
                                           F.col("vec_id").asc())
    return (cand.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("q_id", "vec_id", "rk",
                    F.round("adc", 9).alias("adc_score")))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("qf", ["vec_id % 50 = 0", "vec_id % 37 = 1"])
def test_brute_force_kernel_equals_legacy(spark, qf):
    emb = _emb(spark)
    new = _rows(sim.brute_force_topk(emb, k=5, query_filter=qf))
    old = _rows(_legacy_brute(emb, k=5, query_filter=qf))
    assert new == old and len(new) > 0


def test_ivfpq_kernel_equals_legacy(spark):
    emb = _emb(spark)
    new = _rows(sim.ivfpq_topk(emb, k=5, nprobe=3))
    old = _rows(_legacy_ivfpq(emb, k=5, nprobe=3))
    assert new == old and len(new) > 0


def test_cms_shortlist_arm_equals_full(spark):
    # the corpus-scale arm (threshold filters the token stream before
    # the exact aggregation) must emit the identical report, and its
    # plan must place the filter below the exact count (one grouped
    # aggregate over the shortlist, not the vocabulary)
    from geocoordinateconverter_spark.operators import sketch as sk
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    full = _rows(sk.cms_heavy_hitters(docs))
    short = sk.cms_heavy_hitters(docs, shortlist_only=True)
    assert _rows(short) == full and len(full) > 0
    plan = short._jdf.queryExecution().optimizedPlan().toString()
    # the tree prints parents first: the threshold test on the estimate
    # must sit below (run before) the one exact count(1) aggregate
    pred = re.search(rf"least\([^)]*\) >= {sk.CMS_THRESHOLD}\b", plan)
    assert pred is not None and plan.count("count(1)") == 1, plan
    assert pred.start() > plan.index("count(1)"), plan


def test_pagerank_join_strategies_identical(spark):
    from geocoordinateconverter_spark.operators import graph as gr
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    a = _rows(gr.pagerank_hosts(orders, spark, rank_broadcast=True))
    b = _rows(gr.pagerank_hosts(orders, spark, rank_broadcast=False))
    assert a == b and len(a) == gr.N_HOSTS


def test_token_budget_subbucket_decomposition(spark, monkeypatch):
    # the de-skewed two-level running sum must equal the single-window
    # form at a sub-bucket width small enough to split every score
    from geocoordinateconverter_spark.operators import curation as cu
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    base = _rows(cu.token_budget_select(docs))
    monkeypatch.setattr(cu, "BUDGET_SUB_WIDTH", 64)
    split = _rows(cu.token_budget_select(docs))
    assert split == base and len(base) > 0


def test_decontaminate_kernel_equals_join_form(spark):
    # the mapInArrow kernel against its DuckDB join/agg twin
    import duckdb

    from geocoordinateconverter_spark.operators import curation as cu
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    a = _rows(cu.decontaminate(docs))
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{SF_SMOKE}/documents.parquet')")
        b = sorted(con.execute(cu.decontaminate_sql()).fetchall())
    finally:
        con.close()
    assert a == b and len(a) > 0


def test_minhash_sig_kernel_arrow_node(spark):
    # r6 signature kernel: Arrow crossing, no per-row Python, and no
    # hash/range exchange introduced by the operator itself
    from geocoordinateconverter_spark.operators import textdedup as td
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = (td.minhash_sig_array(docs)
            ._jdf.queryExecution().executedPlan().toString())
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan
    assert "Exchange" not in plan


def test_tile_topk_window_equals_grouped_map(spark):
    # the window top-k against its DuckDB twin (the oracle of the query
    # registered as tile_topk_applyinpandas).  The fixture packs 1500
    # orders into 28 res-5 cells with ~4 rows per cell tied on the top
    # h, so the key tie-break decides the output; fi/la are double
    # expressions so both engines round them identically
    import duckdb

    import __spark_entry__ as em
    from geocoordinateconverter_spark.operators import tiles as tl
    cols = ["o_orderkey AS k",
            "45.5e0 + cast(o_orderkey % 7 as double) / 100.0e0 AS fi",
            "14.2e0 + cast(o_orderkey % 5 as double) / 100.0e0 AS la",
            "cast(o_orderkey % 13 as double) AS h"]
    pts = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").selectExpr(*cols)
    a = _rows(tl.tile_topk_points(pts, key="k", res=5, k=3))
    src = f"SELECT {', '.join(cols)} FROM orders"
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW orders AS SELECT * FROM "
                    f"read_parquet('{SF_SMOKE}/orders.parquet')")
        sql = em.oracle_sql()["tile_topk_applyinpandas"]
        assert em.SRC_WGS_ORDERS in sql
        b = sorted(con.execute(
            sql.replace(em.SRC_WGS_ORDERS, f"({src}) q_src")).fetchall())
    finally:
        con.close()
    assert a == b and len(a) == 28 * 3


def test_ngram_jaccard_block_join_equals_residual_form(spark):
    # block-equified candidate join must reproduce the plain
    # equi-join + residual-window pair set exactly
    from geocoordinateconverter_spark.operators import textdedup as td
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    new = _rows(td.ngram_jaccard_pairs(docs))
    ga = td._gram_arrays(docs, 3)
    g = ga.select("doc_id", F.explode("grams").alias("gram"))
    sizes = (ga.select("doc_id", F.size("grams").alias("n_grams"))
             .filter(F.col("n_grams") > 0))
    inter = (g.alias("a").join(
                 g.alias("b"),
                 (F.col("a.gram") == F.col("b.gram"))
                 & (F.col("a.doc_id") < F.col("b.doc_id"))
                 & (F.col("b.doc_id") <= F.col("a.doc_id") + 25))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count("*").alias("n_inter")))
    old = _rows(inter
                .join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
                .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
                .select("doc_a", "doc_b", "n_inter",
                        (F.col("n_inter")
                         / (F.col("sa.n_grams") + F.col("sb.n_grams")
                            - F.col("n_inter"))).alias("jaccard")))
    assert new == old and len(new) > 0


def test_aft_synthetic_flag_matches_tables():
    """ADVICE r5: TABLES_SYNTHETIC is a manual flag — if the real
    aft_gktm.h/aft_tmgk.h tables are ever swapped in without flipping
    it, aft_values_sql would silently regenerate the synthetic grid
    and the oracle would validate against the wrong triangle table.
    Pin the synthetic tables' checksum to the flag: a mismatched swap
    now fails loudly here instead."""
    import hashlib
    from geocoordinateconverter_spark import aft
    if not aft.TABLES_SYNTHETIC:
        pytest.skip("real AFT tables in place; flag correctly flipped")
    sums = {}
    for name, t in (("gk_tm", aft.AFT_GK_TM), ("tm_gk", aft.AFT_TM_GK)):
        h = hashlib.md5()
        for k in ("tri_src", "tri_dst", "coef"):
            h.update(np.ascontiguousarray(getattr(t, k),
                                          np.float64).tobytes())
        sums[name] = h.hexdigest()
    assert sums == {"gk_tm": "b506fb730e1adff8c9f9bcd95825211f",
                    "tm_gk": "d3440775687a514e0f291cf5bec3d021"}, (
        "AFT tables do not match the synthetic regular-grid derivation "
        "but TABLES_SYNTHETIC is still True — flip it (tools/reanchor.py)")


def test_kernel_invariant_to_partitioning(spark):
    # per-task preselection must not leak into the result: 1 partition
    # vs many partitions produce identical rows
    emb = _emb(spark)
    one = _rows(sim.ivf_nprobe_topk(emb.coalesce(1), k=5, nprobe=3))
    many = _rows(sim.ivf_nprobe_topk(emb.repartition(13), k=5, nprobe=3))
    assert one == many and len(one) > 0
