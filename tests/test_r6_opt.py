"""r6 optimization round: the Arrow ANN candidate kernel must be
bit-identical to the r5 expression formulations it replaced.

Two layers of evidence:

* fold-level — the NumPy rank-1-update fold produces the same float64s
  as a strictly sequential per-pair left fold (NumPy elementwise ops
  neither fuse nor reassociate);
* operator-level — each rewritten top-k operator's full output equals
  the r5 join/window formulation, which lives on as the operator's
  DuckDB twin, on the smoke fixture.
"""

from __future__ import annotations

import numpy as np
import pytest
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


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _duck_rows(sql: str, table: str) -> list[tuple]:
    """Rows of a DuckDB twin over the smoke parquet of ``table``."""
    import duckdb
    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                    f"read_parquet('{SF_SMOKE}/{table}.parquet')")
        return sorted(con.execute(sql).fetchall())


@pytest.mark.parametrize("qf", ["vec_id % 50 = 0", "vec_id % 37 = 1"])
def test_brute_force_kernel_equals_legacy(spark, qf):
    # the legacy join/window formulation lives on as the DuckDB twin
    emb = _emb(spark)
    new = _rows(sim.brute_force_topk(emb, k=5, query_filter=qf))
    old = _duck_rows(sim.brute_force_topk_sql(5, qf), "embeddings")
    assert new == old and len(new) > 0


def test_ivfpq_kernel_equals_legacy(spark):
    emb = _emb(spark)
    new = _rows(sim.ivfpq_topk(emb, k=5, nprobe=3))
    old = _duck_rows(sim.ivfpq_topk_sql(k=5, nprobe=3), "embeddings")
    assert new == old and len(new) > 0


def test_cms_heavy_hitters_equals_duckdb_twin(spark):
    from geocoordinateconverter_spark.operators import sketch as sk
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    got = _rows(sk.cms_heavy_hitters(docs))
    assert got == _duck_rows(sk.cms_heavy_hitters_sql(), "documents")
    assert len(got) > 0


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
    from geocoordinateconverter_spark.operators import curation as cu
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    a = _rows(cu.decontaminate(docs))
    b = _duck_rows(cu.decontaminate_sql(), "documents")
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
