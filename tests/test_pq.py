"""Product-quantization ANN tests (r5).

The DuckDB oracle pins exact values at the driver gate; these assert
the operator-level invariants the oracle can't express: determinism
under re-execution, the recall story on the clustered fixture, and
exact-rerank consistency with the brute-force scores.
"""

from __future__ import annotations

from geocoordinateconverter_spark.operators import similarity as sim

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_pq_codes_shape_range_and_determinism(spark):
    rows = sim.pq_codes_rows(_emb(spark)).collect()
    n_vec = _emb(spark).count()
    assert len(rows) == sim.PQ_M * n_vec
    assert all(0 <= r.code < sim.PQ_K for r in rows)
    assert all(0 <= r.m < sim.PQ_M for r in rows)
    # deterministic under re-execution (the speculative-retry property
    # every ingest-time encoder needs)
    again = sim.pq_codes_rows(_emb(spark)).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_pq_encode_matches_duckdb_bitwise(spark):
    # the encode kernel against its DuckDB long-form argmax twin
    import duckdb
    got = sorted(map(tuple, sim.pq_codes_rows(_emb(spark)).collect()))
    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                    f"read_parquet('{SF}/embeddings.parquet')")
        ref = sorted(con.execute(sim.pq_codes_rows_sql()).fetchall())
    assert got == ref and len(got) == sim.PQ_M * _emb(spark).count()


def test_pq_recall_story_on_clustered_fixture(spark):
    """Raw ADC is quantization-error-bound, the exact-rerank refine
    recovers to the nprobe cell bound — monotone by construction."""
    emb = sim.clustered_embeddings(_emb(spark))
    rep = {r.method: r.recall_at_k
           for r in sim.pq_recall_report(emb, k=5).collect()}
    chance = 5.0 / 500.0
    assert rep["pq_adc"] > 5 * chance
    assert rep["ivfpq_rerank"] >= rep["ivfpq"]
    assert rep["ivfpq_rerank"] >= rep["pq_adc"]
    assert rep["ivfpq_rerank"] >= 0.85


def test_ivfpq_rerank_scores_are_exact(spark):
    """Every (q, vec) pair the rerank emits must carry the SAME cosine
    the brute-force exact path computes — the refine step is exact by
    definition, only the candidate set is approximate."""
    emb = _emb(spark)
    exact = {(r.q_id, r.vec_id): r.cos_sim
             for r in sim.brute_force_topk(emb, k=50).collect()}
    for r in sim.ivfpq_rerank_topk(emb, k=5).collect():
        if (r.q_id, r.vec_id) in exact:
            assert r.cos_sim == exact[(r.q_id, r.vec_id)]


def test_pq_compression_factor():
    """The stored-bytes story the module docstring claims: PQ_M codes
    at 4 bits vs DIM float32."""
    raw = sim.DIM * 4
    bits_per_code = (sim.PQ_K - 1).bit_length()  # codes are 0..PQ_K-1
    packed = sim.PQ_M * bits_per_code // 8
    assert raw // max(packed, 1) >= 32
