"""Similarity search over embedding columns (``array<float>``).

Engine paths:

* ``brute_force_topk`` — exact cosine top-k of every query vector
  against the corpus via a broadcast of the (small) query set; the dot
  product/norms are **unrolled 64-term Catalyst expressions** (pure
  codegen, no Python, and — crucially for the DuckDB oracle — a fixed
  left-associated summation order that both engines evaluate
  bit-identically; float32 elements are cast to float64 first, which
  is exact).
* ``lsh_buckets`` — random-hyperplane LSH: 8 deterministic hyperplanes
  (coefficients derived by integer mixing, no RNG) → 8-bit bucket id
  per vector.  At scale, near-dup candidate pairs come from equal
  buckets (one hash-shuffle) instead of the O(n²) cross join; the
  brute-force path stays as the small-side/rerank baseline.
* ``cosine_near_dup`` — pairs over a doc_id window with cosine above a
  threshold (embedding near-dup dedup entry).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions.sqlgen import f as _flit

DIM = 64
N_PLANES = 8


def _elem(col: str, i: int) -> Column:
    return F.element_at(F.col(col), i).cast("double")


def dot_col(a: str, b: str, dim: int = DIM) -> Column:
    """Unrolled left-associated Σ aᵢ·bᵢ (codegen-side, order-fixed)."""
    expr = _elem(a, 1) * _elem(b, 1)
    for i in range(2, dim + 1):
        expr = expr + _elem(a, i) * _elem(b, i)
    return expr


def dot_sql(a: str, b: str, dim: int = DIM) -> str:
    """Long-form DuckDB fold: ``list_reduce`` is an explicit
    left-associated accumulation in element order, so the float64 sum
    is bit-identical to the unrolled Catalyst expression of
    :func:`dot_col` (verified elementwise on the driver fixture; the
    r4→r5 rewrite — VERDICT r4 Next #1a — shrank every ANN oracle from
    O(dim) unrolled terms to O(1) text so a 50-query driver sweep can
    never again pin the shared DuckDB connection's pool)."""
    return (f"list_reduce(list_transform(generate_series(1, {dim}), "
            f"__d -> cast(({a})[__d] as double) * cast(({b})[__d] as double)), "
            f"(__x, __y) -> __x + __y)")


def norm2_col(a: str, dim: int = DIM) -> Column:
    return dot_col(a, a, dim)


def norm2_sql(a: str, dim: int = DIM) -> str:
    return dot_sql(a, a, dim)


def plane_coef(p: int, d: int) -> float:
    """Deterministic hyperplane coefficient in [-0.5, 0.5)."""
    return (((p * DIM + d + 1) * 2654435761) % 1000000) / 1000000.0 - 0.5


def plane_proj_sql(a: str, p: int, dim: int = DIM) -> str:
    """Hyperplane projection with the coefficient CLOSED FORM evaluated
    inside the fold lambda (same integer mixing as :func:`plane_coef`;
    the int→double division and −0.5 are the identical IEEE ops both
    engines run, so no literals are needed)."""
    coef = (f"(cast((({p} * {DIM} + __d) * 2654435761) % 1000000 as double) "
            f"/ 1000000.0e0 - 0.5e0)")
    return (f"list_reduce(list_transform(generate_series(1, {dim}), "
            f"__d -> {coef} * cast(({a})[__d] as double)), "
            f"(__x, __y) -> __x + __y)")


def lsh_bucket_sql(a: str) -> str:
    terms = " + ".join(
        f"(case when {plane_proj_sql(a, p)} > 0.0e0 then {1 << p} else 0 end)"
        for p in range(N_PLANES))
    return "(" + terms + ")"


def brute_force_topk(emb: DataFrame, k: int = 5,
                     query_filter: str = "vec_id % 50 = 0") -> DataFrame:
    """Exact top-k cosine neighbours for the filtered query vectors.

    Plan (r6): one Arrow map pass over the corpus scores whole batches
    against the broadcast query matrix with the exact d-ascending fold
    (bit-identical to the r5 unrolled-expression BNLJ, which evaluated
    192 element_at casts per pair), pre-selects per task every row that
    can still reach the global top-k, and the window ranks the few
    surviving candidates.  See the kernel section below.
    """
    return _rank_topk(_topk_candidates(emb, "brute", k, query_filter),
                      k, "cos_sim")


def brute_force_topk_sql(k: int = 5,
                         query_filter: str = "vec_id % 50 = 0") -> str:
    dot = dot_sql("q.q_emb", "c.embedding")
    n1 = norm2_sql("q.q_emb")
    n2 = norm2_sql("c.embedding")
    return f"""
SELECT q_id, vec_id, rk, round(cos, 9) AS cos_sim FROM (
  SELECT q.q_id AS q_id, c.vec_id AS vec_id,
         {dot} / sqrt({n1} * {n2}) AS cos,
         row_number() OVER (PARTITION BY q.q_id
            ORDER BY {dot} / sqrt({n1} * {n2}) DESC, c.vec_id ASC) AS rk
  FROM embeddings c
  CROSS JOIN (SELECT vec_id AS q_id, embedding AS q_emb
              FROM embeddings WHERE {query_filter}) q
  WHERE c.vec_id <> q.q_id) z
WHERE rk <= {k}
"""


def lsh_buckets(emb: DataFrame) -> DataFrame:
    """(vec_id, bucket): r6 — one Arrow crossing through the exact
    NumPy projection fold (:func:`_lsh_buckets_np`, the same float64s
    as the unrolled expression form by the d-ascending fold order).
    The 8×64-term unrolled Catalyst expression it replaces spent more
    time in janino compilation than execution (measured 3.4 s → 0.6 s
    for 20k vectors); :func:`lsh_bucket_sql` is the oracle twin."""

    @pandas_udf("bigint")
    def _udf(e: pd.Series) -> pd.Series:
        if len(e) == 0:
            return pd.Series(np.empty(0, np.int64))
        X = np.stack(e.to_numpy()).astype(np.float64)
        return pd.Series(_lsh_buckets_np(X))

    return emb.select("vec_id", _udf(F.col("embedding")).alias("bucket"))


LSH_BUCKETS_SQL = None  # built lazily (needs the generated projections)


def lsh_buckets_sql() -> str:
    return (f"SELECT vec_id, {lsh_bucket_sql('embedding')} AS bucket "
            f"FROM embeddings")


def lsh_topk(emb: DataFrame, k: int = 5,
             query_filter: str = "vec_id % 50 = 0") -> DataFrame:
    """IVF/LSH-bucketed ANN: candidates limited to vectors sharing the
    query's hyperplane bucket, then exact-cosine rerank.  This is the
    scale path — candidate generation is ONE hash-equi-join on the
    bucket id (vs the brute-force cross join); recall is partial by
    design (classic LSH trade-off), and the oracle replicates the same
    bucket rule so results still compare exactly.  r6: candidate
    generation + scoring run in the Arrow kernel (bucket mask instead
    of the bucket equi-join), bit-identical output."""
    return _rank_topk(_topk_candidates(emb, "lsh", k, query_filter),
                      k, "cos_sim")


def lsh_topk_sql(k: int = 5, query_filter: str = "vec_id % 50 = 0") -> str:
    dot = dot_sql("q.q_emb", "c.embedding")
    n1 = norm2_sql("q.q_emb")
    n2 = norm2_sql("c.embedding")
    qb = lsh_bucket_sql("q.q_emb")
    cb = lsh_bucket_sql("c.embedding")
    return f"""
SELECT q_id, vec_id, rk, round(cos, 9) AS cos_sim FROM (
  SELECT q.q_id AS q_id, c.vec_id AS vec_id,
         {dot} / sqrt({n1} * {n2}) AS cos,
         row_number() OVER (PARTITION BY q.q_id
            ORDER BY {dot} / sqrt({n1} * {n2}) DESC, c.vec_id ASC) AS rk
  FROM embeddings c
  JOIN (SELECT vec_id AS q_id, embedding AS q_emb
        FROM embeddings WHERE {query_filter}) q
    ON {cb} = {qb} AND c.vec_id <> q.q_id) z
WHERE rk <= {k}
"""


def cosine_near_dup(emb: DataFrame, threshold: float = 0.9,
                    id_window: int = 50) -> DataFrame:
    """Embedding-cosine near-dup pairs within a doc_id window.

    The window predicate ``id_a < id_b <= id_a + W`` alone has no
    equality key, which Spark plans as BroadcastNestedLoopJoin — O(n²)
    once the table outgrows broadcast (VERDICT r1 #2).  Equi-fication:
    block key ``floor(vec_id / W)``; a qualifying partner's block is
    always the row's own block or the next one, so the left side
    explodes to {blk, blk+1}, the join becomes a hash equi-join on
    ``blk``, and the original window predicate remains as a residual
    filter.  Same output rows; plan is SMJ/BHJ, never BNLJ — asserted
    by tools/plan_audit.py's global invariant."""
    emb_n = emb.withColumn("n2", norm2_col("embedding"))
    blk = F.floor(F.col("vec_id") / F.lit(id_window))
    a = emb_n.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"),
        F.col("n2").alias("na"),
        F.explode(F.array(blk, blk + 1)).alias("blk"))
    b = emb_n.select(F.col("vec_id").alias("id_b"),
                     F.col("embedding").alias("eb"), F.col("n2").alias("nb"),
                     blk.alias("blk"))
    pairs = (a.join(b, "blk")
             .filter((F.col("id_a") < F.col("id_b"))
                     & (F.col("id_b") <= F.col("id_a") + id_window))
             .withColumn("cos", dot_col("ea", "eb")
                         / F.sqrt(F.col("na") * F.col("nb")))
             .filter(F.col("cos") >= threshold))
    return pairs.select("id_a", "id_b", F.round("cos", 9).alias("cos_sim"))


def cosine_near_dup_sql(threshold: float = 0.9, id_window: int = 50) -> str:
    dot = dot_sql("a.embedding", "b.embedding")
    na = norm2_sql("a.embedding")
    nb = norm2_sql("b.embedding")
    return f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({dot} / sqrt({na} * {nb}), 9) AS cos_sim
FROM embeddings a JOIN embeddings b
  ON a.vec_id < b.vec_id AND b.vec_id <= a.vec_id + {id_window}
WHERE {dot} / sqrt({na} * {nb}) >= {threshold!r}e0
"""


# ---------------------------------------------------------------------------
# IVF-flat ANN (r2): the second scale path the round brief names ("an
# IVF or LSH-bucketed variant").  A fixed coarse quantizer of
# N_CLUSTERS deterministic centroids assigns every vector to its
# nearest-L2 cell (argmin ‖x−c‖² = argmax x·c − ‖c‖²/2, the ‖x‖² term
# is row-constant); candidates for a query are the corpus vectors in
# the query's cell (nprobe=1 — recall partial by design, same
# trade-off the oracle replicates), exact-cosine reranked.  Assignment
# is pure codegen: 16 dot-expressions + a first-max-wins CASE, the
# lang_id pattern.  Candidate generation = ONE hash equi-join on the
# cell id.
# ---------------------------------------------------------------------------

N_CLUSTERS = 16


def centroid_coef(c: int, d: int) -> float:
    """Deterministic centroid component in [-0.5, 0.5)."""
    return (((c * DIM + d + 101) * 2246822519) % 1000000) / 1000000.0 - 0.5


def _centroid_halfnorm(c: int) -> float:
    # exact float64 fold in d-order, matching nothing row-dependent —
    # a literal both engines read identically from its repr
    s = 0.0
    for d in range(DIM):
        s = s + centroid_coef(c, d) * centroid_coef(c, d)
    return s / 2.0


def ivf_score_sql(a: str, c: int, dim: int = DIM) -> str:
    """Quantizer score x·c − ‖c‖²/2 — centroid coefficients from the
    same closed form as :func:`centroid_coef` inside the fold lambda;
    only the 16 halfnorm literals remain (they are a float64 fold the
    lambda can't reproduce cheaply, and 16 literals cost nothing)."""
    coef = (f"(cast((({c} * {DIM} + __d + 100) * 2246822519) % 1000000 "
            f"as double) / 1000000.0e0 - 0.5e0)")
    return (f"(list_reduce(list_transform(generate_series(1, {dim}), "
            f"__d -> {coef} * cast(({a})[__d] as double)), "
            f"(__x, __y) -> __x + __y) - {_flit(_centroid_halfnorm(c))})")


def ivf_cluster_udf():
    """Vectorized quantizer assignment (one Arrow crossing).

    NOT a codegen CASE: a first-max-wins CASE over 16 scores re-embeds
    the 1024-term ``greatest`` in every branch — a ~10⁵-node expression
    tree that blows past janino's compile budget (measured: 72 s at
    sf0.1 vs <2 s here).  The kernel accumulates each score with the
    SAME left-fold order as :func:`ivf_score_sql` (d ascending, then
    subtract the halfnorm), so scores are bit-identical to the oracle's
    and ``argmax`` (first max wins) picks the identical cell."""
    C = np.array([[centroid_coef(c, d) for d in range(DIM)]
                  for c in range(N_CLUSTERS)])
    H = np.array([_centroid_halfnorm(c) for c in range(N_CLUSTERS)])

    @pandas_udf("int")
    def _udf(emb: pd.Series) -> pd.Series:
        X = np.stack(emb.to_numpy()).astype(np.float64)
        scores = np.empty((X.shape[0], N_CLUSTERS))
        for c in range(N_CLUSTERS):
            acc = C[c, 0] * X[:, 0]
            for d in range(1, DIM):  # fold order == ivf_score_sql
                acc = acc + C[c, d] * X[:, d]
            scores[:, c] = acc - H[c]
        return pd.Series(scores.argmax(axis=1).astype(np.int32))

    return _udf


def ivf_assign_sql(table: str, id_col: str = "vec_id") -> str:
    """(id, embedding, cluster) subquery over ``table`` — layered so the
    16 score expressions appear once each."""
    score_defs = ", ".join(f"{ivf_score_sql('embedding', c)} AS s{c}"
                           for c in range(N_CLUSTERS))
    best = "greatest(" + ", ".join(f"s{c}" for c in range(N_CLUSTERS)) + ")"
    whens = " ".join(f"when s{c} = best then {c}" for c in range(N_CLUSTERS))
    return f"""
(SELECT {id_col}, embedding, case {whens} else -1 end AS cluster
 FROM (SELECT {id_col}, embedding, {score_defs}, {best} AS best
       FROM {table}) q_sc)
"""


def ivf_topk(emb: DataFrame, k: int = 5,
             query_filter: str = "vec_id % 50 = 0") -> DataFrame:
    """IVF-flat top-k: candidates limited to the query's quantizer
    cell, exact cosine rerank inside the cell.  r6: cell assignment +
    scoring fused into the Arrow kernel (cell-equality mask replaces
    the equi-join); same float64s, bit-identical output."""
    return _rank_topk(_topk_candidates(emb, "ivf", k, query_filter),
                      k, "cos_sim")


def ivf_topk_sql(k: int = 5, query_filter: str = "vec_id % 50 = 0") -> str:
    dot = dot_sql("q.q_emb", "c.embedding")
    n1 = norm2_sql("q.q_emb")
    n2 = norm2_sql("c.embedding")
    corpus = ivf_assign_sql("embeddings")
    return f"""
SELECT q_id, vec_id, rk, round(cos, 9) AS cos_sim FROM (
  SELECT q.q_id AS q_id, c.vec_id AS vec_id,
         {dot} / sqrt({n1} * {n2}) AS cos,
         row_number() OVER (PARTITION BY q.q_id
            ORDER BY {dot} / sqrt({n1} * {n2}) DESC, c.vec_id ASC) AS rk
  FROM {corpus} c
  JOIN (SELECT vec_id AS q_id, embedding AS q_emb, cluster AS q_cluster
        FROM {ivf_assign_sql("embeddings")} qq WHERE {query_filter}) q
    ON c.cluster = q.q_cluster AND c.vec_id <> q.q_id) z
WHERE rk <= {k}
"""


def ivf_probe_udf(nprobe: int):
    """Top-``nprobe`` quantizer cells per query vector (score DESC,
    cell ASC on ties) — same bit-identical score fold as
    :func:`ivf_cluster_udf`; stable argsort makes the tie rule match
    the oracle's ``ORDER BY score DESC, cell ASC``."""
    C = np.array([[centroid_coef(c, d) for d in range(DIM)]
                  for c in range(N_CLUSTERS)])
    H = np.array([_centroid_halfnorm(c) for c in range(N_CLUSTERS)])

    @pandas_udf("array<int>")
    def _udf(emb: pd.Series) -> pd.Series:
        X = np.stack(emb.to_numpy()).astype(np.float64)
        scores = np.empty((X.shape[0], N_CLUSTERS))
        for c in range(N_CLUSTERS):
            acc = C[c, 0] * X[:, 0]
            for d in range(1, DIM):  # fold order == ivf_score_sql
                acc = acc + C[c, d] * X[:, d]
            scores[:, c] = acc - H[c]
        order = np.argsort(-scores, axis=1, kind="stable")[:, :nprobe]
        return pd.Series([r.tolist() for r in order.astype(np.int32)])

    return _udf


def ivf_nprobe_topk(emb: DataFrame, k: int = 5, nprobe: int = 3,
                    query_filter: str = "vec_id % 50 = 0") -> DataFrame:
    """IVF-flat with multi-cell probing (VERDICT r2 #5): each query
    searches its ``nprobe`` best cells instead of 1 — recall rises at
    the cost of a probe-membership mask on the broadcast query side;
    the corpus side is one Arrow map pass (r6 kernel; cells are
    disjoint per query, so no candidate dedup is needed)."""
    return _rank_topk(
        _topk_candidates(emb, "ivf_nprobe", k, query_filter, nprobe),
        k, "cos_sim")


def _ivf_probe_sql(query_filter: str, nprobe: int) -> str:
    """(q_id, q_emb, q_cluster) rows: each query's top-nprobe cells by
    the same per-cell score fold, tie-broken cell-ascending."""
    score_defs = ", ".join(f"{ivf_score_sql('embedding', c)} AS s{c}"
                           for c in range(N_CLUSTERS))
    whens = " ".join(f"when {c} then s{c}" for c in range(N_CLUSTERS))
    return f"""
(SELECT q_id, q_emb, q_cluster FROM (
   SELECT q_id, q_emb, cell AS q_cluster,
          row_number() OVER (PARTITION BY q_id
                             ORDER BY score DESC, cell ASC) AS prk
   FROM (SELECT q.vec_id AS q_id, q.embedding AS q_emb, g.cell AS cell,
                case g.cell {whens} end AS score
         FROM (SELECT vec_id, embedding, {score_defs} FROM embeddings
               WHERE {query_filter}) q
         CROSS JOIN (SELECT unnest(range(0, {N_CLUSTERS})) AS cell) g) qs
  ) qr WHERE prk <= {nprobe})
"""


def ivf_nprobe_topk_sql(k: int = 5, nprobe: int = 3,
                        query_filter: str = "vec_id % 50 = 0") -> str:
    dot = dot_sql("q.q_emb", "c.embedding")
    n1 = norm2_sql("q.q_emb")
    n2 = norm2_sql("c.embedding")
    return f"""
SELECT q_id, vec_id, rk, round(cos, 9) AS cos_sim FROM (
  SELECT q.q_id AS q_id, c.vec_id AS vec_id,
         {dot} / sqrt({n1} * {n2}) AS cos,
         row_number() OVER (PARTITION BY q.q_id
            ORDER BY {dot} / sqrt({n1} * {n2}) DESC, c.vec_id ASC) AS rk
  FROM {ivf_assign_sql("embeddings")} c
  JOIN {_ivf_probe_sql(query_filter, nprobe)} q
    ON c.cluster = q.q_cluster AND c.vec_id <> q.q_id) z
WHERE rk <= {k}
"""


# ---------------------------------------------------------------------------
# Fixed-point Lloyd: the driver-gateable k-means.  A float Lloyd's
# distributed mean is summation-order dependent, so its output cannot
# carry a value-hash oracle (and a rows-only gate cannot even
# canonicalize an array column).  The fix is not cosmetic reshaping
# but an algorithmic one that is *better at scale*: quantize vectors
# AND centroids to a 2^24 integer grid so every dot product, partial
# sum, and mean-update is exact int64 arithmetic.  Exact integer sums
# are associative+commutative → the training result is invariant to
# shuffle order, partition count, AQE re-plans, and cluster size
# (N vs 4N executors produce bit-identical models — the reproducibility
# the north rule demands of join outputs, extended to learned state).
# Quantization error is 2^-25 per component — 6 decimal orders below
# any Voronoi margin that matters for a coarse quantizer.
# ---------------------------------------------------------------------------

KM_BITS = 24
KM_SCALE = 1 << KM_BITS  # 16777216


def _qfloor(x: float) -> int:
    """round-half-up quantization, floor(x·S + ½) — both engines
    evaluate this identically (x·2^24 is a power-of-two scale and the
    +0.5 is exactly representable below 2^52)."""
    import math
    return math.floor(x * KM_SCALE + 0.5)


def _assign_q_udf(Cq: np.ndarray):
    """Exact nearest-centroid assignment on the integer grid.

    argmin_c ‖v−c‖² == argmax_c (2·v·c − ‖c‖²) — all int64, exact
    (|score| < 2^55 for unit-range embeddings at DIM=64), ties broken
    to the lowest cluster id (np.argmax first-max == the oracle's
    ORDER BY score DESC, cluster ASC)."""
    ss = (Cq.astype(np.int64) ** 2).sum(axis=1)

    @pandas_udf("int")
    def _udf(q: pd.Series) -> pd.Series:
        X = np.stack(q.to_numpy()).astype(np.int64)
        score = 2 * (X @ Cq.T.astype(np.int64)) - ss
        return pd.Series(score.argmax(axis=1).astype(np.int32))

    return _udf


def _vq_expr(col: str = "embedding") -> Column:
    return F.expr(
        f"transform({col}, v -> cast(floor(cast(v as double) * "
        f"{KM_SCALE}.0D + 0.5D) as bigint))")


def kmeans_init_q() -> np.ndarray:
    """Deterministic init = the fixed IVF grid, quantized."""
    return np.array([[_qfloor(centroid_coef(c, d)) for d in range(DIM)]
                     for c in range(N_CLUSTERS)], dtype=np.int64)


def ivf_train_kmeans_exact(emb: DataFrame, n_iter: int = 3) -> DataFrame:
    """Learned coarse quantizer, fixed-point Lloyd's, FULLY oracled.

    Per iteration: one Arrow assignment pass (exact int64 scores,
    centroids in the UDF closure) and one posexplode →
    groupBy(cluster, d) integer sum/count; the driver collects only
    N_CLUSTERS×DIM longs (the irreducible Lloyd synchronization —
    same 4 KB at 10¹² rows) and re-quantizes the mean with
    floor(s/n + ½).  Empty clusters keep their previous centroid.
    Output rows are scalar columns (cluster, n_vecs, d, centroid) —
    centroid = cq/2^24 is an exact dyadic double.

    Cites the reference's determinism contract (gk-slo batch conversion
    is bit-reproducible run-to-run); this extends it to iterative
    training state under distributed execution."""
    import math
    Cq = kmeans_init_q()
    # persisted: every iteration's assignment pass reads it (without
    # this, each iteration would re-run the scan + quantize transform)
    vq = emb.select("vec_id", _vq_expr().alias("q")).persist()
    stats = []
    try:
        for _ in range(n_iter):
            assigned = vq.withColumn("cluster",
                                     _assign_q_udf(Cq)(F.col("q")))
            stats = (assigned
                     .select("cluster", F.posexplode("q").alias("d", "v"))
                     .groupBy("cluster", "d")
                     .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
                     .collect())  # ≤ N_CLUSTERS·DIM tiny rows
            Cq = Cq.copy()
            for r in stats:
                Cq[r.cluster, r.d] = math.floor(r.s / r.n + 0.5)
    finally:
        vq.unpersist()
    spark = emb.sparkSession
    # n_vecs is already in the last iteration's stats (n is the same
    # for every dimension d of a cluster) — re-running the assignment
    # UDF pass just to count would execute the final iteration's work
    # twice (a whole wasted pass at 10¹² rows)
    counts = spark.createDataFrame(
        [(int(r.cluster), int(r.n)) for r in stats if r.d == 0],
        "cluster int, n_vecs long")
    cent = spark.createDataFrame(
        [(int(c), int(d), float(Cq[c, d]) / KM_SCALE)
         for c in range(N_CLUSTERS) for d in range(DIM)],
        "cluster int, d int, centroid double")
    return (counts.join(F.broadcast(cent), "cluster")
            .select("cluster", "n_vecs", "d", "centroid"))


def kmeans_replay_exact(V: np.ndarray, n_iter: int = 3):
    """Single-machine NumPy replay of the exact trainer (pytest twin).
    V is the raw float32/float64 embedding matrix."""
    Q = np.floor(V.astype(np.float64) * KM_SCALE + 0.5).astype(np.int64)
    Cq = kmeans_init_q()
    assign = None
    for _ in range(n_iter):
        score = 2 * (Q @ Cq.T) - (Cq ** 2).sum(axis=1)
        assign = score.argmax(axis=1)
        Cq = Cq.copy()
        for c in range(N_CLUSTERS):
            m = assign == c
            if m.any():
                Cq[c] = np.floor(Q[m].sum(axis=0) / m.sum() + 0.5)
    return assign, Cq


def _km_c0_sql() -> str:
    """Initial quantized centroids reproduced arithmetically (exact
    integer mixing → float64 division → quantize; every step is
    deterministic IEEE in both engines — verified by pytest against
    kmeans_init_q)."""
    return f"""
(SELECT cl.c AS cluster, gs.i - 1 AS d,
        cast(floor((cast(((cl.c * {DIM} + (gs.i - 1) + 101) * 2246822519)
                         % 1000000 AS double) / 1000000.0e0 - 0.5e0)
                   * {KM_SCALE}.0e0 + 0.5e0) AS bigint) AS cq
 FROM generate_series(0, {N_CLUSTERS - 1}) AS cl(c),
      generate_series(1, {DIM}) AS gs(i))
"""


def ivf_train_kmeans_exact_sql(n_iter: int = 3) -> str:
    """DuckDB twin: the same fixed-point Lloyd unrolled as CTE stages.
    Every aggregate is an int64 sum → order-independent → the value
    hash is stable by construction, not by tolerance.

    Verified bit-exact against :func:`kmeans_replay_exact` at
    n_iter ∈ {1, 3, 5}.  Note the ORACLE's cost (not the engine's)
    grows steeply with n_iter: DuckDB may inline the chained CTEs, so
    each extra unrolled iteration re-derives its predecessors — fine
    at the gate's n_iter=3 (seconds), slow by ~8.  The Spark side is
    strictly linear in n_iter (one Arrow pass + one agg each)."""
    parts = [f"""
pts AS (
  SELECT vec_id, gs.i - 1 AS d,
         cast(floor(cast(embedding[gs.i] AS double) * {KM_SCALE}.0e0
                    + 0.5e0) AS bigint) AS vq
  FROM embeddings, generate_series(1, {DIM}) AS gs(i)),
c0 AS (SELECT * FROM {_km_c0_sql()} q_c0)"""]
    for k in range(1, n_iter + 1):
        p = k - 1
        parts.append(f"""
ss{p} AS (SELECT cluster, sum(cq * cq) AS ss FROM c{p} GROUP BY cluster),
sc{k} AS (SELECT p.vec_id, c.cluster, 2 * sum(p.vq * c.cq) AS dot2
          FROM pts p JOIN c{p} c ON p.d = c.d
          GROUP BY p.vec_id, c.cluster),
a{k} AS (SELECT vec_id, cluster FROM (
           SELECT s.vec_id, s.cluster,
                  row_number() OVER (PARTITION BY s.vec_id
                     ORDER BY s.dot2 - w.ss DESC, s.cluster ASC) AS rn
           FROM sc{k} s JOIN ss{p} w ON s.cluster = w.cluster) r{k}
         WHERE rn = 1),
u{k} AS (SELECT a.cluster, p.d, sum(p.vq) AS s, count(*) AS n
         FROM a{k} a JOIN pts p ON a.vec_id = p.vec_id
         GROUP BY a.cluster, p.d),
c{k} AS (SELECT c.cluster, c.d,
                CASE WHEN u.n IS NULL THEN c.cq
                     ELSE cast(floor(cast(u.s AS double) / u.n + 0.5e0)
                               AS bigint) END AS cq
         FROM c{p} c LEFT JOIN u{k} u
           ON c.cluster = u.cluster AND c.d = u.d)""")
    body = ",".join(parts)
    return f"""
WITH {body},
counts AS (SELECT cluster, count(*) AS n_vecs
           FROM a{n_iter} GROUP BY cluster)
SELECT co.cluster, co.n_vecs, ce.d,
       ce.cq / {KM_SCALE}.0e0 AS centroid
FROM counts co JOIN c{n_iter} ce ON co.cluster = ce.cluster
"""


def ivf_cluster_sizes(emb: DataFrame) -> DataFrame:
    """Quantizer balance diagnostic (skew in cell sizes is IVF's
    failure mode at scale — worth a first-class check)."""
    return (emb.withColumn("cluster", ivf_cluster_udf()(F.col("embedding")))
            .groupBy("cluster").agg(F.count("*").alias("n_vecs")))


def ivf_cluster_sizes_sql() -> str:
    return (f"SELECT cluster, count(*) AS n_vecs "
            f"FROM {ivf_assign_sql('embeddings')} q GROUP BY cluster")


# ---------------------------------------------------------------------------
# Clustered embedding fixture (r4): the uniform-random driver fixture is
# the WORST case for bucketed ANN (recall@5 of 0.06–0.40 characterizes
# chance, not the operator).  This deterministic 16-cluster mixture —
# integer-mixed centers (different mixing constant than the IVF grid,
# so the quantizer is NOT trivially aligned) plus ±0.05 integer-mixed
# noise — gives the recall report a fixture on which a working IVF must
# beat LSH must beat chance, with nprobe monotonicity.  Pure arithmetic
# from vec_id → bit-identical in both engines, no data files.
# ---------------------------------------------------------------------------

def _clustered_elem_sql(d: int) -> str:
    c = (f"((((vec_id % {N_CLUSTERS}) * {DIM} + {d} + 777) * 2654435761) "
         f"% 1000000)")
    nz = f"(((vec_id * {DIM} + {d} + 13) * 2246822519) % 1000001)"
    return (f"(({c} / 1000000.0e0 - 0.5e0) + "
            f"(({nz} / 1000000.0e0) * 0.1e0 - 0.05e0))")


def clustered_embeddings(emb: DataFrame) -> DataFrame:
    """(vec_id, embedding array<double>) — 16 well-separated clusters
    (center spread ~2.3 L2 vs noise radius ~0.26), cluster of k is
    k % 16."""
    arr = "array(" + ", ".join(_clustered_elem_sql(d)
                               for d in range(DIM)) + ")"
    return emb.select("vec_id", F.expr(arr).alias("embedding"))


def clustered_embeddings_sql() -> str:
    # same closed form as _clustered_elem_sql with d = __d − 1 (the
    # per-element scalar arithmetic is identical, so values are
    # bit-equal to the unrolled Spark array)
    elem = _clustered_elem_sql("(__d - 1)")
    arr = (f"list_transform(generate_series(1, {DIM}), __d -> {elem})")
    return f"(SELECT vec_id, {arr} AS embedding FROM embeddings)"


def over_clustered_sql(arm_sql: str) -> str:
    """Rewrite an embeddings-table SQL twin to read the clustered
    fixture: the token ``embeddings`` appears in those strings only as
    the table name."""
    import re
    return re.sub(r"\bembeddings\b", "emb_clustered", arm_sql)


# ---------------------------------------------------------------------------
# Product quantization (r5): the third ANN scale path, and the one that
# actually carries a 100 TB embedding corpus.  IVF-flat still scans raw
# vectors (256 B/vector at DIM=64 float32) inside each probed cell;
# PQ compresses every vector to PQ_M 4-bit codes (8 codes → 8 bytes
# stored as ints, a 32× scan-size reduction) by quantizing each of the
# PQ_M subspaces against its own PQ_K-centroid codebook.  A query then
# scores candidates WITHOUT touching raw vectors: it precomputes a
# PQ_M×PQ_K lookup table of per-subspace scores (ADC — asymmetric
# distance computation) and each candidate's score is an 8-term table
# fold over its codes.
#
# Codebooks are the same deterministic integer-mixed closed form as the
# IVF quantizer (no RNG, reproducible in both engines, scaled to
# [-0.25, 0.25) to span the fixture's ±2σ), so encode/LUT/score are
# all bit-identical between the Arrow kernels and the DuckDB long-form
# folds.  Ranking maximizes Σ_m (q_m·c_m − ‖c_m‖²/2), which is exactly
# minimizing the ADC squared-L2 proxy Σ_m ‖q_m − c_{m,code_m}‖² (the
# per-query ‖q_m‖² term is rank-constant).
#
# Scale shapes:
# * encode — map-only (one Arrow crossing), done ONCE at ingest; at
#   10¹⁰ vectors the codes table is ~80 GB vs 2.5 TB raw.
# * pq_adc_topk — the compressed-domain full scan: corpus codes ×
#   broadcast query LUTs.  Declared a BNLJ baseline like
#   ann_cosine_topk: the cross product is the semantics; PQ makes each
#   pair 8 adds instead of 64 mul-adds on 32× less I/O.
# * ivfpq_topk — the production path: candidates from the IVF cell
#   equi-join (nprobe cells per query, corpus side untouched), scored
#   via ADC folds.  No BNLJ, no raw-vector reads after ingest.
# ---------------------------------------------------------------------------

PQ_M = 8                      # subspaces
PQ_K = 16                     # centroids per subspace (4-bit codes)
PQ_SUBDIM = DIM // PQ_M       # dims per subspace


def pq_coef(m: int, j: int, d: int) -> float:
    """Deterministic codebook component in [-0.25, 0.25); d 0-based."""
    idx = (m * PQ_K + j) * PQ_SUBDIM + d + 7
    return (((idx * 2654435761) % 1000000) / 1000000.0 - 0.5) / 2.0


def _pq_halfnorm(m: int, j: int) -> float:
    s = 0.0
    for d in range(PQ_SUBDIM):
        s = s + pq_coef(m, j, d) * pq_coef(m, j, d)
    return s / 2.0


def pq_codebook() -> np.ndarray:
    """(PQ_M, PQ_K, PQ_SUBDIM) float64 codebook."""
    return np.array([[[pq_coef(m, j, d) for d in range(PQ_SUBDIM)]
                      for j in range(PQ_K)] for m in range(PQ_M)])


def _pq_scores_np(X: np.ndarray, C: np.ndarray, H: np.ndarray,
                  m: int) -> np.ndarray:
    """(n, PQ_K) subspace-m scores with the d-ascending fold order the
    SQL twin uses (bit-identical float64)."""
    Xm = X[:, m * PQ_SUBDIM:(m + 1) * PQ_SUBDIM]
    out = np.empty((X.shape[0], PQ_K))
    for j in range(PQ_K):
        acc = C[m, j, 0] * Xm[:, 0]
        for d in range(1, PQ_SUBDIM):   # fold order == _pq_score_sql
            acc = acc + C[m, j, d] * Xm[:, d]
        out[:, j] = acc - H[m, j]
    return out


def pq_encode_udf():
    """array<int> of PQ_M codes per vector (one Arrow crossing);
    argmax is first-max-wins, matching the oracle's
    ``ORDER BY score DESC, j ASC``."""
    C = pq_codebook()
    H = np.array([[_pq_halfnorm(m, j) for j in range(PQ_K)]
                  for m in range(PQ_M)])

    @pandas_udf("array<int>")
    def _udf(emb: pd.Series) -> pd.Series:
        X = np.stack(emb.to_numpy()).astype(np.float64)
        codes = np.empty((X.shape[0], PQ_M), dtype=np.int32)
        for m in range(PQ_M):
            codes[:, m] = _pq_scores_np(X, C, H, m).argmax(axis=1)
        return pd.Series([r.tolist() for r in codes])

    return _udf


def pq_lut_udf():
    """array<double> of PQ_M*PQ_K ADC table entries per query vector
    (entry m*PQ_K + j = subspace-m score against centroid j)."""
    C = pq_codebook()
    H = np.array([[_pq_halfnorm(m, j) for j in range(PQ_K)]
                  for m in range(PQ_M)])

    @pandas_udf("array<double>")
    def _udf(emb: pd.Series) -> pd.Series:
        X = np.stack(emb.to_numpy()).astype(np.float64)
        lut = np.empty((X.shape[0], PQ_M * PQ_K))
        for m in range(PQ_M):
            lut[:, m * PQ_K:(m + 1) * PQ_K] = _pq_scores_np(X, C, H, m)
        return pd.Series([r.tolist() for r in lut])

    return _udf


def adc_score_col(lut: str = "q_lut", codes: str = "codes") -> Column:
    """Σ_m lut[m*PQ_K + codes[m]] as a codegen left fold in m order
    (order-fixed so the float64 sum is bit-identical to the oracle's
    list_reduce — a groupBy SUM would be partition-order dependent)."""
    return F.expr(
        f"aggregate(sequence(0, {PQ_M - 1}), cast(0.0 as double), "
        f"(acc, m) -> acc + element_at({lut}, "
        f"m * {PQ_K} + element_at({codes}, m + 1) + 1))")


def _pq_coef_sql(m: str, j: str, d1: str) -> str:
    """Closed-form codebook component; ``d1`` is 1-based (SQL
    generate_series), mirroring pq_coef's op order exactly."""
    idx = f"(({m} * {PQ_K} + {j}) * {PQ_SUBDIM} + ({d1}) + 6)"
    return (f"((cast(({idx} * 2654435761) % 1000000 as double) "
            f"/ 1000000.0e0 - 0.5e0) / 2.0e0)")


def _pq_score_sql(vec: str, m: str, j: str) -> str:
    """Subspace score ``x_m·c_{m,j} − ‖c_{m,j}‖²/2`` as two d-ascending
    list_reduce folds (bit-identical to :func:`_pq_scores_np`)."""
    coef = _pq_coef_sql(m, j, "__d")
    dot = (f"list_reduce(list_transform(generate_series(1, {PQ_SUBDIM}), "
           f"__d -> {coef} * cast(({vec})[({m}) * {PQ_SUBDIM} + __d] "
           f"as double)), (__x, __y) -> __x + __y)")
    half = (f"list_reduce(list_transform(generate_series(1, {PQ_SUBDIM}), "
            f"__d -> {coef} * {coef}), (__x, __y) -> __x + __y) / 2.0e0")
    return f"({dot} - {half})"


def pq_codes_sql(table: str = "embeddings",
                 id_col: str = "vec_id") -> str:
    """(id, codes LIST) subquery: long-form grid (id × m × j), argmax
    via row_number, list() re-assembled in m order."""
    score = _pq_score_sql("embedding", "g.m", "g.j")
    return f"""
(SELECT {id_col}, list(code ORDER BY m) AS codes FROM (
   SELECT {id_col}, m, j AS code,
          row_number() OVER (PARTITION BY {id_col}, m
                             ORDER BY score DESC, j ASC) AS rk
   FROM (SELECT t.{id_col}, g.m, g.j, {score} AS score
         FROM {table} t
         CROSS JOIN (SELECT m.m, j.j
                     FROM (SELECT unnest(range(0, {PQ_M})) AS m) m,
                          (SELECT unnest(range(0, {PQ_K})) AS j) j) g) sc
  ) best WHERE rk = 1 GROUP BY {id_col})
"""


def pq_lut_sql(query_filter: str = "vec_id % 50 = 0") -> str:
    """(q_id, q_lut LIST of PQ_M*PQ_K doubles) subquery."""
    score = _pq_score_sql("embedding", f"(__i // {PQ_K})", f"(__i % {PQ_K})")
    return f"""
(SELECT vec_id AS q_id,
        list_transform(generate_series(0, {PQ_M * PQ_K - 1}),
                       __i -> {score}) AS q_lut
 FROM embeddings WHERE {query_filter})
"""


ADC_FOLD_SQL = (
    f"list_reduce(list_transform(generate_series(1, {PQ_M}), "
    f"__m -> (q.q_lut)[(__m - 1) * {PQ_K} + (c.codes)[__m] + 1]), "
    f"(__x, __y) -> __x + __y)")


def pq_codes_rows(emb: DataFrame) -> DataFrame:
    """(vec_id, m, code): the encoded corpus, one row per subspace."""
    return (emb.withColumn("codes", pq_encode_udf()(F.col("embedding")))
            .select("vec_id", F.posexplode("codes").alias("m", "code")))


def pq_codes_rows_sql() -> str:
    return f"""
SELECT vec_id, cast(generate_subscripts(codes, 1) - 1 as integer) AS m,
       unnest(codes) AS code
FROM {pq_codes_sql()} pc
"""


def pq_adc_topk(emb: DataFrame, k: int = 5,
                query_filter: str = "vec_id % 50 = 0") -> DataFrame:
    """Compressed-domain full scan (all-pairs semantics): corpus codes
    vs broadcast query LUTs, 8-term ADC fold per pair — r6: the fold
    runs as a NumPy gather in the Arrow kernel with task-local top-k
    preselection; every pair is still scored (the full-scan semantics),
    bit-identically."""
    return _rank_topk(_topk_candidates(emb, "pq_adc", k, query_filter),
                      k, "adc_score")


def pq_adc_topk_sql(k: int = 5,
                    query_filter: str = "vec_id % 50 = 0") -> str:
    return f"""
SELECT q_id, vec_id, rk, round(adc, 9) AS adc_score FROM (
  SELECT q.q_id, c.vec_id, {ADC_FOLD_SQL} AS adc,
         row_number() OVER (PARTITION BY q.q_id
            ORDER BY {ADC_FOLD_SQL} DESC, c.vec_id ASC) AS rk
  FROM {pq_codes_sql()} c, {pq_lut_sql(query_filter)} q
  WHERE c.vec_id <> q.q_id) z
WHERE rk <= {k}
"""


def ivfpq_topk(emb: DataFrame, k: int = 5, nprobe: int = 3,
               query_filter: str = "vec_id % 50 = 0") -> DataFrame:
    """IVF-PQ: candidates limited to the query's ``nprobe`` coarse
    cells, scored by the ADC fold over 8-byte codes — the corpus path
    reads no raw vectors after ingest.  r6: coarse assignment, encode
    and the ADC gather fused into one Arrow map pass (probe-membership
    mask replaces the cell equi-join); bit-identical output."""
    return _rank_topk(
        _topk_candidates(emb, "ivfpq", k, query_filter, nprobe),
        k, "adc_score")


def ivfpq_topk_sql(k: int = 5, nprobe: int = 3,
                   query_filter: str = "vec_id % 50 = 0") -> str:
    return f"""
SELECT q_id, vec_id, rk, round(adc, 9) AS adc_score FROM (
  SELECT q.q_id, c.vec_id, {ADC_FOLD_SQL} AS adc,
         row_number() OVER (PARTITION BY q.q_id
            ORDER BY {ADC_FOLD_SQL} DESC, c.vec_id ASC) AS rk
  FROM (SELECT a.vec_id, a.cluster, pc.codes
        FROM {ivf_assign_sql("embeddings")} a
        JOIN {pq_codes_sql()} pc ON a.vec_id = pc.vec_id) c
  JOIN (SELECT p.q_id, p.q_cluster, l.q_lut
        FROM {_ivf_probe_sql(query_filter, nprobe)} p
        JOIN {pq_lut_sql(query_filter)} l ON p.q_id = l.q_id) q
    ON c.cluster = q.q_cluster AND c.vec_id <> q.q_id) z
WHERE rk <= {k}
"""


def pq_recall_report(emb: DataFrame, k: int = 5) -> DataFrame:
    """recall@k of the two PQ arms vs exact brute-force cosine top-k
    (same shape as the IVF/LSH recall diagnostics)."""
    exact = brute_force_topk(emb, k=k).select("q_id", "vec_id")
    nq = exact.select("q_id").distinct().count()  # tiny scalar
    parts = []
    for mname, df in (("pq_adc", pq_adc_topk(emb, k=k)),
                      ("ivfpq", ivfpq_topk(emb, k=k, nprobe=3)),
                      ("ivfpq_rerank",
                       ivfpq_rerank_topk(emb, k=k, nprobe=3))):
        parts.append(
            df.select("q_id", "vec_id")
            .join(exact, ["q_id", "vec_id"])
            .agg(F.count("*").alias("n_hits"))
            .select(F.lit(mname).alias("method"), "n_hits",
                    F.round(F.col("n_hits") / F.lit(float(k * nq)), 9)
                    .alias("recall_at_k")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def pq_recall_report_sql(k: int = 5,
                         query_filter: str = "vec_id % 50 = 0") -> str:
    exact = brute_force_topk_sql(k=k)
    nq = f"(SELECT count(*) FROM embeddings WHERE {query_filter})"
    arms = []
    for mname, arm in (("pq_adc", pq_adc_topk_sql(k=k)),
                       ("ivfpq", ivfpq_topk_sql(k=k, nprobe=3)),
                       ("ivfpq_rerank",
                        ivfpq_rerank_topk_sql(k=k, nprobe=3))):
        arms.append(f"""
SELECT '{mname}' AS method, count(*) AS n_hits,
       round(count(*) / ({k}.0e0 * {nq}), 9) AS recall_at_k
FROM ({arm}) a JOIN exact e ON a.q_id = e.q_id AND a.vec_id = e.vec_id
""")
    return f"WITH exact AS ({exact})\n" + " UNION ALL ".join(arms)


def ivfpq_rerank_topk(emb: DataFrame, k: int = 5, nprobe: int = 3,
                      shortlist: int = 50,
                      query_filter: str = "vec_id % 50 = 0") -> DataFrame:
    """IVF-PQ with exact refine (the production pattern): the ADC fold
    ranks candidates inside the probed cells, the per-query top-
    ``shortlist`` fetch their raw vectors (Q×shortlist rows — a
    broadcast-sized refine read at any corpus scale), and exact cosine
    reranks to top-k.  Recovers the quantization error the codes
    introduce; the only loss left is coarse-cell miss (the
    ivf_nprobe bound).  r6: the ADC shortlist stage runs in the Arrow
    kernel (task-local top-``shortlist`` preselection), the exact
    refine below is unchanged."""
    cand = _topk_candidates(emb, "ivfpq", shortlist, query_filter, nprobe)
    w_adc = Window.partitionBy("q_id").orderBy(F.col("score").desc(),
                                               F.col("vec_id").asc())
    short = (cand.withColumn("ark", F.row_number().over(w_adc))
             .filter(F.col("ark") <= shortlist)
             .select("q_id", "vec_id"))
    # refine: raw vectors only for the Q×shortlist survivors
    raw = emb.select("vec_id", "embedding",
                     norm2_col("embedding").alias("n2"))
    qraw = (emb.filter(query_filter)
            .select(F.col("vec_id").alias("q_id"),
                    F.col("embedding").alias("q_emb"),
                    norm2_col("embedding").alias("q_n2")))
    # broadcast the Q×shortlist survivors against the STREAMED corpus:
    # the refine read never shuffles the embeddings table
    rer = (raw.join(F.broadcast(short), "vec_id")
           .join(F.broadcast(qraw), "q_id")
           .withColumn("cos", dot_col("q_emb", "embedding")
                       / F.sqrt(F.col("q_n2") * F.col("n2"))))
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(),
                                           F.col("vec_id").asc())
    return (rer.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("q_id", "vec_id", "rk",
                    F.round("cos", 9).alias("cos_sim")))


def ivfpq_rerank_topk_sql(k: int = 5, nprobe: int = 3, shortlist: int = 50,
                          query_filter: str = "vec_id % 50 = 0") -> str:
    dot = dot_sql("qe.embedding", "e.embedding")
    n1 = norm2_sql("qe.embedding")
    n2 = norm2_sql("e.embedding")
    return f"""
SELECT q_id, vec_id, rk, round(cos, 9) AS cos_sim FROM (
  SELECT s.q_id, s.vec_id,
         {dot} / sqrt({n1} * {n2}) AS cos,
         row_number() OVER (PARTITION BY s.q_id
            ORDER BY {dot} / sqrt({n1} * {n2}) DESC, s.vec_id ASC) AS rk
  FROM (SELECT q_id, vec_id FROM (
          SELECT q.q_id, c.vec_id,
                 row_number() OVER (PARTITION BY q.q_id
                    ORDER BY {ADC_FOLD_SQL} DESC, c.vec_id ASC) AS ark
          FROM (SELECT a.vec_id, a.cluster, pc.codes
                FROM {ivf_assign_sql("embeddings")} a
                JOIN {pq_codes_sql()} pc ON a.vec_id = pc.vec_id) c
          JOIN (SELECT p.q_id, p.q_cluster, l.q_lut
                FROM {_ivf_probe_sql(query_filter, nprobe)} p
                JOIN {pq_lut_sql(query_filter)} l ON p.q_id = l.q_id) q
            ON c.cluster = q.q_cluster AND c.vec_id <> q.q_id) zz
        WHERE ark <= {shortlist}) s
  JOIN embeddings e ON s.vec_id = e.vec_id
  JOIN embeddings qe ON s.q_id = qe.vec_id) z
WHERE rk <= {k}
"""


# ---------------------------------------------------------------------------
# Trained PQ codebooks (per-subspace fixed-point Lloyd — the "train"
# stage that completes the PQ family: train → encode → ADC → rerank)
# ---------------------------------------------------------------------------

def pq_init_q() -> np.ndarray:
    """(PQ_M, PQ_K, PQ_SUBDIM) int64 init = the deterministic grid
    codebook (pq_coef), quantized — the same init-from-fixed-grid
    contract as kmeans_init_q."""
    return np.array(
        [[[_qfloor(pq_coef(m, j, d)) for d in range(PQ_SUBDIM)]
          for j in range(PQ_K)] for m in range(PQ_M)], dtype=np.int64)


def _pq_assign_q_udf(Cq: np.ndarray):
    """array<int> of PQ_M codes per quantized vector: per subspace,
    exact int64 scores 2·x_m·c − ‖c‖², first-max-wins argmax (≡ the
    oracle's ORDER BY score DESC, cluster ASC)."""
    ss = np.einsum("mjd,mjd->mj", Cq, Cq)

    @pandas_udf("array<int>")
    def _udf(q: pd.Series) -> pd.Series:
        X = np.stack(q.to_numpy()).astype(np.int64)
        codes = np.empty((X.shape[0], PQ_M), dtype=np.int32)
        for m in range(PQ_M):
            Xm = X[:, m * PQ_SUBDIM:(m + 1) * PQ_SUBDIM]
            score = 2 * (Xm @ Cq[m].T) - ss[m]
            codes[:, m] = score.argmax(axis=1)
        return pd.Series([r.tolist() for r in codes])

    return _udf


def pq_train_codebooks_exact(emb: DataFrame, n_iter: int = 3) -> DataFrame:
    """(m, cluster, n_vecs, d, centroid): PQ_M independent sub-space
    k-means runs, trained jointly in the SAME passes — one Arrow
    assignment crossing and one integer groupBy per iteration cover
    all 8 subspaces (the per-subspace state is just a (m, cluster)
    composite key).  Same fixed-point int64 contract as
    :func:`ivf_train_kmeans_exact`: order-invariant integer sums,
    driver syncs ≤ PQ_M·PQ_K·PQ_SUBDIM = 1024 longs per iteration,
    bit-reproducible across partitionings, FULL unrolled-CTE oracle.
    Empty (m, cluster) cells keep their previous centroid and are
    absent from the output (no assigned vectors), mirroring the IVF
    trainer's contract."""
    import math
    Cq = pq_init_q()
    vq = emb.select("vec_id", _vq_expr().alias("q")).persist()
    stats = []
    try:
        for _ in range(n_iter):
            assigned = vq.withColumn("codes",
                                     _pq_assign_q_udf(Cq)(F.col("q")))
            stats = (assigned
                     .select(F.posexplode("q").alias("d", "v"), "codes")
                     .select((F.col("d") / PQ_SUBDIM).cast("int").alias("m"),
                             (F.col("d") % PQ_SUBDIM).alias("dl"),
                             F.expr(f"element_at(codes, "
                                    f"cast(d div {PQ_SUBDIM} as int) + 1)")
                             .alias("cluster"),
                             "v")
                     .groupBy("m", "cluster", "dl")
                     .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
                     .collect())  # ≤ PQ_M·PQ_K·PQ_SUBDIM tiny rows
            Cq = Cq.copy()
            for r in stats:
                Cq[r.m, r.cluster, r.dl] = math.floor(r.s / r.n + 0.5)
    finally:
        vq.unpersist()
    spark = emb.sparkSession
    counts = spark.createDataFrame(
        [(int(r.m), int(r.cluster), int(r.n))
         for r in stats if r.dl == 0],
        "m int, cluster int, n_vecs long")
    cent = spark.createDataFrame(
        [(int(m), int(j), int(d), float(Cq[m, j, d]) / KM_SCALE)
         for m in range(PQ_M) for j in range(PQ_K)
         for d in range(PQ_SUBDIM)],
        "m int, cluster int, d int, centroid double")
    return (counts.join(F.broadcast(cent), ["m", "cluster"])
            .select("m", "cluster", "n_vecs", "d", "centroid"))


def pq_train_replay_exact(V: np.ndarray, n_iter: int = 3):
    """NumPy replay twin (pytest): returns (codes, Cq)."""
    Q = np.floor(V.astype(np.float64) * KM_SCALE + 0.5).astype(np.int64)
    Cq = pq_init_q()
    codes = None
    for _ in range(n_iter):
        codes = np.empty((Q.shape[0], PQ_M), dtype=np.int64)
        ss = np.einsum("mjd,mjd->mj", Cq, Cq)
        for m in range(PQ_M):
            Xm = Q[:, m * PQ_SUBDIM:(m + 1) * PQ_SUBDIM]
            codes[:, m] = (2 * (Xm @ Cq[m].T) - ss[m]).argmax(axis=1)
        Cq = Cq.copy()
        for m in range(PQ_M):
            for j in range(PQ_K):
                msk = codes[:, m] == j
                if msk.any():
                    Xm = Q[msk, m * PQ_SUBDIM:(m + 1) * PQ_SUBDIM]
                    Cq[m, j] = np.floor(Xm.sum(axis=0) / msk.sum() + 0.5)
    return codes, Cq


# ---------------------------------------------------------------------------
# Arrow candidate-generation kernel (r6 optimization round).
#
# Every top-k operator above ranks candidates by an EXACT, order-fixed
# float64 score (cosine via the d-ascending left fold, ADC via the
# m-ascending table fold).  Through r5 those scores were evaluated as
# unrolled Catalyst expressions per candidate PAIR — for the declared
# brute-force baseline that is a BroadcastNestedLoopJoin evaluating
# 192 `element_at` casts per pair (116 s at the driver's sf1.0).  The
# guide's §4.2 move: hand whole batches to NumPy.  The kernel below
# computes the SAME fold (same operation order, same IEEE ops — NumPy
# elementwise ops neither fuse nor reassociate, the precedent
# established by ivf_cluster_udf/_pq_scores_np and pinned by pytest)
# over (batch × query) score matrices, pre-selects per task every row
# that can still reach the global top-k (score >= the task-local kth
# score, so exact ties survive), and emits only those candidate rows.
# The global row_number window then ranks a few hundred rows instead
# of n·q pairs.  Results are bit-identical: scores are the same
# float64s, and per-partition top-k union ⊇ global top-k is exact
# selection, not approximation.
#
# Scale shape: the corpus side stays a single map pass (mapInArrow),
# queries/LUTs ride a broadcast (q ≈ n/50 · 0.5 KB), the shuffle
# carries ≤ tasks·q·k candidate rows.  The local single-file parquet
# scan is round-robin split to defaultParallelism first (5 MB at the
# fixture; a real multi-split scan skips that branch).
# ---------------------------------------------------------------------------


def _emb_f64(col) -> np.ndarray:
    """pyarrow list<float> column → (n, DIM) float64 (exact cast)."""
    import pyarrow as pa
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    flat = col.flatten().to_numpy(zero_copy_only=False)
    return flat.astype(np.float64).reshape(len(col), -1)


def _fold_dot_mat(X: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """(n, q) score matrix Σ_d X[:,d]·Q[:,d] with the d-ascending
    left-fold order of :func:`dot_col` (bit-identical float64)."""
    S = np.multiply.outer(X[:, 0], Q[:, 0])
    for d in range(1, X.shape[1]):
        S += np.multiply.outer(X[:, d], Q[:, d])
    return S


def _fold_norm2_np(X: np.ndarray) -> np.ndarray:
    """(n,) Σ_d X[:,d]² in the fold order of :func:`norm2_col`."""
    acc = X[:, 0] * X[:, 0]
    for d in range(1, X.shape[1]):
        acc = acc + X[:, d] * X[:, d]
    return acc


def _ivf_scores_np(X: np.ndarray) -> np.ndarray:
    """(n, N_CLUSTERS) quantizer scores — the exact fold of
    :func:`ivf_cluster_udf` (shared so the kernel's cell assignment is
    the same float64s as the UDF's and the oracle's)."""
    C = np.array([[centroid_coef(c, d) for d in range(DIM)]
                  for c in range(N_CLUSTERS)])
    H = np.array([_centroid_halfnorm(c) for c in range(N_CLUSTERS)])
    scores = np.empty((X.shape[0], N_CLUSTERS))
    for c in range(N_CLUSTERS):
        acc = C[c, 0] * X[:, 0]
        for d in range(1, DIM):  # fold order == ivf_score_sql
            acc = acc + C[c, d] * X[:, d]
        scores[:, c] = acc - H[c]
    return scores


def _lsh_buckets_np(X: np.ndarray) -> np.ndarray:
    """(n,) int64 bucket ids — the exact projection fold of
    :func:`plane_proj_sql` (d-ascending; sign test unaffected by the
    fold variants' ±0.0 seeds)."""
    out = np.zeros(X.shape[0], dtype=np.int64)
    for p in range(N_PLANES):
        acc = plane_coef(p, 0) * X[:, 0]
        for d in range(1, DIM):
            acc = acc + plane_coef(p, d) * X[:, d]
        out += np.where(acc > 0.0, np.int64(1 << p), np.int64(0))
    return out


def _pq_codes_np(X: np.ndarray) -> np.ndarray:
    """(n, PQ_M) int codes — exact twin of :func:`pq_encode_udf`."""
    C = pq_codebook()
    H = np.array([[_pq_halfnorm(m, j) for j in range(PQ_K)]
                  for m in range(PQ_M)])
    codes = np.empty((X.shape[0], PQ_M), dtype=np.int64)
    for m in range(PQ_M):
        codes[:, m] = _pq_scores_np(X, C, H, m).argmax(axis=1)
    return codes


def _pq_lut_np(X: np.ndarray) -> np.ndarray:
    """(n, PQ_M·PQ_K) ADC tables — exact twin of :func:`pq_lut_udf`."""
    C = pq_codebook()
    H = np.array([[_pq_halfnorm(m, j) for j in range(PQ_K)]
                  for m in range(PQ_M)])
    lut = np.empty((X.shape[0], PQ_M * PQ_K))
    for m in range(PQ_M):
        lut[:, m * PQ_K:(m + 1) * PQ_K] = _pq_scores_np(X, C, H, m)
    return lut


def _adc_scores_np(codes: np.ndarray, LUT: np.ndarray) -> np.ndarray:
    """(n, q) ADC scores: m-ascending gather fold over the code table,
    seeded 0.0 — the exact order of :func:`adc_score_col`."""
    n, q = codes.shape[0], LUT.shape[0]
    S = np.zeros((n, q))
    for m in range(PQ_M):
        S += LUT[:, m * PQ_K + codes[:, m]].T
    return S


def _probes_np(X: np.ndarray, nprobe: int) -> np.ndarray:
    """(n, nprobe) best cells, score DESC / cell ASC — exact twin of
    :func:`ivf_probe_udf` (stable argsort)."""
    return np.argsort(-_ivf_scores_np(X), axis=1, kind="stable")[:, :nprobe]


def _split_scan(df: DataFrame):
    """Round-robin the corpus across defaultParallelism tasks when the
    local scan arrives in fewer splits (the sandbox single-file case);
    a real multi-split scan passes through untouched."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def _topk_candidates(emb: DataFrame, mode: str, k: int, query_filter: str,
                     nprobe: int = 3) -> DataFrame:
    """(q_id, vec_id, score) candidate rows whose union provably
    contains every query's global top-k under (score DESC, vec_id ASC):
    per task, every candidate scoring >= that task's kth-best score for
    the query is emitted (exact ties included; NaN scores rank first,
    matching Spark's NaN-greatest ordering)."""
    spark = emb.sparkSession
    q_pdf = (emb.filter(query_filter)
             .select("vec_id", "embedding").toPandas())
    schema = "q_id long, vec_id long, score double"
    if len(q_pdf) == 0:
        return spark.createDataFrame([], schema)
    q_ids = q_pdf["vec_id"].to_numpy(np.int64)
    Q = np.stack(q_pdf["embedding"].to_numpy()).astype(np.float64)
    payload = {"q_ids": q_ids}
    if mode in ("brute", "lsh", "ivf", "ivf_nprobe"):
        payload["q_n2"] = _fold_norm2_np(Q)
        payload["Q"] = Q
    if mode == "lsh":
        payload["q_bucket"] = _lsh_buckets_np(Q)
    if mode == "ivf":
        payload["q_cell"] = _ivf_scores_np(Q).argmax(axis=1)
    if mode in ("ivf_nprobe", "ivfpq"):
        payload["q_probes"] = _probes_np(Q, nprobe)
    if mode in ("ivfpq", "pq_adc"):
        payload["LUT"] = _pq_lut_np(Q)
    bq = spark.sparkContext.broadcast(payload)

    def kern(batches):
        import pyarrow as pa
        p = bq.value
        q_ids_l = p["q_ids"]
        nq = len(q_ids_l)
        for batch in batches:
            ids = batch.column("vec_id").to_numpy(
                zero_copy_only=False).astype(np.int64)
            X = _emb_f64(batch.column("embedding"))
            n = len(ids)
            if n == 0:
                continue
            valid = ids[:, None] != q_ids_l[None, :]
            if mode in ("brute", "lsh", "ivf", "ivf_nprobe"):
                c_n2 = _fold_norm2_np(X)
                S = _fold_dot_mat(X, p["Q"])
                S /= np.sqrt(np.multiply.outer(c_n2, p["q_n2"]))
            else:
                codes = _pq_codes_np(X)
                S = _adc_scores_np(codes, p["LUT"])
            if mode == "lsh":
                valid &= (_lsh_buckets_np(X)[:, None]
                          == p["q_bucket"][None, :])
            elif mode == "ivf":
                cells = _ivf_scores_np(X).argmax(axis=1)
                valid &= cells[:, None] == p["q_cell"][None, :]
            elif mode in ("ivf_nprobe", "ivfpq"):
                cells = _ivf_scores_np(X).argmax(axis=1)
                valid &= (cells[:, None, None]
                          == p["q_probes"][None, :, :]).any(axis=2)
            sel = S.copy()
            sel[np.isnan(sel)] = np.inf  # Spark orders NaN greatest
            sel[~valid] = -np.inf
            kk = min(k, n)
            top = np.argpartition(sel, n - kk, axis=0)[n - kk:]
            thr = sel[top, np.arange(nq)[None, :]].min(axis=0)
            emit = valid & (sel >= thr[None, :])
            rows, cols = np.nonzero(emit)
            if len(rows) == 0:
                continue
            yield pa.RecordBatch.from_arrays(
                [pa.array(q_ids_l[cols]), pa.array(ids[rows]),
                 pa.array(S[rows, cols])],
                names=["q_id", "vec_id", "score"])

    src = _split_scan(emb.select("vec_id", "embedding"))
    return src.mapInArrow(kern, schema)


def _rank_topk(cand: DataFrame, k: int, out_name: str) -> DataFrame:
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(),
                                           F.col("vec_id").asc())
    return (cand.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("q_id", "vec_id", "rk",
                    F.round("score", 9).alias(out_name)))


def _pq_c0_sql() -> str:
    """Quantized grid init reproduced arithmetically (the SQL twin of
    pq_init_q; _pq_coef_sql carries the 1-based-d offset)."""
    coef = _pq_coef_sql("mm.m", "cl.j", "gd.i")
    return f"""
(SELECT mm.m AS m, cl.j AS cluster, gd.i - 1 AS dl,
        cast(floor({coef} * {KM_SCALE}.0e0 + 0.5e0) AS bigint) AS cq
 FROM generate_series(0, {PQ_M - 1}) AS mm(m),
      generate_series(0, {PQ_K - 1}) AS cl(j),
      generate_series(1, {PQ_SUBDIM}) AS gd(i))
"""


def pq_train_codebooks_exact_sql(n_iter: int = 3) -> str:
    """DuckDB twin: the per-subspace Lloyd unrolled as CTE stages —
    the ivf_train_kmeans_exact_sql recurrence with the composite
    (m, cluster) key."""
    parts = [f"""
pts AS (
  SELECT vec_id, (gs.i - 1) // {PQ_SUBDIM} AS m,
         (gs.i - 1) % {PQ_SUBDIM} AS dl,
         cast(floor(cast(embedding[gs.i] AS double) * {KM_SCALE}.0e0
                    + 0.5e0) AS bigint) AS vq
  FROM embeddings, generate_series(1, {DIM}) AS gs(i)),
c0 AS (SELECT * FROM {_pq_c0_sql()} q_c0)"""]
    for k in range(1, n_iter + 1):
        p = k - 1
        parts.append(f"""
ss{p} AS (SELECT m, cluster, sum(cq * cq) AS ss
          FROM c{p} GROUP BY m, cluster),
sc{k} AS (SELECT p.vec_id, p.m, c.cluster, 2 * sum(p.vq * c.cq) AS dot2
          FROM pts p JOIN c{p} c ON p.m = c.m AND p.dl = c.dl
          GROUP BY p.vec_id, p.m, c.cluster),
a{k} AS (SELECT vec_id, m, cluster FROM (
           SELECT s.vec_id, s.m, s.cluster,
                  row_number() OVER (PARTITION BY s.vec_id, s.m
                     ORDER BY s.dot2 - w.ss DESC, s.cluster ASC) AS rn
           FROM sc{k} s JOIN ss{p} w
             ON s.m = w.m AND s.cluster = w.cluster) r{k}
         WHERE rn = 1),
u{k} AS (SELECT a.m, a.cluster, p.dl, sum(p.vq) AS s, count(*) AS n
         FROM a{k} a JOIN pts p ON a.vec_id = p.vec_id AND a.m = p.m
         GROUP BY a.m, a.cluster, p.dl),
c{k} AS (SELECT c.m, c.cluster, c.dl,
                CASE WHEN u.n IS NULL THEN c.cq
                     ELSE cast(floor(cast(u.s AS double) / u.n + 0.5e0)
                               AS bigint) END AS cq
         FROM c{p} c LEFT JOIN u{k} u
           ON c.m = u.m AND c.cluster = u.cluster AND c.dl = u.dl)""")
    body = ",".join(parts)
    return f"""
WITH {body},
counts AS (SELECT m, cluster, count(*) AS n_vecs
           FROM a{n_iter} GROUP BY m, cluster)
SELECT co.m, co.cluster, co.n_vecs, ce.dl AS d,
       ce.cq / {KM_SCALE}.0e0 AS centroid
FROM counts co JOIN c{n_iter} ce
  ON co.m = ce.m AND co.cluster = ce.cluster
"""
