"""Benchmark harness (driver contract + BASELINE.md scaling protocol).

Runs the engine's headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": ..., "value": <flagship wall s>, "unit": "sec",
     "queries": {...per-query sec...}, "query_runs": {...}, "sf": ...,
     "flagship_input_rows": N, "flagship_out_rows": M,
     "flagship_docs_per_sec": X}

The flagship query IS the BASELINE.json metric pipeline: derive D48/GK
coordinates for every lineitem row (codegen) → t=3 datum conversion
(fused Arrow pandas UDF) → grid-cell encode (codegen) → PIP broadcast
join vs municipality polygons → salted tile aggregation.  docs/sec is
input rows / wall-clock of the full pipeline.

Scaling evidence (local[N] vs local[4N]) is produced by
``tools/scaling_interleaved.py``, which imports this file.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from geocoordinateconverter_spark import kernels  # noqa: E402
from geocoordinateconverter_spark.operators import curation as cu  # noqa: E402
from geocoordinateconverter_spark.operators import pip as pip_op  # noqa: E402
from geocoordinateconverter_spark.operators import similarity as sim  # noqa: E402
from geocoordinateconverter_spark.operators import textdedup as td  # noqa: E402
from geocoordinateconverter_spark.plans.session import build_session  # noqa: E402
from geocoordinateconverter_spark.sources import webpages as wp  # noqa: E402


def flagship(spark, sf_dir, mult: int = 1):
    """BASELINE.json metric: D48/GK→WGS84 (t=3) + PIP join + tile agg.

    ``mult`` replicates the derived point set with distinct keys
    (k·mult+i) — used by the scaling study so compute dominates fixed
    overheads at higher core counts; identical input at every
    parallelism level.
    """
    # The sandbox parquet is a single file → a single input split,
    # which would serialize every downstream stage; a real 100 TB scan
    # arrives in thousands of splits.  Simulate that honestly: shuffle
    # ONLY the 8-byte key column across defaultParallelism partitions,
    # then derive coordinates and run the heavy stages post-shuffle.
    par = spark.sparkContext.defaultParallelism
    gk = entrymod.sg.gk_points_sql("k")
    keys = (spark.sql(f"SELECT {entrymod.LKEY} AS k0 FROM lineitem")
            .repartition(par))
    keys.createOrReplaceTempView("bench_keys")
    if mult > 1:
        key_expr = f"k0 * {mult} + i"
        frm = (f"(SELECT {key_expr} AS k FROM bench_keys "
               f"LATERAL VIEW explode(sequence(0, {mult - 1})) t AS i) q_k")
    else:
        frm = "(SELECT k0 AS k FROM bench_keys) q_k"
    src = spark.sql(
        f"SELECT k, {gk['x']} AS x, {gk['y']} AS y, {gk['h']} AS h FROM {frm}")
    t3 = kernels.transform_udf(3)
    conv = (src.withColumn("o", t3(F.col("x"), F.col("y"), F.col("h")))
            .select("k", F.col("o.fi").alias("fi"), F.col("o.la").alias("la"),
                    F.col("o.h").alias("h")))
    hits = pip_op.pip_join(conv, spark)
    # Tile rollup with map-side-partial aggregates only (count + HLL
    # distinct): the shuffle carries one partial row per (task, cell),
    # not one row per point — the scale-correct form at 10¹² rows.
    # Exact distinct per cell is tiles.salted_tile_agg (shuffle on
    # (cell, key), then merge on cell; benched + tested separately).
    return (hits
            .withColumn("cell", kernels.cell_col(F.col("fi"), F.col("la"), 7))
            .groupBy("cell")
            .agg(F.count("*").alias("n_pts"),
                 F.approx_count_distinct("k", 0.02).alias("n_docs_approx"),
                 F.min("h").alias("min_h"), F.max("h").alias("max_h")))


def q_tile(spark, sf_dir):
    # intentionally NOT entrymod's tile_t3_cells (which adds a rounded
    # avg_h for its oracle): this count-only form has been the timed
    # workload since round 1, and changing it would break cross-round
    # bench comparability
    src = spark.sql(f"SELECT * FROM {entrymod.SRC_GK_LINEITEM}")
    t3 = kernels.transform_udf(3)
    conv = src.withColumn("o", t3(F.col("x"), F.col("y"), F.col("h")))
    return (conv.withColumn("cell",
                            kernels.cell_col(F.col("o.fi"), F.col("o.la"), 7))
            .groupBy("cell").agg(F.count("*").alias("n")))


def q_geoparse(spark, sf_dir):
    pages = spark.sql(f"SELECT * FROM {wp.webpages_sql('documents')} w")
    pages.createOrReplaceTempView("webpages")
    return spark.sql(f"SELECT url, x, y, h FROM {wp.geoparse_gk_sql('webpages')} g")


def q_knn(spark, sf_dir):
    from geocoordinateconverter_spark.operators import knn as knn_op
    pts = spark.sql(f"SELECT * FROM {entrymod.SRC_WGS_ORDERS}")
    return knn_op.knn_join(pts, spark, key="k", k=3)


def q_radius(spark, sf_dir):
    from geocoordinateconverter_spark.operators import knn as knn_op
    pts = spark.sql(f"SELECT * FROM {entrymod.SRC_WGS_ORDERS}")
    return knn_op.radius_join(pts, spark)


def q_bbox(spark, sf_dir):
    from geocoordinateconverter_spark.operators import bboxjoin as bj
    return bj.bbox_intersects_join(bj.parcels_df(spark), spark)


def q_minhash(spark, sf_dir):
    return td.minhash_pairs(spark.table("documents"))


def q_ann(spark, sf_dir):
    return sim.brute_force_topk(spark.table("embeddings"), k=5)


def q_ann_ivf(spark, sf_dir):
    return sim.ivf_topk(spark.table("embeddings"), k=5)


def q_ann_ivf_nprobe(spark, sf_dir):
    return sim.ivf_nprobe_topk(spark.table("embeddings"), k=5, nprobe=3)


def q_ann_ivfpq(spark, sf_dir):
    return sim.ivfpq_topk(spark.table("embeddings"), k=5, nprobe=3)


# bench owns the simhash band-table cache: simhash_near_dup_pairs only
# persists under the caller-owned contract (r5), and the measurement
# must keep r4's semantics (banded frame computed once per action, not
# twice through the self-join)
_SIMHASH_BENCH_CACHE: list = []


def q_simhash_pairs(spark, sf_dir):
    for c in _SIMHASH_BENCH_CACHE:
        try:
            c.unpersist()
        except Exception:
            pass
    _SIMHASH_BENCH_CACHE.clear()
    return td.simhash_near_dup_pairs(spark.table("documents"),
                                     cache=_SIMHASH_BENCH_CACHE)


def q_dedup(spark, sf_dir):
    return td.exact_dedup(spark.table("documents"))


def q_tpch1(spark, sf_dir):
    return entrymod.queries()["tpch_q1_pricing"](spark, sf_dir)


def q_pack(spark, sf_dir):
    return cu.pack_sequences(spark.table("documents"))


# same caller-owned contract as the simhash cache above: the gram
# table feeds both branches of the dup-gram self-reference, so the
# measurement persists it once per action
_DUP_SPANS_BENCH_CACHE: list = []


def q_dup_spans(spark, sf_dir):
    for c in _DUP_SPANS_BENCH_CACHE:
        try:
            c.unpersist()
        except Exception:
            pass
    _DUP_SPANS_BENCH_CACHE.clear()
    return cu.dup_ngram_spans(spark.table("documents"),
                              cache=_DUP_SPANS_BENCH_CACHE)


def q_decon(spark, sf_dir):
    return cu.decontaminate(spark.table("documents"))


# same caller-owned contract as the simhash/dup-spans caches: the line
# table feeds both the frequency agg and the reassembly
_LINE_DEDUP_BENCH_CACHE: list = []


def q_line_dedup(spark, sf_dir):
    for c in _LINE_DEDUP_BENCH_CACHE:
        try:
            c.unpersist()
        except Exception:
            pass
    _LINE_DEDUP_BENCH_CACHE.clear()
    return cu.line_dedup(spark.table("documents"),
                         cache=_LINE_DEDUP_BENCH_CACHE)


BENCH_QUERIES = {
    "tile_t3_cells": q_tile,
    "geoparse_gk": q_geoparse,
    "knn_join": q_knn,
    # r5 wave-3 spatial joins (the other two join geometries: within-R
    # and region-region; kring/tfidf/pagerank run on small post-agg or
    # dim-sized tables and aren't corpus-bound — no slots)
    "radius_join": q_radius,
    "bbox_join": q_bbox,
    "minhash_lsh_pairs": q_minhash,
    "ann_cosine_topk": q_ann,
    "ann_ivf_topk": q_ann_ivf,
    "ann_ivf_nprobe_topk": q_ann_ivf_nprobe,
    "ann_ivfpq_topk": q_ann_ivfpq,
    "simhash_near_dup_pairs": q_simhash_pairs,
    "dedup_exact": q_dedup,
    "tpch_q1": q_tpch1,
    # r5 curation additions (the ones with nontrivial plans; sampling,
    # mixture resampling and pii_redact are zero-shuffle codegen maps,
    # not worth slots; token_budget_select is two tiny aggs + a
    # partitioned window over the same scan as pack_sequences)
    "pack_sequences": q_pack,
    "dup_ngram_spans": q_dup_spans,
    "decontaminate_bench": q_decon,
    "line_dedup_reassemble": q_line_dedup,
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    mult = int(os.environ.get("SPARK_GRAFT_MULT", "1"))
    flagship_only = os.environ.get("SPARK_GRAFT_ONLY", "") == "flagship"
    spark = build_session("bench", cores=cores, shuffle_partitions=cores)
    entrymod._register(spark, sf_dir)

    n_docs = spark.table("lineitem").count() * mult

    repeats = int(os.environ.get("SPARK_GRAFT_REPEATS", "3"))

    # warm-up: JIT + Python worker pool spin-up on a small slice, so the
    # measured runs see steady-state executors (same treatment for every
    # parallelism level)
    flagship(spark, sf_dir).limit(1).count()

    def timed(fn) -> float:
        # clear explicit Spark caches BEFORE each timed run: operators
        # that persist internals (minhash band table) would otherwise
        # serve repeats 2..N from cache and min-of-N would report the
        # cache-hit time (measured 0.8 s vs 8 s cold), not the operator
        spark.catalog.clearCache()
        t0 = time.time()
        fn()
        return time.time() - t0

    # min-of-N per query (VERDICT r2 #9): the shared host drifts on
    # minute scales (documented 20× capacity swings), so a single shot
    # regularly masquerades as a 2–4× regression; min over repeats is
    # the only estimator that tracked code changes across rounds.
    # BUDGETED: pass 1 always runs every query once (a complete JSON
    # line is guaranteed in single-shot time); repeat passes run only
    # while the wall budget allows, so a driver-side timeout can never
    # leave the bench with no output at all.
    budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "300"))
    runs: dict[str, list[float]] = {}
    flagship_rows = 0

    def run_flagship():
        nonlocal flagship_rows
        flagship_rows = flagship(spark, sf_dir, mult).count()

    jobs: list[tuple[str, object]] = [("flagship_t3_pip_tile", run_flagship)]
    if not flagship_only:
        jobs += [(name, (lambda fn=fn: fn(spark, sf_dir).count()))
                 for name, fn in BENCH_QUERIES.items()]

    bench_t0 = time.time()
    for rep in range(repeats):
        for name, job in jobs:
            if rep > 0 and time.time() - bench_t0 > budget_s:
                break
            runs.setdefault(name, []).append(round(timed(job), 3))

    times = {name: min(r) for name, r in runs.items()}
    flagship_s = times["flagship_t3_pip_tile"]

    out = {
        "metric": "D48/GK→WGS84 (t=3) + PIP join + tile agg wall-clock",
        "value": round(flagship_s, 3),
        "unit": "sec",
        "queries": times,
        "query_runs": runs,
        "repeats": repeats,
        "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
        "cores": cores,
        "flagship_input_rows": n_docs,
        "flagship_out_rows": flagship_rows,
        "flagship_docs_per_sec": round(n_docs / flagship_s, 1),
    }
    print(json.dumps(out, ensure_ascii=False))
    spark.stop()


if __name__ == "__main__":
    main()
