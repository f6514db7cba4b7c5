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
(fused Arrow UDF) → grid-cell encode (codegen) → PIP broadcast
join vs municipality polygons → tile aggregation.  docs/sec is
input rows / wall-clock of the full pipeline.  The other 17 timed
queries (``BENCH_QUERIES``) are 16 registered queries, looked up in
``queries()`` once before the timed passes, plus the GK geoparse
prefix.  Every timed job builds its plan and writes through Spark's
``noop`` sink, so each output column is computed and nothing is kept.

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
from geocoordinateconverter_spark.operators import pip as pip_op  # noqa: E402
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


def geoparse_gk(spark, sf_dir):
    # the flagship's geoparse prefix; no registered query parses GK alone
    return spark.sql(
        f"SELECT url, x, y, h FROM {wp.geoparse_gk_sql(entrymod.PAGES)} g")


# JSON key → registered query name (geoparse_gk is the build above)
BENCH_QUERIES = {
    "tile_t3_cells": "tile_t3_cells",
    "geoparse_gk": "geoparse_gk",
    "knn_join": "knn_join_stations",
    # r5 wave-3 spatial joins (the other two join geometries: within-R
    # and region-region; kring/tfidf/pagerank run on small post-agg or
    # dim-sized tables and aren't corpus-bound — no slots)
    "radius_join": "radius_join_stations",
    "bbox_join": "bbox_intersects_join",
    "minhash_lsh_pairs": "minhash_lsh_pairs",
    "ann_cosine_topk": "ann_cosine_topk",
    "ann_ivf_topk": "ann_ivf_topk",
    "ann_ivf_nprobe_topk": "ann_ivf_nprobe_topk",
    "ann_ivfpq_topk": "ann_ivfpq_topk",
    "simhash_near_dup_pairs": "simhash_near_dup_pairs",
    "dedup_exact": "dedup_exact",
    "tpch_q1": "tpch_q1_pricing",
    # r5 curation additions (the ones with nontrivial plans; sampling,
    # mixture resampling and pii_redact are zero-shuffle codegen maps,
    # not worth slots; token_budget_select is two tiny aggs + a
    # partitioned window over the same scan as pack_sequences)
    "pack_sequences": "pack_sequences",
    "dup_ngram_spans": "dup_ngram_spans",
    "decontaminate_bench": "decontaminate_bench",
    "line_dedup_reassemble": "line_dedup_reassemble",
}


def write_noop(df) -> None:
    """Compute every output column and row, and keep none of them."""
    df.write.format("noop").mode("overwrite").save()


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
    jobs: list[tuple[str, object]] = [
        ("flagship_t3_pip_tile",
         lambda: write_noop(flagship(spark, sf_dir, mult)))]
    if not flagship_only:
        builds = entrymod.queries() | {"geoparse_gk": geoparse_gk}
        jobs += [(key, (lambda b=builds[name]: write_noop(b(spark, sf_dir))))
                 for key, name in BENCH_QUERIES.items()]

    bench_t0 = time.time()
    for rep in range(repeats):
        for name, job in jobs:
            if rep > 0 and time.time() - bench_t0 > budget_s:
                break
            runs.setdefault(name, []).append(round(timed(job), 3))

    times = {name: min(r) for name, r in runs.items()}
    flagship_s = times["flagship_t3_pip_tile"]
    flagship_rows = flagship(spark, sf_dir, mult).count()

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
