"""Per-layer metrics of the traced run (``--trace 1``).

Three sources, none of them code inside the engine:

* layer times — noop-sink wall time of each pipeline prefix, minus the
  previous prefix's (``prefix_times``);
* counts, bytes and Python time — Spark's own per-node SQL metrics of
  one traced execution of each action (``node_metrics``);
* kernel throughput — a direct single-thread call of the chain's NumPy
  kernel on the workload's points (``kernel_rates``).

A layer a workload does not run reports 0, so every traced run emits
the same metric names (and the separation of layers shows as zeros).
"""

from __future__ import annotations

import statistics
from collections import Counter

PREFIX_REPS = 3     # noop-sink repetitions per prefix; the first compiles a new plan shape
KERNEL_REPS = 3     # direct kernel calls per layer

# (name, unit, better) — the per_layer list of BENCHMARK.json
PER_LAYER = [
    ("plans.session.build_s", "s", "lower"),
    ("plans.session.jvm_start_s", "s", "lower"),
    ("sources.webpages.geoparse_s", "s", "lower"),
    ("sources.webpages.hit_ratio", "ratio", "higher"),
    ("kernels.udf_s", "s", "lower"),
    ("kernels.python_time_s", "s", "lower"),
    ("kernels.python_init_s", "s", "lower"),
    ("kernels.arrow_bytes_sent", "bytes", "lower"),
    ("geodesy.gk_to_wgs84_rows_per_s", "rows/s", "higher"),
    ("aft.gk_to_wgs84_aft_rows_per_s", "rows/s", "higher"),
    ("operators.pip.join_s", "s", "lower"),
    ("operators.pip.candidates", "count", "lower"),
    ("operators.pip.inside", "count", "higher"),
    ("operators.pip.refine_useful_ratio", "ratio", "higher"),
    ("operators.tiles.agg_s", "s", "lower"),
    ("operators.tiles.shuffle_bytes", "bytes", "lower"),
    ("operators.tiles.cells_out", "count", "lower"),
    ("operators.knn.join_s", "s", "lower"),
    ("operators.knn.python_time_s", "s", "lower"),
    ("operators.textdedup.exact_dedup_s", "s", "lower"),
    ("operators.textdedup.minhash_pairs_s", "s", "lower"),
    ("operators.textdedup.minhash_pairs_out", "count", "lower"),
    ("operators.textdedup.shuffle_bytes", "bytes", "lower"),
    ("operators.curation.dup_ngram_spans_s", "s", "lower"),
    ("operators.curation.shuffle_bytes", "bytes", "lower"),
    ("operators.curation.spill_bytes", "bytes", "lower"),
    ("operators.similarity.topk_s", "s", "lower"),
    ("operators.similarity.preselect_ratio", "ratio", "lower"),
    ("operators.similarity.python_time_s", "s", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("trace.rows_per_s", "rows/s", "higher"),
]


def complete(m: dict) -> dict:
    """``{name: (value, unit)}`` for every per-layer metric, 0 where the
    workload does not run the layer."""
    unknown = set(m) - {n for n, _, _ in PER_LAYER}
    if unknown:
        raise KeyError(f"undeclared per-layer metrics: {sorted(unknown)}")
    return {n: (m.get(n, 0), u) for n, u, _ in PER_LAYER}


def prefix_times(bench) -> dict:
    """Layer time = median noop-sink time of the prefix ending at the
    layer's public function minus that of the prefix before it, summed
    over the workload's chains.  A prefix listed twice (the same build
    function) is timed once."""
    spark, out, prev, seen = bench.spark, {}, None, {}
    for i, p in enumerate(bench.wl.prefixes):
        if p.build in seen:
            prev = seen[p.build]
            continue
        reps = []
        for r in range(PREFIX_REPS):
            spark.catalog.clearCache()
            cache: list = []
            with bench.spans.span("prefix", index=i, metric=p.metric, rep=r) as s:
                p.build(spark, cache).write.format("noop").mode("overwrite").save()
            for c in cache:
                c.unpersist(blocking=True)
            reps.append(s["dur_s"])
        t = seen[p.build] = statistics.median(reps)
        if p.metric is not None:
            out[p.metric] = out.get(p.metric, 0) + t - prev
        prev = t
    return out


def _geo_chain(nodes, out: Counter) -> float:
    """Add the kernel, PIP and tile metrics of one geo chain to ``out``;
    return the rows that entered the kernel (the parsed points).

    The chain has two Arrow UDF nodes: the datum kernel, below the PIP
    cover-cell BroadcastHashJoin, and the PIP ray-cast refine above it,
    whose parent Filter keeps the points inside."""
    from tracing import ancestor, total
    kern, refine = [], []
    for i, n in enumerate(nodes):
        if n["name"] == "ArrowEvalPython":
            below_join = ancestor(nodes, i, "BroadcastHashJoin") is not None
            (kern if below_join else refine).append(i)
    kern = [nodes[i] for i in kern]
    out["kernels.python_time_s"] += total(kern, "pythonTotalTime")
    out["kernels.python_init_s"] += total(kern, "pythonInitTime")
    out["kernels.arrow_bytes_sent"] += total(kern, "pythonDataSent")
    out["operators.pip.candidates"] += total(nodes, "numOutputRows", "BroadcastHashJoin")
    for i in refine:
        f = ancestor(nodes, i, "Filter")
        out["operators.pip.inside"] += f["metrics"].get("numOutputRows", 0) if f else 0
    out["operators.tiles.shuffle_bytes"] += total(nodes, "dataSize", "Exchange")
    return total(kern, "pythonNumRowsReceived")


def node_metrics(bench) -> dict:
    """Counts, bytes and Python time from one traced execution of each
    action of the iteration, summed over the actions."""
    from tracing import plan_nodes, total
    from workloads import CORPUS_VECS, PAGES
    spark, out = bench.spark, Counter()
    for a in bench.wl.actions:
        spark.catalog.clearCache()
        cache: list = []
        with bench.spans.span("plan_metrics", action=a.name):
            nodes = plan_nodes(a.build(spark, cache))
        for c in cache:
            c.unpersist(blocking=True)
        n_out = bench.expected[a.name]["n"]
        if a.name in ("tiles", "aft_pip_tiles"):
            parsed = _geo_chain(nodes, out)
            out["operators.tiles.cells_out"] += n_out
            if a.name == "tiles":
                out["sources.webpages.hit_ratio"] = parsed / PAGES
        elif a.name == "knn":
            out["operators.knn.python_time_s"] += total(nodes, "pythonTotalTime",
                                                        "ArrowEvalPython")
        elif a.name in ("exact_dedup", "minhash_pairs"):
            out["operators.textdedup.shuffle_bytes"] += total(nodes, "dataSize", "Exchange")
            if a.name == "minhash_pairs":
                out["operators.textdedup.minhash_pairs_out"] = n_out
        elif a.name == "dup_ngram_spans":
            out["operators.curation.shuffle_bytes"] += total(nodes, "dataSize", "Exchange")
            out["operators.curation.spill_bytes"] += total(nodes, "spillSize")
        elif a.name == "brute_force_topk":
            arrow = [n for n in nodes if "MapInArrow" in n["name"]]
            out["operators.similarity.preselect_ratio"] = (
                total(arrow, "pythonNumRowsReceived") / CORPUS_VECS)
            out["operators.similarity.python_time_s"] += total(arrow, "pythonTotalTime")
    if out["operators.pip.candidates"]:
        out["operators.pip.refine_useful_ratio"] = (
            out["operators.pip.inside"] / out["operators.pip.candidates"])
    return dict(out)


def kernel_rates(bench) -> dict:
    """Rows per second of each chain's NumPy kernel called directly, on
    one thread, over the workload's own points."""
    import numpy as np
    out = {}
    for i, (metric, fn, _) in enumerate(bench.wl.kernels):
        x, y, h = (np.ascontiguousarray(bench.kernel_points[f"{i}_{c}"], np.float64)
                   for c in ("x", "y", "h"))
        reps = []
        for r in range(KERNEL_REPS):
            with bench.spans.span("kernel", metric=metric, rep=r) as s:
                fn(x, y, h)
            reps.append(s["dur_s"])
        out[metric] = len(x) / statistics.median(reps)
    return out
