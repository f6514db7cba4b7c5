"""Tests of the benchmark itself: the fingerprint, the Spark pipelines
against the DuckDB twins on small seeded inputs, and BENCHMARK.json.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import fingerprint as fp  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

SPEC = [("int", "a"), ("int", "b"), ("fix", "d", 40), ("sum", "s", 1e-6)]


def _cols(rng, n=50):
    return {"a": rng.integers(-10**12, 10**12, n), "b": rng.integers(0, 5, n),
            "d": rng.random(n), "s": rng.random(n)}


def test_fingerprint_is_order_independent_and_row_sensitive():
    rng = np.random.default_rng(0)
    cols = _cols(rng)
    base = fp.from_columns(SPEC, cols)
    perm = rng.permutation(50)
    assert fp.matches(SPEC, fp.from_columns(SPEC, {k: v[perm] for k, v in cols.items()}), base)
    # same column sums, values swapped between two rows
    swapped = {k: v.copy() for k, v in cols.items()}
    swapped["b"][[0, 1]] = swapped["b"][[1, 0]]
    if cols["b"][0] != cols["b"][1]:
        assert not fp.matches(SPEC, fp.from_columns(SPEC, swapped), base)
    shifted = dict(cols, s=cols["s"] + 1e-3)
    assert not fp.matches(SPEC, fp.from_columns(SPEC, shifted), base)


@pytest.fixture
def small(monkeypatch):
    """Workload sizes small enough for a test; same code paths."""
    for name, n in (("PAGES", 4000), ("POINTS", 5000),
                    ("CORPUS_DOCS", 1500), ("CORPUS_VECS", 600)):
        monkeypatch.setattr(workloads, name, n)
    scratch = tempfile.mkdtemp(dir=ROOT, prefix=".perfbench_test_")
    saved = dict(os.environ)
    yield scratch
    os.environ.clear()
    os.environ.update(saved)
    shutil.rmtree(scratch, ignore_errors=True)


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_spark_output_matches_duckdb_twins(small, name):
    os.environ.update(run.fixed_env(small))
    bench = run.Bench(workloads.WORKLOADS[name], seed=7, seconds=0, tmp=small)
    try:
        bench.prepare()
        bench.setup()
        bench.start_oracle()
        bench.iteration("check")
        bench.await_oracle()
    finally:
        bench.close()
    assert all(fp_["n"] > 0 for fp_ in bench.expected.values()), bench.expected
    assert bench.attempted == len(bench.wl.actions)
    assert bench.failed == 0, bench.diag


def test_inputs_follow_the_seed(small):
    import pyarrow.parquet as pq
    w = workloads.WORKLOADS["geo_pipelines"]
    paths = []
    for sub, seed in (("a", 1), ("b", 1), ("c", 2)):
        d = os.path.join(small, sub)
        os.makedirs(d)
        paths.append(w.generate(seed, d)["points"])
    ta, tb, tc = (pq.read_table(p) for p in paths)
    assert ta.equals(tb) and not ta.equals(tc)
    files = sorted(os.listdir(paths[0]))
    assert len(files) > 1
    assert pq.ParquetFile(os.path.join(paths[0], files[0])).num_row_groups > 1


def test_benchmark_json_matches_the_code():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == \
        layers.PER_LAYER
    assert {m["name"] for m in bench["end_to_end"]} == \
        {"setup_s", "cold_iter_s", "rows_per_s", "python_peak_rss_mb"}
    assert max(m["bound"] for m in bench["end_to_end"]) == \
        next(m["bound"] for m in bench["end_to_end"] if m["name"] == "setup_s")
