#!/usr/bin/env python3
"""Benchmark of the geocoordinateconverter_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  One run:

1. generates the workload's inputs from ``--seed`` (parquet, under a
   temp dir inside the checkout that is removed at exit), then sets up
   once in a fresh JVM (``first_setup_s`` and ``jvm_start_s`` in the
   diagnostics line, the latter also a per-layer metric) — none of this
   is timed as ``setup_s``;
2. sets up ``SETUPS`` times in the running JVM (stop the session,
   ``build_session``, register the inputs) and reports the median as
   ``setup_s``;
3. runs one cold iteration (``cold_iter_s``), ``WARMUP`` warm-up
   iterations, then iterations for ``--seconds``; every action of an
   iteration writes to the noop sink and its output fingerprint, taken
   in the same pass, is checked against the expected one.  ``oracle.py``
   computes the expected fingerprints with the repo's DuckDB twins in
   its own process while the warm-up iterations run, the only phase
   whose times are discarded; their fingerprints are checked when it
   is done;
4. prints one JSON line: end-to-end metrics with ``--trace 0``,
   per-layer metrics with ``--trace 1`` (see README.md).

Exits non-zero, printing no result, when the engine cannot be imported
or set up.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import fingerprint as fp
import layers
from tracing import RssSampler, Spans, job_counts

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CORES = 4           # local[4]: parallelism is fixed, not taken from the host
SETUPS = 11         # set-ups per run, in the running JVM; setup_s is their median
WARMUP = 2          # warm-up iterations discarded after the cold one
MIN_ITERS = 3       # measured iterations, even past --seconds


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def fixed_env(tmp: str) -> dict:
    """Environment the benchmark process, the JVM and the Python workers share:
    fixed hashing, and every scratch file inside ``tmp``."""
    local = os.path.join(tmp, "spark-local")
    os.makedirs(local, exist_ok=True)
    return {
        "PYTHONHASHSEED": "0",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot: the share the
    hypervisor gave to other guests, for the diagnostics line."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


class Bench:
    def __init__(self, wl, seed: int, seconds: float, tmp: str):
        self.wl, self.seed, self.seconds, self.tmp = wl, seed, seconds, tmp
        self.spans = Spans()
        self.rss = RssSampler()
        self.spark = None
        self.oracle = None
        self.expected = None
        self.pending: list = []
        self.attempted = 0
        self.failed = 0
        self.diag: dict = {"workload": wl.name, "seed": seed, "cores": CORES,
                           "nproc": os.cpu_count()}

    # -- inputs, JVM start and expected outputs (not timed as set-up) -------
    def prepare(self) -> None:
        """Generate the inputs, then start the JVM and register them."""
        from geocoordinateconverter_spark.plans.session import build_session
        data = os.path.join(self.tmp, "data")
        os.makedirs(data)
        with self.spans.span("generate") as s:
            self.paths = self.wl.generate(self.seed, data)
        self.diag["gen_s"] = s["dur_s"]
        with self.spans.span("first_setup") as s:
            with self.spans.span("jvm_start") as j:
                self.spark = build_session(f"perfbench-{self.wl.name}",
                                           cores=CORES, shuffle_partitions=CORES)
            self.wl.register(self.spark, self.paths)
        self.jvm_start_s = self.diag["jvm_start_s"] = j["dur_s"]
        self.diag["first_setup_s"] = s["dur_s"]

    def start_oracle(self) -> None:
        self.oracle_t0 = time.perf_counter()
        # DuckDB's memory is not the engine's: the oracle is not sampled
        self.oracle = self.rss.spawn(
            [sys.executable, os.path.join(HERE, "oracle.py"), self.wl.name, self.tmp])

    def await_oracle(self) -> None:
        """Wait for the expected fingerprints, then check the outputs the
        iterations so far left pending."""
        import numpy as np
        rc = self.oracle.wait()
        self.oracle = None
        if rc != 0:
            raise RuntimeError(f"oracle.py exited with {rc}")
        self.diag["oracle_s"] = time.perf_counter() - self.oracle_t0
        with open(os.path.join(self.tmp, "expected.json")) as f:
            self.expected = json.load(f)
        self.diag["expected"] = self.expected
        if self.wl.kernels:
            self.kernel_points = dict(np.load(os.path.join(self.tmp, "kernel_points.npz")))
        for label, action, got in self.pending:
            self.check(label, action, got)
        self.pending = []

    def check(self, label: str, action, got) -> None:
        if self.expected is None:
            self.pending.append((label, action, got))
        elif not fp.matches(action.spec, got, self.expected[action.name]):
            self.failed += 1
            self.diag.setdefault("mismatch", []).append(
                {"label": label, "action": action.name, "got": got})

    # -- set-up ---------------------------------------------------------------
    def setup(self) -> None:
        """``SETUPS`` set-ups in the running JVM: stop the session, build
        it again, register the inputs."""
        from geocoordinateconverter_spark.plans.session import build_session
        self.rss.start()
        setups, builds = [], []
        for i in range(SETUPS):
            self.spark.stop()
            with self.spans.span("setup", i=i) as s:
                with self.spans.span("build_session") as b:
                    self.spark = build_session(f"perfbench-{self.wl.name}",
                                               cores=CORES, shuffle_partitions=CORES)
                with self.spans.span("register"):
                    self.wl.register(self.spark, self.paths)
            setups.append(s["dur_s"])
            builds.append(b["dur_s"])
        self.diag["setup_runs_s"] = setups
        self.setup_s = statistics.median(setups)
        self.build_s = statistics.median(builds)

    # -- iterations -----------------------------------------------------------
    def iteration(self, label: str, group: str | None = None,
                  measured: bool = False) -> float:
        """One iteration: every action to the noop sink, fingerprint
        checked.  Returns its timed wall seconds (plan build + action)."""
        from pyspark.sql import Observation

        spark = self.spark
        spark.catalog.clearCache()
        if group is not None:
            spark.sparkContext.setJobGroup(group, group)
        elapsed = 0.0
        with self.spans.span("iteration", label=label):
            for a in self.wl.actions:
                self.attempted += 1
                cache: list = []
                try:
                    obs = Observation(a.name)
                    with self.spans.span(a.name) as s:
                        df = a.build(spark, cache)
                        (df.observe(obs, *fp.spark_aggs(a.spec))
                           .write.format("noop").mode("overwrite").save())
                    elapsed += s["dur_s"]
                    if measured:
                        self.diag.setdefault("action_s", {}).setdefault(
                            a.name, []).append(s["dur_s"])
                    self.check(label, a, fp.from_spark_row(a.spec, obs.get))
                except Exception as e:  # counted and reported; the run goes on
                    self.failed += 1
                    traceback.print_exc()
                    self.diag.setdefault("errors", []).append(
                        f"{label}/{a.name}: {type(e).__name__}: {str(e)[:300]}")
                finally:
                    for c in cache:
                        c.unpersist(blocking=True)
        if group is not None:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return elapsed

    def timed_iterations(self, prefix: str, groups: bool = False) -> list[float]:
        times: list[float] = []
        steal0, total0 = cpu_ticks()
        t_end = time.perf_counter() + self.seconds
        while time.perf_counter() < t_end or len(times) < MIN_ITERS:
            label = f"{prefix}{len(times)}"
            times.append(self.iteration(label, group=label if groups else None,
                                        measured=True))
        steal1, total1 = cpu_ticks()
        self.diag["iter_s"] = times
        self.diag["steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
        return times

    def warm_up(self) -> float:
        cold = self.iteration("cold")
        self.start_oracle()
        self.diag["warmup_s"] = [self.iteration(f"warmup{i}") for i in range(WARMUP)]
        self.await_oracle()
        return cold

    # -- end-to-end run -------------------------------------------------------
    def end_to_end(self) -> dict:
        cold = self.warm_up()
        times = self.timed_iterations("iter")
        self.rss.stop()
        self.diag["peak_rss_mb"] = {k: v / 2 ** 20 for k, v in self.rss.peak.items()}
        return {
            "setup_s": (self.setup_s, "s"),
            "cold_iter_s": (cold, "s"),
            "rows_per_s": (self.wl.rows() / statistics.median(times), "rows/s"),
            "python_peak_rss_mb": (self.rss.peak["python"] / 2 ** 20, "MB"),
        }

    # -- traced run -----------------------------------------------------------
    def traced(self) -> dict:
        self.warm_up()
        times = self.timed_iterations("traced", groups=True)
        self.rss.stop()
        counts = [job_counts(self.spark, f"traced{i}") for i in range(len(times))]
        m = {"plans.session.build_s": self.build_s,
             "plans.session.jvm_start_s": self.jvm_start_s,
             "trace.rows_per_s": self.wl.rows() / statistics.median(times)}
        for k in ("jobs", "stages", "tasks"):
            m[f"spark.{k}"] = statistics.median([c[k] for c in counts])
        m.update(layers.prefix_times(self))
        m.update(layers.node_metrics(self))
        m.update(layers.kernel_rates(self))
        return layers.complete(m)

    def close(self) -> None:
        if self.oracle is not None:
            self.oracle.kill()
            self.oracle.wait()
        if self.spark is not None:
            from pyspark import SparkContext
            self.spark.stop()
            gw = SparkContext._gateway
            if gw is not None:
                proc = getattr(gw, "proc", None)
                gw.shutdown()
                if proc is not None:
                    try:
                        proc.stdin.close()
                        proc.wait(timeout=30)
                    except (OSError, subprocess.TimeoutExpired):
                        proc.kill()
                        proc.wait()
                SparkContext._gateway = None
                SparkContext._jvm = None
        self.rss.stop()


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    sys.path.insert(0, ROOT)
    if os.environ.get("PYTHONHASHSEED") != "0":
        # PYTHONHASHSEED only takes effect at interpreter start
        os.execve(sys.executable, [sys.executable, os.path.abspath(__file__)]
                  + sys.argv[1:], dict(os.environ, PYTHONHASHSEED="0"))
    try:
        from workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    scratch = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch)
    os.environ.update(fixed_env(tmp))
    tempfile.tempdir = None  # re-read TMPDIR
    bench = Bench(WORKLOADS[args.workload], args.seed, args.seconds, tmp)
    try:
        bench.prepare()
        bench.setup()
        metrics = bench.traced() if args.trace else bench.end_to_end()
    finally:
        try:
            bench.close()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                os.rmdir(scratch)
            except OSError:
                pass
    if args.trace:
        bench.spans.write(os.path.join(ROOT, ".perfbench_out",
                                       f"spans-{args.workload}-{args.seed}.json"))
    print(json.dumps(bench.diag, default=str))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
