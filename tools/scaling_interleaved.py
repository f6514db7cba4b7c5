"""Interleaved N vs 4N scaling measurement — robust to host drift.

A sequential protocol that measures each level in its own ~8-minute
window is exposed to host drift: on an oversubscribed host the
available capacity drifts between windows, which moved raw efficiency
between 0.63 and 0.91 across repetitions.  This tool alternates the levels
in ADJACENT windows: each round runs one fresh local[N] JVM (warm-up +
measured run) immediately followed by one fresh local[4N] JVM, and the
efficiency is computed per round from the paired times.  The median of
per-round efficiencies is the headline number.

Usage: python tools/scaling_interleaved.py [N] [mult] [rounds] [out_name]
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

RUNNER = r"""
import sys, time, json
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
import __spark_entry__ as em
from geocoordinateconverter_spark import kernels
from geocoordinateconverter_spark.operators import pip as pip_op, tiles
from geocoordinateconverter_spark.plans.session import build_session

cores, mult = {cores}, {mult}
spark = build_session("scaling", cores=cores, shuffle_partitions=cores)
sf_dir = {sf_dir!r}
em._register(spark, sf_dir)
import bench
full = bench.flagship(spark, sf_dir, mult)
full.count()  # warm-up
t0 = time.time(); full.count(); wall = time.time() - t0
t0 = time.time(); full.count(); wall = min(wall, time.time() - t0)
print("RESULT " + json.dumps({{"cores": cores, "wall": wall}}))
spark.stop()
"""


def run_level(cores: int, mult: int, retries: int = 1) -> float:
    """One fresh-JVM measurement; a transient subprocess death (JVM
    OOM, py4j hiccup) is retried once with its stderr surfaced instead
    of silently killing the whole multi-round window (r4 lost a round
    that way)."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    code = RUNNER.format(repo=str(REPO), cores=cores, mult=mult,
                         sf_dir=sf_dir)
    last_err = ""
    for attempt in range(retries + 1):
        try:
            out = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                                 capture_output=True, text=True,
                                 timeout=1200)
        except subprocess.TimeoutExpired:
            # a wedged JVM (GC death spiral) is as transient as a crash
            last_err = f"timeout after 1200s (attempt {attempt + 1})"
            out = None
        if out is not None and out.returncode == 0:
            lines = [ln for ln in out.stdout.splitlines()
                     if ln.startswith("RESULT ")]
            if lines:
                return json.loads(lines[-1][len("RESULT "):])["wall"]
            # exit 0 but stdout swallowed — treat as transient too
            last_err = "rc=0 but no RESULT line in stdout"
            out = None
        if out is not None:
            last_err = out.stderr[-2000:]
        if attempt < retries:
            print(f"# level cores={cores} failed, retrying; cause:\n"
                  f"{last_err}", file=sys.stderr, flush=True)
    raise RuntimeError(
        f"level cores={cores} failed after {retries + 1} attempts:\n"
        f"{last_err}")


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    mult = int(sys.argv[2]) if len(sys.argv) > 2 else 512
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    n4 = 4 * n
    per_round = []
    detail = []
    for r in range(rounds):
        t_lo = run_level(n, mult)
        t_hi = run_level(n4, mult)
        eff = (t_lo / t_hi) / (n4 / n)
        per_round.append(eff)
        detail.append({"round": r, f"local{n}_s": round(t_lo, 2),
                       f"local{n4}_s": round(t_hi, 2),
                       "efficiency": round(eff, 3)})
        print(json.dumps(detail[-1]), flush=True)
    result = {
        "n": n, "n4": n4, "mult": mult,
        "rounds": detail,
        "median_efficiency": round(statistics.median(per_round), 3),
        "max_efficiency": round(max(per_round), 3),
    }
    print(json.dumps(result))
    out = sys.argv[4] if len(sys.argv) > 4 else "scaling_interleaved_r1.json"
    (REPO / "BENCH" / out).write_text(json.dumps(result, indent=2))


if __name__ == "__main__":
    main()
