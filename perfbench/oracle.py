"""Expected output fingerprints from the repo's DuckDB twins.

    python3 perfbench/oracle.py WORKLOAD RUN_DIR

Runs in its own process so that DuckDB's memory never counts towards the
benchmark's peak RSS, and so that it overlaps the warm-up iterations.  Reads
the parquet files the workload generated in ``RUN_DIR/data``; writes
``{action: fingerprint}`` to ``RUN_DIR/expected.json`` and, for a
workload with a datum-kernel layer, the kernel's input points to
``RUN_DIR/kernel_points.npz``.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

THREADS = 4


def expected(wl, paths: dict, tmp: str) -> dict:
    """Fingerprint of every action's twin; the input points of kernel
    ``i`` go to ``tmp/kernel_points.npz`` as ``i_x``, ``i_y``, ``i_h``."""
    import duckdb

    import fingerprint as fp
    con = duckdb.connect()
    con.execute(f"SET threads={THREADS}")
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{os.path.join(tmp, 'duckdb')}'")
    for t, p in paths.items():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    out = {a.name: fp.from_columns(a.spec, con.execute(a.oracle).fetchnumpy())
           for a in wl.actions}
    if wl.kernels:
        import numpy as np
        cols = {}
        for i, (_, _, sql) in enumerate(wl.kernels):
            pts = con.execute(sql).fetchnumpy()
            cols.update({f"{i}_{c}": pts[c] for c in ("x", "y", "h")})
        np.savez(os.path.join(tmp, "kernel_points.npz"), **cols)
    con.close()
    return out


def main(argv: list[str]) -> int:
    from workloads import WORKLOADS
    name, run_dir = argv
    wl = WORKLOADS[name]
    paths = {t: os.path.join(run_dir, "data", f"{t}.parquet") for t in wl.tables}
    res = expected(wl, paths, run_dir)
    with open(os.path.join(run_dir, "expected.json"), "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
