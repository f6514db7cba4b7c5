"""Order-independent output fingerprints, computed the same way on the
Spark result and on the DuckDB twin's result.

A fingerprint is ``(rows, hash_sum, float_sums)``:

* ``hash_sum`` sums a per-row hash over the integer-exact columns.  The
  row hash chains every column through ``h = (h*A + c) mod P`` followed
  by the non-linear ``h = (h*h + B) mod P``, so swapping values between
  rows changes the sum.  Every intermediate stays below 2**62, which
  keeps the Spark side inside ANSI ``bigint`` and the NumPy side exact.
* ``float_sums`` sums columns that are not bit-identical across the two
  engines (rounded averages, cosine scores); they are compared with a
  tolerance.

Column kinds:

* ``("int", name)``      — an integer column, hashed as is;
* ``("fix", name, bits)`` — a double known to be bit-identical in both
  engines, hashed as ``floor(x * 2**bits)`` (exact: scaling by a power
  of two and ``floor`` never round);
* ``("sum", name, tol)``  — a double compared as a column sum, to within
  ``tol`` absolute plus ``1e-9`` relative.
"""

from __future__ import annotations

import math

import numpy as np

P = 2147483647        # 2**31 - 1
A = 1103515245
B = 12345


def _int_cols(spec):
    return [c for c in spec if c[0] in ("int", "fix")]


def spark_aggs(spec):
    """Aggregate columns for ``DataFrame.observe``: n, h, and one
    ``s_<name>`` per float-sum column."""
    from pyspark.sql import functions as F

    h = F.lit(0).cast("long")
    for kind, name, *arg in _int_cols(spec):
        c = F.col(name)
        if kind == "fix":
            c = F.floor(c * F.lit(float(2 ** arg[0])))
        h = F.pmod(h * F.lit(A) + F.pmod(c.cast("long"), F.lit(P)), F.lit(P))
        h = F.pmod(h * h + F.lit(B), F.lit(P))
    aggs = [F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(h), F.lit(0).cast("long")).alias("h")]
    for _, name, _tol in (c for c in spec if c[0] == "sum"):
        aggs.append(F.coalesce(F.sum(F.col(name).cast("double")),
                               F.lit(0.0)).alias(f"s_{name}"))
    return aggs


def from_spark_row(spec, row: dict) -> dict:
    return {"n": int(row["n"]), "h": int(row["h"]),
            "sums": {name: float(row[f"s_{name}"])
                     for _, name, _ in (c for c in spec if c[0] == "sum")}}


def from_columns(spec, cols: dict) -> dict:
    """Fingerprint of a result given as ``{column name: numpy array}``."""
    n = len(next(iter(cols.values()))) if cols else 0
    h = np.zeros(n, np.int64)
    for kind, name, *arg in _int_cols(spec):
        a = np.asarray(cols[name])
        if kind == "fix":
            a = np.floor(a.astype(np.float64) * float(2 ** arg[0]))
        a = a.astype(np.int64)
        h = (h * A + np.mod(a, P)) % P
        h = (h * h + B) % P
    return {"n": int(n), "h": int(h.sum()),
            "sums": {name: float(np.asarray(cols[name], np.float64).sum())
                     for _, name, _ in (c for c in spec if c[0] == "sum")}}


def matches(spec, got: dict, want: dict) -> bool:
    if got["n"] != want["n"] or got["h"] != want["h"]:
        return False
    for _, name, tol in (c for c in spec if c[0] == "sum"):
        g, w = got["sums"][name], want["sums"][name]
        if not math.isclose(g, w, rel_tol=1e-9, abs_tol=tol):
            return False
    return True
