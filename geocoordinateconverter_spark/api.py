"""User-facing API mirroring the gk-slo CLI option surface, so a user
of the reference can switch with a 1:1 mental model (SURVEY.md §3.3,
§3.4, §3.7 — the option combinations the GUI exposes):

=============  =========================================
gk-slo option  here
=============  =========================================
``-t 1..10``   ``convert(df, t=...)``
``-ht/hc/hg``  ``height_mode='ht'|'hc'|'hg'`` (defaults per chain:
               :data:`..kernels.HEIGHT_MODE_DEFAULTS`)
``-g slo|egm`` ``geoid_model=...``
``-r``         ``reverse=True`` (swap the two coordinate columns)
``-dms``       ``dms_output=True`` (adds formatted D/M/S columns for
               geographic outputs)
``-x``         :func:`self_test` — golden-vector self-check, returns a
               DataFrame instead of printed lines
=============  =========================================

File/stdin handling (``<inpname>``, ``-o``) maps to ``spark.read`` /
``df.write`` and is intentionally not wrapped.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import goldens, kernels
from .kernels import GEOGRAPHIC_IN, GEOGRAPHIC_OUT


def _dms_col(deg_col) -> F.Column:
    """decimal degrees → '[-]DdMmS.Ss' (util.c F2 arithmetic, codegen).
    Sign is factored out FIRST and the D/M/S integer math runs on the
    magnitude — floor toward −inf plus sign-preserving % would
    otherwise emit garbage like '-1d-30m-0.0s' for southern/western
    coordinates (r4 review finding)."""
    tot = F.floor(F.abs(deg_col) * F.lit(36000.0)).cast("bigint")
    return F.concat(
        F.when(deg_col < 0, F.lit("-")).otherwise(F.lit("")),
        F.floor(tot / F.lit(36000.0)).cast("bigint").cast("string"), F.lit("d"),
        F.floor((tot % 36000) / F.lit(600.0)).cast("bigint").cast("string"),
        F.lit("m"),
        F.format_string("%.1f", (tot % 600).cast("double") / F.lit(10.0)),
        F.lit("s"))


def convert(df: DataFrame, t: int, height_mode: str | None = None,
            geoid_model: str = "slo", reverse: bool = False,
            dms_output: bool = False,
            cols: tuple[str, str, str] | None = None) -> DataFrame:
    """Run chain ``t`` over ``df`` with the gk-slo option semantics.

    Input columns default to ``(fi, la, h)`` for geographic-input
    chains and ``(x, y, h)`` otherwise; pass ``cols`` to override.
    All other columns ride along untouched (the reference's label /
    DBF-attribute passthrough).  Output columns are suffixed ``_out``.

    ``reverse=True`` (gk-slo ``-r``) means the SOURCE arrives with its
    two coordinates swapped on disk; pass ``cols`` in the ON-DISK
    column order and convert() un-swaps them before the kernel, e.g. a
    feed whose pairs are (lon, lat)::

        convert(df, t=2, reverse=True, cols=("lon", "lat", "h"))

    With default ``cols`` the same rule applies positionally: the
    first-named column holds the second coordinate's values.
    """
    in_names = (("fi", "la", "h") if t in GEOGRAPHIC_IN else ("x", "y", "h"))
    c1n, c2n, c3n = cols or in_names
    c1, c2 = (F.col(c2n), F.col(c1n)) if reverse else (F.col(c1n), F.col(c2n))
    udf = kernels.transform_udf(
        t, height_mode or kernels.HEIGHT_MODE_DEFAULTS[t], geoid_model)
    out_names = (("fi", "la", "h") if t in GEOGRAPHIC_OUT else ("x", "y", "h"))
    res = df.withColumn("_o", udf(c1, c2, F.col(c3n)))
    keep = [F.col(c) for c in df.columns] + [
        F.col(f"_o.{n}").alias(f"{n}_out") for n in out_names]
    res = res.select(*keep)
    if dms_output and t in GEOGRAPHIC_OUT:
        res = (res.withColumn("fi_dms", _dms_col(F.col("fi_out")))
               .withColumn("la_dms", _dms_col(F.col("la_out"))))
    return res


def self_test(spark: SparkSession) -> DataFrame:
    """``gk-slo -x`` analogue: run the compiled-in golden points through
    every frozen chain and emit the (rounded) outputs — one row per
    (chain, point).  The driver oracle carries the expected values, so
    a kernel regression fails the value hash, exactly like the
    reference's printed expected-vs-actual check.

    Rounding: geographic chains 8 dp (≈1 mm), projected 3 dp (mm) —
    the reference's print precisions (SURVEY.md §3.1 S4)."""
    parts = []
    for t in sorted(goldens.EXPECTED):
        exp = goldens.EXPECTED[t]
        inp = goldens.GK_IN if len(exp) == len(goldens.GK_IN) else goldens.WGS_IN
        src = spark.createDataFrame(
            [(i, float(r[0]), float(r[1]), float(r[2]))
             for i, r in enumerate(inp)],
            "idx int, c1 double, c2 double, c3 double")
        udf = kernels.transform_udf(t)
        o = ("fi", "la", "h") if t in GEOGRAPHIC_OUT else ("x", "y", "h")
        nd = 8 if t in GEOGRAPHIC_OUT else 3
        parts.append(
            src.withColumn("_o", udf(F.col("c1"), F.col("c2"), F.col("c3")))
            .select(F.lit(t).alias("t"), "idx",
                    F.round(F.col(f"_o.{o[0]}"), nd).alias("o1"),
                    F.round(F.col(f"_o.{o[1]}"), nd).alias("o2"),
                    F.round(F.col(f"_o.{o[2]}"), nd).alias("o3")))
    return reduce(lambda a, b: a.unionByName(b), parts)


def self_test_oracle_sql() -> str:
    """Expected-side of the ``-x`` check: the frozen goldens as VALUES,
    rounded by the engine's own round() on full-precision literals (so
    both engines apply the same tie rule to the same double)."""
    from .functions.sqlgen import f as _f
    rows = []
    for t in sorted(goldens.EXPECTED):
        nd = 8 if t in GEOGRAPHIC_OUT else 3
        for i, r in enumerate(goldens.EXPECTED[t]):
            rows.append(f"({t}, {i}, round({_f(r[0])}, {nd}), "
                        f"round({_f(r[1])}, {nd}), round({_f(r[2])}, {nd}))")
    return ("SELECT * FROM (VALUES " + ", ".join(rows)
            + ") AS g(t, idx, o1, o2, o3)")
