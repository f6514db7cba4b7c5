"""Arrow-UDF wrappers around the NumPy numeric core.

The reference runs one C function per input line (gk-slo.c main loop —
SURVEY.md §4.1); the Spark rebuild runs the SAME math whole-column over
Arrow record batches (SURVEY.md §4.4): JVM → Arrow → NumPy float64
kernel → Arrow → JVM, with **one Arrow crossing per composite chain**
(a fused t=3 UDF, not five stage UDFs) and **zero per-row Python**
(input_hint hard ban; audit with ``explain()`` — only ArrowEvalPython
may appear, never BatchEvalPython).

Each UDF factory here is a thin wrapper over exactly one NumPy kernel:
:func:`transform_udf` over the chain table (its -ht/-hc/-hg selector
picks the output height inside the same call), :func:`geoid_udf` over
``geoid.geoid_height`` and :func:`aft_locate_udf` over the triangle
table's ``locate``.  :data:`GEOGRAPHIC_IN` / :data:`GEOGRAPHIC_OUT`
are the one record of which chains read / write (fi, la, h).

The UDFs are ``arrow_udf``s, not pandas UDFs, so a Python worker that
runs them never imports pandas: they read and build their columns
through the helpers in :mod:`.arrowbuf` (``f64`` reads an Arrow column
as a float64 NumPy view of its data buffer, ``to_arrow`` wraps a NumPy
result back into an Arrow column), which the corpus kernels share.
Every kernel is row-wise, so ``arrowbuf.blocked`` runs it over
``arrowbuf.BLOCK_ROWS``-row slices into preallocated outputs: a
kernel's temporaries are bounded by the block, not by the Arrow batch,
and the result is bit-identical to one pass.

Cell encoding deliberately does NOT live here: it is pure arithmetic,
so :func:`cell_col` builds it from Catalyst built-ins and it stays
inside whole-stage codegen (see cells.py rationale).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from . import aft as _aft
from . import cells as _cells
from . import geodesy as _g
from . import geoid as _geoid
from .arrowbuf import blocked, f64, to_arrow

_CHAINS = {
    1: _g.tm_to_wgs84,
    2: _g.wgs84_to_tm,
    3: _g.gk_to_wgs84,
    4: _g.wgs84_to_gk,
    5: _g.gk_to_tm,
    6: _g.tm_to_gk,
    7: _aft.gk_to_wgs84_aft,
    8: _aft.wgs84_to_gk_aft,
    9: _aft.gk_to_tm_aft,
    10: _aft.tm_to_gk_aft,
}

# Chains ending / starting geographic: they produce / consume
# (fi, la, h), the rest (x, y, h) — mirroring GEOGRA/GEOUTM (common.h
# struct decls, SURVEY.md §2.1).
GEOGRAPHIC_OUT = frozenset({1, 3, 7})
GEOGRAPHIC_IN = frozenset({2, 4, 8})

# SURVEY.md §3.4 A6: per-chain default height mode (-ht transformed /
# -hc copied / -hg geoid-derived).  [UNVERIFIED against the README's
# exact defaults table — /root/reference is an empty mount (SURVEY §0);
# values mirror the public usage docs and each chain's semantics:
# same-datum projections carry the geoid-corrected height, Helmert
# chains the transformed height, AFT chains copy.]  The table is the
# single source of truth for api.convert's defaults.
HEIGHT_MODE_DEFAULTS = {1: "hg", 2: "hg", 3: "ht", 4: "ht", 5: "ht",
                        6: "ht", 7: "hc", 8: "hc", 9: "hc", 10: "hc"}


def transform_udf(t: int, height_mode: str = "ht",
                  geoid_model: str = "slo"):
    """Arrow UDF for composite chain ``t`` (1..10, SURVEY.md §3.3)
    with the gk-slo -ht/-hc/-hg height selector.

    Signature: (c1, c2, c3) → struct<c1:double, c2:double, c3:double>
    where the c-triple is (x, y, H) or (fi, la, h) per the chain's
    GEOUTM/GEOGRA direction.  Height modes:

    * ``ht`` — the chain's transformed height (Helmert path carries it
      through ECEF; projection-only chains pass it unchanged).
    * ``hc`` — copy the input height verbatim.
    * ``hg`` — geoid-derived: chains ENDING geographic add N(φ,λ) at
      the output point (physical H → ellipsoidal h); chains STARTING
      geographic subtract N(φ,λ) at the input point (h → H).
      Projected↔projected chains (5/6/9/10) would need the WGS84
      intermediate — not exposed here; selecting hg for them raises
      (their reference defaults are ht/hc anyway).

    The whole chain, geoid lookup included, is one NumPy pipeline →
    one Arrow crossing."""
    if height_mode not in ("ht", "hc", "hg"):
        raise ValueError(f"height_mode {height_mode!r}")
    if height_mode == "hg" and t not in GEOGRAPHIC_OUT | GEOGRAPHIC_IN:
        raise ValueError(
            f"height_mode='hg' needs a geographic endpoint; chain t={t} "
            f"is projected↔projected (default: {HEIGHT_MODE_DEFAULTS[t]!r})")
    fn = _CHAINS[t]
    names = ("fi", "la", "h") if t in GEOGRAPHIC_OUT else ("x", "y", "h")
    schema = ", ".join(f"{n} double" for n in names)

    def kernel(a1, a2, a3):
        o1, o2, o3 = fn(a1, a2, a3)
        if height_mode == "hc":
            h = a3
        elif height_mode == "ht":
            h = o3
        elif t in GEOGRAPHIC_OUT:
            h = o3 + _geoid.geoid_height(o1, o2, geoid_model)
        else:  # geographic input
            h = o3 - _geoid.geoid_height(a1, a2, geoid_model)
        return o1, o2, h

    @arrow_udf(schema)
    def _udf(c1: pa.Array, c2: pa.Array, c3: pa.Array) -> pa.Array:
        n = len(c1)
        outs = blocked(kernel, [f64(c) for c in (c1, c2, c3)],
                       [np.empty(n) for _ in names])
        return pa.StructArray.from_arrays(
            [to_arrow(o, pa.float64()) for o in outs], names=names)

    _udf.__name__ = f"t{t}_{fn.__name__}_{height_mode}"
    return _udf


def geoid_udf(model: str = "slo"):
    """Bilinear geoid undulation N(φ,λ) (SURVEY.md §3.4 A4/A5)."""

    def kernel(fi, la):
        return (_geoid.geoid_height(fi, la, model),)

    @arrow_udf("double")
    def _udf(fi: pa.Array, la: pa.Array) -> pa.Array:
        (out,) = blocked(kernel, (f64(fi), f64(la)), [np.empty(len(fi))])
        return to_arrow(out, pa.float64())

    return _udf


def aft_locate_udf(direction: str = "gk_tm"):
    """Containing-triangle id (first match in table order; −1 outside)
    — the point-location half of SURVEY.md §3.4 A1/A2."""
    table = _aft.AFT_GK_TM if direction == "gk_tm" else _aft.AFT_TM_GK

    def kernel(x, y):
        return (table.locate(x, y),)

    @arrow_udf("long")
    def _udf(x: pa.Array, y: pa.Array) -> pa.Array:
        (out,) = blocked(kernel, (f64(x), f64(y)),
                         [np.empty(len(x), np.int64)])
        return to_arrow(out, pa.int64())

    return _udf


def cell_col(fi: Column, la: Column, res: int = _cells.DEFAULT_RES) -> Column:
    """Grid-cell id as a pure Catalyst expression (stays in codegen).

    Bit-identical to :func:`cells.encode` and to the DuckDB SQL emitted
    by :func:`cells.encode_sql` — same constants, same operation order.
    """
    n = _cells.n_cells(res)
    ix = F.least(F.lit(n - 1), F.greatest(F.lit(0), F.floor(
        (la - F.lit(_cells.BBOX_LA_MIN)) / F.lit(_cells.LA_SPAN) * F.lit(n)
    ).cast("bigint")))
    iy = F.least(F.lit(n - 1), F.greatest(F.lit(0), F.floor(
        (fi - F.lit(_cells.BBOX_FI_MIN)) / F.lit(_cells.FI_SPAN) * F.lit(n)
    ).cast("bigint")))
    return (F.lit(res).cast("bigint") * F.lit(1 << _cells.RES_SHIFT)
            + ix * F.lit(1 << _cells.IX_SHIFT) + iy)


def parent_cell_col(cell: Column, levels: int = 1) -> Column:
    """Parent cell at (res − levels) — pure arithmetic, stays in codegen;
    the raster↔vector rollup key (SURVEY.md §3.6)."""
    res = F.shiftright(cell, _cells.RES_SHIFT)
    ix = F.shiftright(cell, _cells.IX_SHIFT) % F.lit(1 << (_cells.RES_SHIFT - _cells.IX_SHIFT))
    iy = cell % F.lit(1 << _cells.IX_SHIFT)
    return ((res - F.lit(levels)) * F.lit(1 << _cells.RES_SHIFT)
            + F.shiftright(ix, levels) * F.lit(1 << _cells.IX_SHIFT)
            + F.shiftright(iy, levels))
