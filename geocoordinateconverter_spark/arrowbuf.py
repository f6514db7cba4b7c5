"""NumPy views of Arrow columns, and Arrow columns over NumPy arrays.

Every Arrow UDF and ``mapInArrow`` kernel of the engine, geo and
corpus alike, reads its input columns and builds its results through
these helpers, so a Python worker that runs them never imports pandas:
``Array.to_numpy``, ``np.asarray(<Arrow array>)`` and ``pa.array``
each import pandas on pyarrow 16, and no helper here calls them.  The
module imports only NumPy and pyarrow.

* :func:`f64` / :func:`i64` — a primitive column as a NumPy view of its
  data buffer (slice offset respected);
* :func:`list_offsets` / :func:`list_rows` — a list column's offsets,
  and a list column whose rows all have one length as an (n, width)
  matrix;
* :func:`to_arrow` / :func:`list_array` — the way back, through
  ``Array.from_buffers``;
* :func:`blocked` — runs a row-wise kernel over :data:`BLOCK_ROWS`-row
  slices, so its temporaries are bounded by the block, not by the
  Arrow batch.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

# Rows per kernel call inside one Arrow batch: bounds each kernel's
# temporaries (AFT's (n, max_c, 2) vertex gathers, kNN's n × n_st
# distance matrix) independently of
# spark.sql.execution.arrow.maxRecordsPerBatch.
BLOCK_ROWS = 8192


def blocked(kernel, cols, outs):
    """Run the row-wise ``kernel`` over :data:`BLOCK_ROWS`-row slices
    of ``cols``; its i-th result fills ``outs[i][..., rows]`` (outputs
    are (n,) or (k, n)).  Returns ``outs``."""
    n = len(cols[0])
    for s in range(0, n, BLOCK_ROWS):
        e = s + BLOCK_ROWS
        for o, r in zip(outs, kernel(*(c[s:e] for c in cols))):
            o[..., s:e] = r
    return outs


def valid_mask(arr: pa.Array) -> np.ndarray | None:
    """(n,) bool, False at the NULL slots of ``arr``; None when it has
    none."""
    if not arr.null_count:
        return None
    bits = np.unpackbits(np.frombuffer(arr.buffers()[0], np.uint8),
                         count=arr.offset + len(arr), bitorder="little")
    return bits[arr.offset:].view(bool)


def _view(arr: pa.Array, type_: pa.DataType, dtype) -> np.ndarray:
    """Read-only NumPy view of the data buffer of ``arr`` cast to
    ``type_`` (unchecked, as ``to_numpy(dtype=...)`` was)."""
    if arr.type != type_:
        arr = arr.cast(type_, safe=False)
    n = len(arr)
    if n == 0:
        return np.empty(0, dtype)
    size = np.dtype(dtype).itemsize
    return np.frombuffer(arr.buffers()[1], dtype, n, arr.offset * size)


def f64(arr: pa.Array) -> np.ndarray:
    """float64 view of a numeric column; NULL reads as NaN.

    Non-double columns (integer x/y/h, float32 embedding elements) are
    cast first.  The view is read-only."""
    v = _view(arr, pa.float64(), np.float64)
    valid = valid_mask(arr)
    return v if valid is None else np.where(valid, v, np.nan)


def i64(arr: pa.Array) -> np.ndarray:
    """int64 view of an integer column (narrower ones are cast first);
    a NULL raises ``ValueError``, as there is no int64 to read it as."""
    if arr.null_count:
        raise ValueError(f"i64: {arr.null_count} NULL value(s) in an "
                         f"integer column")
    return _view(arr, pa.int64(), np.int64)


def list_offsets(arr: pa.Array) -> np.ndarray:
    """(n + 1,) int64 offsets of a ``list`` / ``large_list`` column into
    its (unsliced) ``values`` child: row i spans
    ``values[off[i]:off[i + 1]]``.  A NULL row normally spans nothing."""
    n = len(arr)
    if n == 0:
        return np.zeros(1, np.int64)
    dtype = np.int64 if pa.types.is_large_list(arr.type) else np.int32
    off = np.frombuffer(arr.buffers()[1], dtype, n + 1,
                        arr.offset * np.dtype(dtype).itemsize)
    return off.astype(np.int64)


def list_rows(arr: pa.Array, width: int, dtype=np.float64) -> np.ndarray:
    """(n, width) matrix of a list column whose rows all hold ``width``
    numbers (an embedding, a quantized vector), read as ``dtype``
    (float64 through :func:`f64`, int64 through :func:`i64`).  A NULL
    row or a row of another length raises ``ValueError``."""
    if arr.null_count:
        raise ValueError(f"list_rows: {arr.null_count} NULL row(s)")
    off = list_offsets(arr)
    if (np.diff(off) != width).any():
        raise ValueError(f"list_rows: a row does not hold {width} values")
    vals = arr.values.slice(off[0], off[-1] - off[0])
    read = i64 if np.dtype(dtype) == np.int64 else f64
    return read(vals).reshape(len(arr), width)


def _bitmap(valid: np.ndarray | None):
    """(validity buffer, null count) of a bool mask; (None, 0) when
    every slot is valid."""
    if valid is None:
        return None, 0
    nulls = len(valid) - int(np.count_nonzero(valid))
    if not nulls:
        return None, 0
    return pa.py_buffer(np.packbits(valid, bitorder="little")), nulls


def to_arrow(v: np.ndarray, type_: pa.DataType,
             valid: np.ndarray | None = None) -> pa.Array:
    """Arrow column over the NumPy array ``v`` (dtype matching
    ``type_``).  ``valid`` marks the non-NULL slots; without it a float
    NaN becomes NULL, as pandas → Arrow made it, and nothing else
    does."""
    v = np.ascontiguousarray(v)
    if valid is None and pa.types.is_floating(type_):
        valid = ~np.isnan(v)
    validity, nulls = _bitmap(valid)
    return pa.Array.from_buffers(type_, len(v), [validity, pa.py_buffer(v)],
                                 nulls)


def list_array(rows: np.ndarray, item_type: pa.DataType) -> pa.Array:
    """``list<item_type>`` column of the (n, width) fixed-width
    ``rows``, one list per row."""
    n, width = rows.shape
    off = np.arange(0, (n + 1) * width, width, dtype=np.int32)
    return pa.Array.from_buffers(
        pa.list_(item_type), n, [None, pa.py_buffer(off)],
        children=[to_arrow(rows.reshape(-1), item_type)])
