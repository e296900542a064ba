"""The one Arrow boundary of the pipeline kernels: list columns to and
from numpy through the flat buffers, never a per-row Python loop.

A ``ListArray`` is a ``values`` buffer plus ``n + 1`` offsets. The
offsets are absolute positions in ``values``, which a sliced array shares
with its parent, so every read here indexes through them.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def _array(arr):
    return arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr


def ragged(arr) -> tuple[np.ndarray, np.ndarray]:
    """(flat values, per-row lengths) of a list array; a NULL row has
    length 0 and contributes no values."""
    arr = _array(arr)
    lens = np.diff(arr.offsets.to_numpy())
    if arr.null_count:
        lens[~arr.is_valid().to_numpy(zero_copy_only=False)] = 0
    return arr.flatten().to_numpy(zero_copy_only=False), lens


def list_matrix(arr, dims: int | None = None, dtype=np.float64) -> np.ndarray:
    """(n, dims) matrix of a list array's rows; NULL rows are zeros.

    ``dims=None`` takes the common row length and raises on ragged rows,
    as ``np.vstack`` does. A given ``dims`` takes each row's first
    ``dims`` values and raises on a shorter row."""
    arr = _array(arr)
    offs = arr.offsets.to_numpy()
    base, starts, lens = offs[0], offs[:-1] - offs[0], np.diff(offs)
    valid = arr.is_valid().to_numpy(zero_copy_only=False) if arr.null_count else None
    live = lens if valid is None else lens[valid]
    if dims is None:
        dims = int(live[0]) if len(live) else 0
        if (live != dims).any():
            raise ValueError(f"ragged list rows: lengths {sorted(set(live.tolist()))}")
    elif (live < dims).any():
        raise ValueError(f"list row shorter than dims={dims}")
    values = arr.values.slice(base, offs[-1] - base).to_numpy(zero_copy_only=False)
    if valid is None and (lens == dims).all():
        return values.reshape(len(arr), dims).astype(dtype, copy=False)
    out = np.zeros((len(arr), dims), dtype=dtype)
    rows = np.arange(len(arr)) if valid is None else np.flatnonzero(valid)
    out[rows] = values[starts[rows, None] + np.arange(dims)]
    return out


def matrix_list(m: np.ndarray, null_rows: np.ndarray | None = None) -> pa.ListArray:
    """The inverse of ``list_matrix``: one list per row of ``m``. A row
    flagged in ``null_rows`` becomes a list of NULL elements."""
    n, k = m.shape
    mask = None if null_rows is None else np.repeat(null_rows, k)
    offsets = pa.array(np.arange(n + 1, dtype=np.int32) * k)
    return pa.ListArray.from_arrays(offsets, pa.array(m.ravel(), mask=mask))
