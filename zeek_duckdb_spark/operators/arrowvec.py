"""The Arrow boundary of the vector operators.

``mapInArrow`` hands a kernel ``pyarrow.RecordBatch``es, and a vector
column arrives as a list array: one flat values buffer plus row
offsets.  :func:`to_matrix` views that buffer as an ``(n, D)`` numpy
matrix and :func:`from_matrix` builds a list array back from one, so
no kernel converts a batch to pandas or walks its rows in Python;
the other columns pass through as the Arrow arrays they arrived as.
"""

import numpy as np
import pyarrow as pa

__all__ = ["to_matrix", "from_vector", "from_matrix"]


def to_matrix(arr: pa.Array, dtype=np.float64, dim: int | None = None):
    """``(X, valid)``: the rows of the list array ``arr`` as an
    ``(n, dim)`` matrix of ``dtype``, and the bool mask of rows that
    are non-NULL and exactly ``dim`` long (``dim`` defaults to the
    length of the first non-NULL row).  Invalid rows read as zeros.

    When every row is valid, ``X`` reshapes the values buffer in
    place; it is copied only to cast to ``dtype``.  NULL or ragged
    rows make a gathered copy.  A NULL element reads as NaN (the value
    pandas' conversion gave it) into a float ``dtype``; an integer
    ``dtype`` has no NaN, so a row holding a NULL element is invalid
    there."""
    offsets = arr.offsets.to_numpy()
    lengths = np.diff(offsets)
    n = len(arr)
    if arr.null_count:
        valid = arr.is_valid().to_numpy(zero_copy_only=False)
    else:
        valid = np.ones(n, dtype=bool)
    if dim is None:
        first = np.flatnonzero(valid)
        dim = int(lengths[first[0]]) if len(first) else 0
    valid &= lengths == dim
    values = arr.values
    if valid.all() and values.null_count == 0:
        flat = values.slice(offsets[0] if n else 0, n * dim).to_numpy()
        return flat.astype(dtype, copy=False).reshape(n, dim), valid
    flat = values.to_numpy(zero_copy_only=False)
    rows = np.flatnonzero(valid)
    gathered = flat[offsets[rows, None] + np.arange(dim)]
    if values.null_count and np.dtype(dtype).kind in "iu":
        whole = ~np.isnan(gathered).any(axis=1)
        valid[rows[~whole]] = False
        rows, gathered = rows[whole], gathered[whole]
    X = np.zeros((n, dim), dtype=dtype)
    X[rows] = gathered
    return X, valid


def from_vector(v, valid=None) -> pa.Array:
    """The array of the 1-D numpy ``v``, NULL where the bool mask
    ``valid`` is False and where a float is NaN: pandas' conversion
    made a NaN output NULL, and the kernels keep that result."""
    nulls = np.isnan(v) if v.dtype.kind == "f" else np.zeros(len(v), bool)
    if valid is not None:
        nulls |= ~valid
    return pa.array(v, mask=nulls)


def from_matrix(X, valid=None) -> pa.ListArray:
    """The list array whose row ``i`` is ``X[i]`` (element type from
    ``X.dtype``; a NaN element is NULL, as in :func:`from_vector`),
    NULL where the bool mask ``valid`` is False: offsets every ``D``
    over the flattened matrix."""
    n, d = X.shape
    offsets = np.arange(n + 1, dtype=np.int32) * d
    return pa.ListArray.from_arrays(
        pa.array(offsets), from_vector(np.ascontiguousarray(X).reshape(-1)),
        mask=None if valid is None else pa.array(~valid),
    )
