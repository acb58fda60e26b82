"""The Arrow list <-> numpy matrix pair every vector kernel crosses the
Python boundary through (``operators/arrowvec.py``)."""

import numpy as np
import pyarrow as pa

from zeek_duckdb_spark.operators.arrowvec import from_matrix, from_vector, to_matrix


def test_all_valid_rows_view_the_values_buffer():
    flat = np.arange(12, dtype=np.float64)
    arr = pa.ListArray.from_arrays(pa.array([0, 3, 6, 9, 12], pa.int32()), pa.array(flat))
    X, ok = to_matrix(arr)
    assert X.shape == (4, 3) and ok.all()
    assert np.shares_memory(X, arr.values.to_numpy())
    np.testing.assert_array_equal(X, flat.reshape(4, 3))


def test_a_sliced_array_reads_only_its_rows():
    arr = pa.array([[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]]).slice(1, 2)
    X, ok = to_matrix(arr)
    np.testing.assert_array_equal(X, [[3.0, 4.0], [5.0, 6.0]])
    assert ok.all()


def test_null_and_ragged_rows_read_as_zero_and_invalid():
    arr = pa.array([[1, 2, 3], None, [4, 5], [6, 7, 8], []], pa.list_(pa.int32()))
    X, ok = to_matrix(arr, np.int64)
    assert X.dtype == np.int64
    np.testing.assert_array_equal(ok, [True, False, False, True, False])
    np.testing.assert_array_equal(X, [[1, 2, 3], [0, 0, 0], [0, 0, 0], [6, 7, 8], [0, 0, 0]])
    # an explicit dim overrides the first row's length
    X2, ok2 = to_matrix(arr, np.int64, dim=2)
    np.testing.assert_array_equal(ok2, [False, False, True, False, False])
    np.testing.assert_array_equal(X2[2], [4, 5])


def test_a_null_element_reads_as_nan():
    X, ok = to_matrix(pa.array([[1.0, None], [2.0, 3.0]], pa.list_(pa.float32())))
    assert ok.all() and np.isnan(X[0, 1]) and X[1, 1] == 3.0


def test_a_null_element_makes_an_integer_row_invalid():
    """An int matrix has no NaN: the row is invalid and reads as zeros,
    not as NaN cast to INT64_MIN."""
    for typ in (pa.int64(), pa.float64()):
        arr = pa.array([[1, 2], [3, None], None, [5, 6]], pa.list_(typ))
        X, ok = to_matrix(arr, np.int64)
        np.testing.assert_array_equal(ok, [True, False, False, True])
        np.testing.assert_array_equal(X, [[1, 2], [0, 0], [0, 0], [5, 6]])


def test_an_empty_or_all_null_batch():
    X, ok = to_matrix(pa.array([], pa.list_(pa.float64())))
    assert X.shape == (0, 0) and len(ok) == 0
    X, ok = to_matrix(pa.array([None, None], pa.list_(pa.float64())), dim=4)
    assert X.shape == (2, 4) and not ok.any()


def test_from_matrix_round_trips_and_masks_rows():
    X = np.arange(6, dtype=np.int64).reshape(3, 2)
    arr = from_matrix(X, np.array([True, False, True]))
    assert arr.type == pa.list_(pa.int64())
    assert arr.to_pylist() == [[0, 1], None, [4, 5]]
    assert from_matrix(np.zeros((0, 4))).to_pylist() == []


def test_nan_outputs_are_null_as_pandas_made_them():
    v = np.array([0.5, np.nan, 2.0])
    assert from_vector(v).to_pylist() == [0.5, None, 2.0]
    assert from_vector(v, np.array([False, True, True])).to_pylist() == [None, None, 2.0]
    assert from_matrix(v.reshape(1, 3)).to_pylist() == [[0.5, None, 2.0]]
    assert from_vector(np.array([1, 2])).to_pylist() == [1, 2]
