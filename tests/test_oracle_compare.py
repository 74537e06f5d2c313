"""The one oracle compare (tests/oracle.py): the driver's normalization,
then byte-level float equality."""

from __future__ import annotations

import numpy as np
import pandas as pd

from tests.oracle import compare


def test_compare_ignores_column_and_row_order_and_rounds_to_6_places():
    got = pd.DataFrame({"b": [2.0000001, 1.0], "a": ["y", "x"]})
    exp = pd.DataFrame({"a": ["x", "y"], "b": [1.0, 2.0]})
    assert compare(got, exp) == (True, True, True, "")


def test_compare_floats_by_bytes_with_nan_equal_to_nan():
    v = compare(pd.DataFrame({"x": [np.nan, 1.5]}), pd.DataFrame({"x": [np.nan, 1.5]}))
    assert v.ok
    v = compare(pd.DataFrame({"x": [-0.0]}), pd.DataFrame({"x": [0.0]}))
    assert (v.rows_match, v.schema_match, v.hash_match) == (True, True, False)
    assert "1 rows differ" in v.detail
    # a tiny negative rounds to −0.0, so it differs from a tiny positive
    assert not compare(pd.DataFrame({"x": [-1e-9]}), pd.DataFrame({"x": [1e-9]})).ok


def test_compare_reports_rows_schema_and_dtype_mismatches():
    v = compare(pd.DataFrame({"x": [1, 2]}), pd.DataFrame({"x": [1]}))
    assert (v.rows_match, v.hash_match) == (False, False)
    v = compare(pd.DataFrame({"x": [1]}), pd.DataFrame({"y": [1]}))
    assert (v.rows_match, v.schema_match, v.hash_match) == (True, False, False)
    v = compare(pd.DataFrame({"x": [1]}), pd.DataFrame({"x": [1.0]}))
    assert (v.rows_match, v.schema_match, v.hash_match) == (True, False, True)
    assert "dtypes" in v.detail
