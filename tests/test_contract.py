"""Unit tests for the driver-faithful contract canon
(graphblast_spark/contract.py) — each case is one of the four round-4
driver-FAIL mechanisms, pinned at the unit level so the gate itself
cannot silently loosen."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from graphblast_spark.contract import (
    canon_column,
    canon_frame,
    compare,
    dtype_kind,
)


def test_float_canon_keeps_minus_zero_and_trailing_point():
    s = pd.Series([0.0, -0.0, 7.0, float("nan")], dtype="float64")
    strs, bad = canon_column(s)
    assert bad is None
    assert strs == ["0.0", "-0.0", "7.0", "nan"]  # repr, not %.6g


def test_int_vs_float_dtype_kind_mismatch_fails_compare():
    # the HUGEINT mechanism: DuckDB .df() coerces integer sum() to
    # float64; values collide as strings only under a loose canon
    spark_side = pd.DataFrame({"n": pd.Series([7, 8], dtype="int64")})
    oracle_side = pd.DataFrame({"n": pd.Series([7.0, 8.0], dtype="float64")})
    ok, detail = compare(spark_side, oracle_side)
    assert not ok
    assert "dtype" in detail or "hash" in detail


def test_minus_zero_breaks_hash_even_with_equal_multisets():
    a = pd.DataFrame({"x": pd.Series([0.0], dtype="float64")})
    b = pd.DataFrame({"x": pd.Series([-0.0], dtype="float64")})
    assert (a["x"] == b["x"]).all()  # multisets compare equal...
    ok, _ = compare(a, b)
    assert not ok  # ...but the string canon must still reject


def test_list_cell_raises_value_error():
    pdf = pd.DataFrame({"hist": [[1, 2], [3, 4]]})
    with pytest.raises(ValueError, match="non-scalar"):
        canon_frame(pdf)


def test_bytes_and_ndarray_cells_rejected():
    for v in [b"\x00\x01", np.array([1, 2])]:
        with pytest.raises(ValueError, match="non-scalar"):
            canon_frame(pd.DataFrame({"c": [v]}))


def test_datetime_units_are_one_kind_and_values_iso_compare():
    # Spark toPandas → datetime64[ns]; DuckDB .df() → datetime64[us]
    # for the SAME microsecond values — the driver accepts the pairing
    # (r4 q_events_user_stats green), so the kind must not split on
    # storage unit while the ISO value canon stays full-precision.
    s_us = pd.Series(pd.to_datetime(["2024-01-01 01:02:03.000004"]),
                     dtype="datetime64[us]")
    s_ns = pd.Series(pd.to_datetime(["2024-01-01 01:02:03.000004"]),
                     dtype="datetime64[ns]")
    assert dtype_kind(s_us) == dtype_kind(s_ns) == "datetime"
    a, _ = canon_column(s_us)
    b, _ = canon_column(s_ns)
    assert a == b
    ok, detail = compare(pd.DataFrame({"t": s_ns}), pd.DataFrame({"t": s_us}))
    assert ok, detail


def test_compare_equal_frames_row_order_insensitive():
    a = pd.DataFrame({"id": [1, 2, 3], "v": [1.5, 2.5, 3.5]})
    b = pd.DataFrame({"id": [3, 1, 2], "v": [3.5, 1.5, 2.5]})
    ok, detail = compare(a, b)
    assert ok, detail


def test_compare_column_order_insensitive_but_names_strict():
    a = pd.DataFrame({"id": [1], "v": [2.0]})
    b = pd.DataFrame({"v": [2.0], "id": [1]})
    ok, _ = compare(a, b)
    assert ok
    c = pd.DataFrame({"id": [1], "val": [2.0]})
    ok, detail = compare(a, c)
    assert not ok and "schema" in detail


def test_compare_reports_first_diff():
    a = pd.DataFrame({"x": pd.Series([1.0, 2.0], dtype="float64")})
    b = pd.DataFrame({"x": pd.Series([1.0, 2.25], dtype="float64")})
    ok, detail = compare(a, b)
    assert not ok and "first-diff" in detail


def test_null_handling_consistent_across_kinds():
    ts = pd.Series([pd.NaT], dtype="datetime64[us]")
    strs, bad = canon_column(ts)
    assert bad is None and strs == ["∅"]
    obj = pd.Series([None, "a"], dtype="object")
    strs, bad = canon_column(obj)
    assert bad is None and strs == ["∅", "a"]


def test_nullable_int_null_canons_to_empty_set_marker():
    s = pd.Series([7, pd.NA, -1], dtype="Int64")
    assert dtype_kind(s) == "int"
    strs, bad = canon_column(s)
    assert bad is None and strs == ["7", "∅", "-1"]
