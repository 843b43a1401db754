"""The local correctness gate must be at least as strict as the
driver's typed hash: equal values with different surfaced types
(DuckDB HUGEINT→float64 vs Spark int64) must FAIL — that leniency is
exactly what let q_bool_sum_agg / q_trend_7d ship red in round 1."""

import importlib.util
import sys
from pathlib import Path

import pandas as pd

spec = importlib.util.spec_from_file_location(
    "selfcheck", Path(__file__).resolve().parent.parent / "tools" / "selfcheck.py"
)
selfcheck = importlib.util.module_from_spec(spec)
sys.modules["selfcheck"] = selfcheck
spec.loader.exec_module(selfcheck)


def test_int_float_drift_fails():
    sdf = pd.DataFrame({"k": [1, 2], "n": pd.array([5, 7], dtype="int64")})
    odf = pd.DataFrame({"k": [1, 2], "n": [5.0, 7.0]})
    issues = selfcheck.compare("t", sdf, odf)
    assert issues and "TYPE drift" in issues[0]


def test_bool_int_drift_fails():
    sdf = pd.DataFrame({"f": [True, False]})
    odf = pd.DataFrame({"f": [1, 0]})
    assert selfcheck.compare("t", sdf, odf)


def test_equal_typed_values_pass():
    sdf = pd.DataFrame({"k": [1, 2], "x": [0.5, None], "s": ["a", None]})
    odf = pd.DataFrame({"k": [2, 1], "x": [None, 0.5], "s": [None, "a"]})
    assert selfcheck.compare("t", sdf, odf) == []


def test_real_value_mismatch_still_fails():
    sdf = pd.DataFrame({"n": [5, 7]})
    odf = pd.DataFrame({"n": [5, 8]})
    assert selfcheck.compare("t", sdf, odf)


def test_result_hash_ignores_row_and_column_order():
    a = pd.DataFrame({"k": [1, 2], "x": [0.5, None], "s": ["a", None]})
    b = pd.DataFrame({"s": [None, "a"], "x": [None, 0.5], "k": [2, 1]})
    assert selfcheck.result_hash(a) == selfcheck.result_hash(b)


def test_result_hash_tells_int_from_float():
    ints = pd.DataFrame({"n": pd.array([5, 7], dtype="int64")})
    floats = pd.DataFrame({"n": [5.0, 7.0]})
    assert selfcheck.result_hash(ints) != selfcheck.result_hash(floats)
    assert selfcheck.result_hash(ints) != selfcheck.result_hash(
        pd.DataFrame({"n": [5, 8]})
    )
