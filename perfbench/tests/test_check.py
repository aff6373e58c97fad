"""The output check's comparison rule.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402


def test_row_and_column_order_do_not_matter():
    a = pd.DataFrame({"k": [2, 1], "v": [0.5, 1.5]})
    b = pd.DataFrame({"v": [1.5, 0.5], "k": [1, 2]})
    assert check.mismatch(a, b) is None


def test_floats_compare_exactly_and_by_zero_sign():
    a = pd.DataFrame({"v": [0.1 + 0.2]})
    assert check.mismatch(a, pd.DataFrame({"v": [0.3]})) is not None
    assert check.mismatch(pd.DataFrame({"v": [-0.0]}), pd.DataFrame({"v": [0.0]})) is not None


def test_nulls_match_only_nulls():
    assert check.mismatch(pd.DataFrame({"v": [None]}), pd.DataFrame({"v": [float("nan")]})) is None
    assert check.mismatch(pd.DataFrame({"v": [None]}), pd.DataFrame({"v": [0.0]})) is not None


def test_column_names_and_row_counts_must_match():
    a = pd.DataFrame({"k": [1, 2]})
    assert check.mismatch(a, pd.DataFrame({"x": [1, 2]})).startswith("columns")
    assert check.mismatch(a, pd.DataFrame({"k": [1]})).startswith("rows")
