"""The star-query check compares frames the way the parity tests do."""

from __future__ import annotations

import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import oracle  # noqa: E402


def test_compare_frames_ignores_row_and_column_order():
    got = pd.DataFrame({"b": [2.0, 1.0], "a": ["y", "x"]})
    want = pd.DataFrame({"a": ["x", "y"], "b": [1.0, 2.0]})
    assert oracle.compare_frames(got, want) is None


def test_compare_frames_reports_a_differing_row():
    got = pd.DataFrame({"a": ["x", "y"], "b": [1.0, 2.5]})
    want = pd.DataFrame({"a": ["x", "y"], "b": [1.0, 2.0]})
    assert "rows differ" in oracle.compare_frames(got, want)


def test_compare_frames_tells_int_from_float():
    # the parity tests' canonical form tags int and float cells apart
    got = pd.DataFrame({"n": [1, 2]})
    want = pd.DataFrame({"n": [1.0, 2.0]})
    assert oracle.compare_frames(got, want) is not None


def test_compare_frames_checks_columns_and_row_count_first():
    got = pd.DataFrame({"a": [1]})
    assert "columns" in oracle.compare_frames(got, pd.DataFrame({"b": [1]}))
    assert "rows" in oracle.compare_frames(got, pd.DataFrame({"a": [1, 2]}))
