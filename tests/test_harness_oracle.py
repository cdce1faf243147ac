"""Regression tests for the local differential harness's canonicalizer.

The harness must mirror the driver's t2 gate *strictly* — in particular it
must preserve per-column dtypes when rendering cells. The q70 incident
(rounds 4–5) proved the old ``df.iterrows()`` rendering upcast int64
columns to float64 whenever any float column was present, so the local
gate printed OK while the driver hash-failed on ``92`` vs ``92.0``.
These tests pin the column-wise behavior so that bug class cannot
silently return.
"""

import pandas as pd
import pytest

from harness.oracle import canonicalize, compare


def test_int64_vs_float64_same_values_fails():
    # Same numeric values, different dtypes, alongside a float column —
    # exactly the q70 signature. Must FAIL compare.
    a = pd.DataFrame({"n": pd.array([92, 7], dtype="int64"),
                      "total": [1.5, 2.5]})
    b = pd.DataFrame({"n": pd.array([92.0, 7.0], dtype="float64"),
                      "total": [1.5, 2.5]})
    res = compare("dtype_split", a, b)
    assert not res.ok, "int64 vs float64 columns of equal values must not hash-match"


def test_int_column_not_upcast_by_float_neighbor():
    df = pd.DataFrame({"n": pd.array([92], dtype="int64"), "x": [0.5]})
    cols, rows = canonicalize(df)
    assert cols == ["n", "x"]
    assert rows == [("92", "0.5")]


def test_identical_frames_match():
    a = pd.DataFrame({"k": [1, 2], "v": ["a", "b"]})
    b = pd.DataFrame({"v": ["b", "a"], "k": [2, 1]})  # column/row order differs
    res = compare("same", a, b)
    assert res.ok


def test_null_and_nan_render_null():
    df = pd.DataFrame({"x": [None, float("nan")]})
    _, rows = canonicalize(df)
    assert rows == [("NULL",), ("NULL",)]


def test_nullable_int_with_missing():
    # pandas nullable Int64 (capital I) — pd.NA must render NULL, ints as ints
    df = pd.DataFrame({"n": pd.array([1, None], dtype="Int64")})
    _, rows = canonicalize(df)
    assert sorted(rows) == [("1",), ("NULL",)]


def test_run_t2_rejects_unknown_names(monkeypatch, capsys):
    """VERDICT r10 #3: a misspelled query name must fail the
    certification command with exit 2 (bench.py's rule) BEFORE any JVM
    spins up — the old intersection filter silently under-covered
    (16 names, 5 misspelled -> a clean-looking '11/11 ok')."""
    from harness import run_t2

    monkeypatch.setattr(
        "sys.argv", ["run_t2", "q14_top_k", "bogus_name", "q99_typo"]
    )
    assert run_t2.main() == 2
    out = capsys.readouterr().out
    assert "unknown query names" in out
    assert "bogus_name" in out and "q99_typo" in out
    assert "q14_top_k" not in out.split("unknown query names:")[1]
