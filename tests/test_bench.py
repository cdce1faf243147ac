"""bench.py's statistics, row classification, output line and name
filter, without a JVM: rows are synthetic and ``get_spark`` is replaced
where a test must not reach it. The warm-up test alone runs Spark."""

from __future__ import annotations

import dataclasses
import json

import pytest

import bench


def _m(cold, warm, iqr=0.0):
    return {"cold": cold, "warm": warm, "iqr": iqr}


def test_quantiles_on_known_inputs():
    xs = [5, 1, 4, 2, 3]
    assert bench.median(xs) == 3
    assert bench.median([1, 2, 3, 4]) == 2.5
    assert bench.iqr(xs) == 2  # q1 = 2, q3 = 4
    assert bench.p90(range(1, 12)) == 10
    assert bench.p90(xs) == pytest.approx(4.6)
    assert bench.median([7.0]) == 7.0 and bench.iqr([7.0]) == 0


def test_sub_floor_row_leaves_both_maps():
    rows = {
        "q01_a": {"spark": _m(2.0, 1.0), "oracle": _m(1.0, 0.5)},
        # oracle cold is over the floor, its warm median is not
        "q02_b": {"spark": _m(3.0, 1.5), "oracle": _m(0.4, 0.1)},
        # a static floor class wins over the measured times
        "q73_stream_rollup": {"spark": _m(4.0, 4.0), "oracle": _m(1.0, 1.0)},
        "q03_c": {"spark": _m(1.0, 0.5)},  # no oracle
    }
    d = bench.summarize(rows)
    assert d["rows"]["q02_b"]["class"] == "sub_floor"
    assert d["rows"]["q73_stream_rollup"]["class"] == "stream_setup"
    assert "class" not in d["rows"]["q01_a"]
    dp = d["ratio_data_proportional"]
    assert dp["cold"] == {"n": 1, "median": 2.0, "p90": 2.0}
    assert dp["warm"] == {"n": 1, "median": 2.0, "p90": 2.0}
    # every ratio is cold/cold or warm/warm, floor rows keep theirs
    assert d["rows"]["q02_b"]["ratio"] == {"cold": 7.5, "warm": 15.0}
    assert "ratio" not in d["rows"]["q03_c"]
    assert d["value"] == 10.0 and d["warm_total"] == 7.0 and d["n_queries"] == 4


def test_compact_line_for_the_full_registry_fits():
    rows = {
        f"q{i}_query_number_{i}": {
            "spark": _m(100 + i / 7, 50 + i / 9, 0.123),
            "oracle": _m(1.234 + i, 0.5 + i / 100, 0.01),
        }
        for i in range(1, 194)
    }
    detail = bench.summarize(rows)
    detail.update(sf=0.1, cpus=4, load1_at_start=0.12, load1_at_end=3.45,
                  contended_at_start=False)
    line = bench.compact_line(detail)
    assert len(line) <= bench.TAIL_WINDOW
    parsed = json.loads(line)
    assert parsed["value"] == detail["value"]
    assert parsed["ratio_data_proportional"]["cold"]["n"] == 193
    assert parsed["detail"] == "bench_detail.json"


def test_names_resolve_and_unknown_exits_before_spark(monkeypatch):
    names = bench.all_queries()
    sel, unknown = bench.resolve(["q19", "q99_dedup_components"], names)
    assert sel == ["q19_multi_join_revenue", "q99_dedup_components"]
    assert unknown == []
    assert bench.resolve([], names) == (sorted(names), [])

    def no_spark(*a, **k):
        raise AssertionError("get_spark called")

    monkeypatch.setattr(bench, "get_spark", no_spark)
    assert bench.main(["q19", "q9999_nope"]) == 2


def test_warmup_runs_no_registered_query(spark, monkeypatch, tmp_path):
    """The JVM warm-up calls no ``QuerySpec.fn``: warming a registered
    plan would leave that query's cold row warm."""
    called = []

    def recording(name):
        def fn(session, sf_dir):
            called.append(name)
            return session.range(1)

        return fn

    specs = {
        n: dataclasses.replace(s, fn=recording(n))
        for n, s in bench.all_queries().items()
    }
    monkeypatch.setattr(bench, "all_queries", lambda: specs)
    monkeypatch.setattr(bench, "get_spark", lambda name: spark)
    monkeypatch.setattr(
        bench, "bench_query", lambda *a: {"spark": _m(1.0, 1.0)}
    )
    monkeypatch.setattr(bench, "_REPO", tmp_path)
    assert bench.main(["q19"]) == 0
    assert called == []
