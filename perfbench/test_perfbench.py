"""Tests of the benchmark itself:

    python3 -m pytest perfbench/test_perfbench.py -q

The workload tests run the CLI once per workload (about a minute each)
and check that the run verified its outputs and left the engine memos
a benchmark must never bill (``_PLAN_CACHE``, ``_STREAM_RESULT_MEMO``,
``_Q116_DRAINED``, ``_TRAIN_MEMO``) empty.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time

import pytest

from perfbench.run import END_TO_END, PER_LAYER, union_ms
from perfbench.tracing import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_self_times_partition_the_root_span():
    tr = Tracer()
    tr.enabled, tr.trace_id = True, "p1"
    with tr.span("bench.pass"):
        time.sleep(0.02)
        with tr.span("queries.build"):
            time.sleep(0.01)
            with tr.span("functions.rewrite"):
                time.sleep(0.01)
    root = tr.durations("bench.pass")[0]
    st = tr.self_times({"p1"})
    assert sum(st.values()) == pytest.approx(root)
    assert st["queries.build"] == pytest.approx(
        tr.durations("queries.build")[0] - tr.durations("functions.rewrite")[0]
    )
    assert tr.self_times({"p2"}) == {}


def test_foreign_thread_spans_hang_under_the_adopting_span():
    tr = Tracer()
    tr.enabled, tr.trace_id = True, "p1"

    def sink():
        with tr.span("plans.append"):
            time.sleep(0.02)

    with tr.span("bench.pass"):
        with tr.span("streaming.drain", adopt=True):
            with tr.span("streaming.start"):
                t = threading.Thread(target=sink)
                t.start()
            t.join()
    names = [r[0] for r in tr.spans]
    append = tr.spans[names.index("plans.append")]
    assert tr.spans[append[3]][0] == "streaming.drain"
    assert tr.clamped({"p1"}) == 0


def test_child_outlasting_its_parent_is_clamped_and_counted():
    tr = Tracer()
    # (name, start, end, parent, trace id): a sink span on another thread
    # hung under a start call that returned before the sink finished
    tr.spans = [
        ["bench.pass", 0.0, 1.0, None, "p1"],
        ["streaming.start", 0.1, 0.2, 0, "p1"],
        ["plans.append", 0.15, 0.4, 1, "p1"],
    ]
    st = tr.self_times({"p1"})
    assert st["streaming.start"] == 0.0
    assert st["plans.append"] == pytest.approx(0.25)
    assert tr.clamped({"p1"}) == 1


def test_disabled_tracer_records_nothing():
    tr = Tracer()
    with tr.span("x"):
        pass
    assert tr.spans == []


def test_union_of_job_intervals():
    assert union_ms([(0, 10), (5, 15), (20, 25)]) == 20
    assert union_ms([]) == 0


@pytest.mark.parametrize("workload", ["dashboard", "ingest", "batch_20x"])
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_run_is_correct_and_bills_no_memo(workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stdout[-3000:] + out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == set(PER_LAYER if trace else END_TO_END)
    memos = {ln.split()[0]: float(ln.split()[1]) for ln in lines if ln.strip().startswith("memo.")}
    assert len(memos) == 4 and not any(memos.values()), memos
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
