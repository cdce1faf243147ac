"""Bench-side layer tracing: spans around calls into the engine's public
functions, plus Spark's own counters read over py4j.

Nothing here is active unless a ``Tracer`` is enabled: the timed
(untraced) passes run the engine exactly as shipped. ``LayerPatches``
swaps a layer's public functions for span-recording wrappers for the
duration of one traced pass and restores them afterwards.

Span records are ``(name, start, end, parent, trace_id)`` with
``perf_counter`` times, kept in memory and summarised when the run ends.
A layer's self time is its spans' duration minus the part covered by
child spans (choosing-metrics, "Tracing").
"""

from __future__ import annotations

import functools
import os
import sys
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    """In-memory span recorder. A span opened with ``adopt=True`` on the
    thread that created the tracer is the bench call that waits on work
    done on other threads (the py4j callback thread that runs a streaming
    ``foreachBatch`` sink): spans opened there hang under it, or, when
    no such span is open, under the main thread's innermost open span."""

    def __init__(self) -> None:
        self.enabled = False
        self.trace_id = ""
        self.spans: list[list] = []
        #: (trace_id, counter) -> summed value, for counts read at a span
        self.counts: dict[tuple[str, str], float] = {}
        self._stacks: dict[int, list[int]] = {}
        self._adopters: list[int] = []
        self._main = threading.get_ident()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, adopt: bool = False):
        if not self.enabled:
            yield
            return
        tid = threading.get_ident()
        with self._lock:
            stack = self._stacks.setdefault(tid, [])
            if stack:
                parent = stack[-1]
            elif tid == self._main:
                parent = None
            else:
                parent = (self._adopters or self._stacks.get(self._main) or [None])[-1]
            rec = [name, time.perf_counter(), None, parent, self.trace_id]
            self.spans.append(rec)
            stack.append(len(self.spans) - 1)
            if adopt:
                self._adopters.append(stack[-1])
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            with self._lock:
                stack.pop()
                if adopt:
                    self._adopters.pop()

    def add(self, counter: str, value: float) -> None:
        if self.enabled:
            key = (self.trace_id, counter)
            self.counts[key] = self.counts.get(key, 0.0) + value

    def total(self, counter: str, trace_ids: set[str]) -> float:
        return sum(v for (tr, c), v in self.counts.items() if c == counter and tr in trace_ids)

    def analysis(self, df) -> None:
        """Count the Catalyst analysis of a DataFrame the bench built:
        analysis is eager, so it ran in the DataFrame's own
        ``QueryExecution``, not in the one its action builds."""
        if self.enabled:
            phase = df._jdf.queryExecution().tracker().phases().get("analysis")
            if phase.isDefined():
                self.add("catalyst.analysis_ms", float(phase.get().durationMs()))

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def _self(self, trace_ids: set[str] | None):
        """(name, seconds) of each span's duration minus its children's."""
        child = [0.0] * len(self.spans)
        for rec in self.spans:
            if rec[3] is not None:
                child[rec[3]] += rec[2] - rec[1]
        for i, (name, t0, t1, _, tr) in enumerate(self.spans):
            if trace_ids is None or tr in trace_ids:
                yield name, (t1 - t0) - child[i]

    def self_times(self, trace_ids: set[str] | None = None) -> dict[str, float]:
        """Seconds of self time per span name. A span whose children
        outlast it (a child on another thread still running when it
        ends) would go negative: it counts as 0, and ``clamped`` counts
        such spans."""
        out: dict[str, float] = {}
        for name, t in self._self(trace_ids):
            out[name] = out.get(name, 0.0) + max(0.0, t)
        return out

    def clamped(self, trace_ids: set[str] | None = None) -> int:
        """Spans whose self time was negative (see ``self_times``)."""
        return sum(1 for _, t in self._self(trace_ids) if t < 0)

    def durations(self, name: str, trace_ids: set[str] | None = None) -> list[float]:
        return [
            r[2] - r[1]
            for r in self.spans
            if r[0] == name and (trace_ids is None or r[4] in trace_ids)
        ]


def _engine_modules():
    return [
        m
        for n, m in list(sys.modules.items())
        if m is not None and n.startswith("mb8600_clickhouse_spark")
    ]


class LayerPatches:
    """Replace each layer's public entry points with span wrappers.

    A function imported by name into another module is rebound there
    too, so ``from ..tables import load_tables`` call sites are traced.
    Methods are patched on their class."""

    def __init__(self, tracer: Tracer) -> None:
        from mb8600_clickhouse_spark import tables
        from mb8600_clickhouse_spark.functions import chsql, clickhouse
        from mb8600_clickhouse_spark.plans import manifest
        from mb8600_clickhouse_spark.streaming import ingest

        self._functions = [
            (tables.load_tables, "tables.load_tables"),
            (clickhouse.register_clickhouse_functions, "functions.register"),
            (chsql.rewrite_clickhouse_sql, "functions.rewrite"),
            (chsql.ch_sql, "functions.ch_sql"),
            (ingest.read_payload_stream, "streaming.read_payload_stream"),
            (ingest.parse_payloads, "streaming.parse_payloads"),
            (ingest.write_docsis_stream_manifest, "streaming.start"),
        ]
        self._methods = [
            (manifest.ManifestTable, m, f"plans.{m}")
            for m in ("append", "committed_epochs", "read", "scan", "compact")
        ]
        self._tracer = tracer
        self._undo: list[tuple[object, str, object]] = []

    def __enter__(self) -> "LayerPatches":
        for fn, name in self._functions:
            wrapped = self._tracer.wrap(name, fn)
            for mod in _engine_modules():
                for attr, val in list(vars(mod).items()):
                    if val is fn:
                        self._undo.append((mod, attr, fn))
                        setattr(mod, attr, wrapped)
        for cls, attr, name in self._methods:
            fn = cls.__dict__[attr]
            self._undo.append((cls, attr, fn))
            setattr(cls, attr, self._tracer.wrap(name, fn))
        return self

    def __exit__(self, *exc) -> None:
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo.clear()


class CatalystListener:
    """py4j implementation of Spark's ``QueryExecutionListener``: reads
    the analysis/optimization/planning phase times from the
    ``QueryExecution`` that actually ran (a noop write or ``toPandas``
    builds its own, so the DataFrame's QE is not the one to read)."""

    def __init__(self) -> None:
        self.phases_ms: dict[str, float] = {}
        self._lock = threading.Lock()

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        it = qe.tracker().phases().iterator()
        got = {}
        while it.hasNext():
            kv = it.next()
            got[kv._1()] = float(kv._2().durationMs())
        with self._lock:
            for k, v in got.items():
                self.phases_ms[k] = self.phases_ms.get(k, 0.0) + v

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java API)
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class SparkCounters:
    """Point-in-time reads of JVM-wide counters; subtract two reads for a
    delta."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jvm = self._sc._jvm

    def read(self) -> dict[str, float]:
        jvm = self._jvm
        h = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        values = h.getSnapshot().getValues()
        gcs = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return {
            "codegen.compiles": float(h.getCount()),
            # the histogram keeps every sample until 1028 compiles, so
            # the sum is exact for a bench run; beyond that an estimate
            "codegen.compile_ms": float(jvm.java.util.Arrays.stream(values).sum()),
            "jvm.gc_ms": float(
                sum(gcs.get(i).getCollectionTime() for i in range(gcs.size()))
            ),
            "operators.pyworker_cpu_s": pyworker_cpu_s(self._sc._gateway.proc.pid),
        }

    def jobs(self, since_ms: float) -> list[dict]:
        """Jobs submitted at or after ``since_ms`` (epoch ms) with their
        completed-stage metrics summed."""
        store = self._sc._jsc.sc().statusStore()
        out = []
        it = store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            sub = j.submissionTime()
            if sub.isEmpty():
                continue
            t0 = float(sub.get().getTime())
            if t0 < since_ms:
                continue
            done = j.completionTime()
            rec = {
                "start_ms": t0,
                "end_ms": float(done.get().getTime()) if done.isDefined() else t0,
                "tasks": 0, "run_ms": 0, "cpu_ms": 0.0, "input_bytes": 0,
                "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
            }
            sit = j.stageIds().iterator()
            while sit.hasNext():
                try:
                    st = store.lastStageAttempt(sit.next())
                except Py4JJavaError:  # stage evicted from the store: no metrics to add
                    continue
                if st.status().toString() != "COMPLETE":
                    continue
                rec["tasks"] += st.numTasks()
                rec["run_ms"] += st.executorRunTime()
                rec["cpu_ms"] += st.executorCpuTime() / 1e6
                rec["input_bytes"] += st.inputBytes()
                rec["shuffle_read_bytes"] += st.shuffleReadBytes()
                rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
                rec["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out.append(rec)
        return out

    def drain_listeners(self) -> None:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces: fields after the closing paren
    return raw[raw.rindex(")") + 2 :].split()


def _process_table() -> dict[int, list[str]]:
    """pid -> /proc stat fields after the command name (empty without /proc)."""
    out = {}
    if os.path.isdir("/proc"):
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _proc_stat(int(name))
                if st is not None:
                    out[int(name)] = st
    return out


def descendants(pid: int) -> list[int]:
    stat = _process_table()
    found, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, st in stat.items() if int(st[1]) == p]
        found += kids
        frontier += kids
    return found


def pyworker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the ``pyspark.daemon`` worker tree under the JVM:
    each daemon's own and reaped children's time plus its live workers'."""
    stat = _process_table()
    parent = {p: int(st[1]) for p, st in stat.items()}
    total = 0
    for pid, ppid in parent.items():
        if ppid != jvm_pid:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark.daemon" not in f.read():
                    continue
        except OSError:
            continue
        st = stat[pid]
        total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
        total += sum(
            int(stat[c][11]) + int(stat[c][12]) for c, p in parent.items() if p == pid
        )
    return total / _CLK_TCK


def host_steal_s() -> float:
    """Cumulative CPU steal time of the host, seconds (0 where the
    kernel does not expose it)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
    except OSError:
        return 0.0
    return int(fields[8]) / _CLK_TCK if len(fields) > 8 else 0.0
