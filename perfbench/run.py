"""Closed-loop benchmark of the engine: three workloads, one client each,
on ``local[nproc]``.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 5 --trace 0

Workloads (see ``workloads.py``): ``dashboard`` (DOCSIS analyst panels,
fixed per-query cost), ``ingest`` (the exporter's stream-to-manifest
write path with read-backs and a compaction) and ``batch_20x`` (a batch
mix on a 20x replicated fixture: more data per query).

A run sets up (JVM, session, tables), builds its inputs from ``--seed``,
makes one cold pass over the mix (results collected and checked against
an oracle outside the timed region), an untimed warm-up (one more pass;
for ``ingest``, the stream history the steady cycles resume), then
steady passes: at least three, and at least ``--seconds`` of them.

``--trace 0`` prints the end-to-end metrics, medians over the run:

- ``setup_s``: process start until the JVM and session are up, plus the
  median of three table set-ups on fresh sessions;
- ``cold_s``: wall time of the cold pass (every operation's first run);
- ``warm_s``: median wall time of one steady pass;
- ``p50_ms``: median latency of one operation in the steady passes (a
  query; for ``ingest``, a micro-batch's ``triggerExecution``).

``--trace 1`` runs the steady passes in traced/untraced T U U T blocks and prints
the per-layer metrics of ``BENCHMARK.json`` from the traced ones; see
``layer_metrics``. Among them ``trace.overhead_pct`` (traced pass wall
against untraced), ``trace.unattributed_pct`` (pass wall no layer span
covers) and ``trace.clamped_spans`` (spans outlasted by a child on
another thread, per traced pass; 0 when spans nest as they should).
The last line of stdout is one JSON object; the lines above it are the
same numbers as a table. Exit status is 0 when every output checked
correct, 1 when one did not or an operation failed, 2 when the engine
is not importable.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.tracing import (  # noqa: E402
    CatalystListener,
    LayerPatches,
    SparkCounters,
    Tracer,
    descendants,
    host_steal_s,
)

#: driver heap: below physical memory (the engine default is 24g)
DRIVER_MEMORY = "3g"
READY_SAMPLES = 3
#: operations a steady phase must hold so its median has ten beyond it
MIN_OPS = 20
#: steady passes per untraced run: always at least this many, so every
#: run has the same shape (one more pass is a faster median, because
#: the JIT is still settling after the warm-up)
MIN_PASSES = 3
#: untraced passes of a traced run (two T U U T blocks): the overhead is
#: a difference of medians, so it needs more passes than a median alone
TRACE_UNTRACED_PASSES = 4

END_TO_END = {"setup_s": "s", "cold_s": "s", "warm_s": "s", "p50_ms": "ms"}
PER_LAYER = {
    "session.start_s": "s",
    "tables.load_s": "s",
    "functions.register_s": "s",
    "functions.register_calls": "count",
    "queries.build_ms": "ms",
    "functions.rewrite_ms": "ms",
    "functions.rewrite_calls": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "codegen.compile_ms": "ms",
    "codegen.compiles": "count",
    "exec.jobs_per_query": "count",
    "exec.driver_gap_ms": "ms",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "exec.tasks": "count",
    "exec.input_bytes": "B",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "operators.pyworker_cpu_s": "s",
    "jvm.gc_ms": "ms",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.batch_growth": "ratio",
    "plans.append_ms": "ms",
    "plans.ledger_read_ms": "ms",
    "plans.versions": "count",
    "plans.data_files": "count",
    "plans.ledger_bytes_read": "B",
    "plans.compact_s": "s",
    "plans.scan_files_read_ratio": "ratio",
    "plans.readback_ms": "ms",
    "plans.bytes_per_row": "B",
    "host.steal_s": "s",
    "host.load1_start": "load",
    "trace.overhead_pct": "%",
    "trace.unattributed_pct": "%",
    "trace.clamped_spans": "count",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["dashboard", "ingest", "batch_20x"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def run_hygiene(work: str) -> None:
    """Everything a run writes stays under ``work``; Python workers can
    import the engine; the driver heap fits the machine."""
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # the cores this process may run on, as nproc counts them
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))


def remove_work(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    parent = os.path.dirname(work)
    if os.path.isdir(parent) and not os.listdir(parent):
        os.rmdir(parent)


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def union_ms(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class Run:
    """One workload run: set-up, cold pass, warm-up, steady passes."""

    def __init__(self, args, work: str) -> None:
        from mb8600_clickhouse_spark.session import get_spark
        from perfbench.workloads import WORKLOADS, Context

        self.args = args
        self.wl = WORKLOADS[args.workload]()
        self.tracer = Tracer()
        self.load1_start = os.getloadavg()[0]
        self.steal0 = host_steal_s()

        self.base = get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            },
        )
        self.launch_s = time.perf_counter() - T_START
        log("session up")
        self.ctx = Context(None, work, args.seed, self.tracer)

    def setup(self) -> None:
        """Inputs from the seed (untimed), then the timed table set-ups."""
        self.wl.prepare(self.ctx)
        ready = []
        for _ in range(READY_SAMPLES):
            session = self.base.newSession()
            t0 = time.perf_counter()
            self.wl.ready(session)
            ready.append(time.perf_counter() - t0)
        self.ready_s = median(ready)
        log("ready")
        self.ctx.spark = session

    def stop(self) -> None:
        """Stop Spark, then wait for the JVM and its Python workers."""
        gateway = self.base.sparkContext._gateway
        children = descendants(gateway.proc.pid)
        self.base.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in children):
            time.sleep(0.05)

    def measure(self) -> tuple[dict, dict]:
        args, ctx, tracer, wl = self.args, self.ctx, self.tracer, self.wl
        trace = bool(args.trace)
        counters = SparkCounters(ctx.spark) if trace else None
        if trace:
            from pyspark.java_gateway import ensure_callback_server_started

            ensure_callback_server_started(ctx.spark.sparkContext._gateway)

        def one_pass(i: int, traced: bool, first: bool = False):
            tracer.trace_id, tracer.enabled = f"p{i}", traced
            if not traced:
                return wl.run_pass(ctx, first) + ({},)
            listener = CatalystListener()
            lm = ctx.spark._jsparkSession.listenerManager()
            lm.register(listener)
            c0, ms0 = counters.read(), time.time() * 1000
            try:
                with LayerPatches(tracer):
                    wall, lat = wl.run_pass(ctx, first)
            finally:
                ms1 = time.time() * 1000
                counters.drain_listeners()
                lm.unregister(listener)
                tracer.enabled = False
            c1 = counters.read()
            delta = {k: c1[k] - c0[k] for k in c0}
            delta.update({f"catalyst.{k}_ms": v for k, v in listener.phases_ms.items()})
            ctx.windows.append((f"p{i}", ms0, ms1, wall, len(lat)))
            return wall, lat, delta

        cold_s, _, cold_delta = one_pass(0, trace, first=True)
        log(f"cold pass {cold_s:.2f}s, checked")
        tracer.trace_id, tracer.enabled = "p1", False
        wl.warm_up(ctx)  # untimed: JIT and caches settle
        log("warm-up")
        walls, lats, twalls, tdeltas, untraced = [], [], [], [], set()
        deadline = time.perf_counter() + args.seconds
        hard_stop = time.perf_counter() + max(3 * args.seconds, 60)
        i = 2
        while True:
            # traced passes in T U U T blocks, so drift within a run
            # (JIT, page cache) does not bias the overhead either way
            traced = trace and (i - 2) % 4 in (0, 3)
            wall, lat, delta = one_pass(i, traced)
            log(f"pass {i} {'traced' if traced else 'untraced'} {wall:.3f}s")
            i += 1
            if traced:
                twalls.append(wall)
                tdeltas.append(delta)
            else:
                walls.append(wall)
                lats.extend(lat)
                untraced.add(f"p{i - 1}")
            now = time.perf_counter()
            if trace:
                enough = len(walls) >= TRACE_UNTRACED_PASSES and (i - 2) % 4 == 0
            else:
                enough = len(walls) >= MIN_PASSES and len(lats) >= MIN_OPS
            if (now >= deadline and enough) or now >= hard_stop:
                break
        log(f"{i - 2} steady passes")
        wl.finish(ctx)
        out = {
            "setup_s": self.launch_s + self.ready_s,
            "cold_s": cold_s,
            "warm_s": median(walls),
            "p50_ms": 1000 * median(lats),
        }
        info = {
            "passes": len(walls),
            "ops": len(lats),
            "ops_per_s": len(lats) / sum(walls),
            **wl.info(untraced),
            "host.steal_s": host_steal_s() - self.steal0,
            "host.load1_start": self.load1_start,
        }
        if trace:
            out = self.layer_metrics(counters, cold_delta, walls, twalls, tdeltas)
            info.update(self.trace_info)
        return out, info

    def layer_metrics(self, counters, cold_delta, walls, twalls, tdeltas) -> dict:
        tracer, ctx = self.tracer, self.ctx
        traced = {w[0] for w in ctx.windows}
        steady = traced - {"p0"}
        n = max(1, len(twalls))
        self_times = tracer.self_times(steady)

        def per_pass(key: str) -> float:
            return sum(d.get(key, 0.0) for d in tdeltas) / n

        def total_s(name: str, ids) -> float:
            return sum(tracer.durations(name, ids))

        jobs = counters.jobs(min(w[1] for w in ctx.windows)) if ctx.windows else []
        exec_sums: dict[str, float] = {}
        n_jobs, gap_ms, n_ops = 0, 0.0, 0
        for tid, ms0, ms1, wall, ops in ctx.windows:
            if tid not in steady:
                continue
            mine = [j for j in jobs if ms0 <= j["start_ms"] <= ms1]
            n_jobs += len(mine)
            n_ops += ops
            gap_ms += max(0.0, 1000 * wall - union_ms((j["start_ms"], j["end_ms"]) for j in mine))
            for j in mine:
                for k, v in j.items():
                    if k not in ("start_ms", "end_ms"):
                        exec_sums[k] = exec_sums.get(k, 0.0) + v
        m = {
            "session.start_s": self.launch_s,
            "tables.load_s": self.ready_s,
            "functions.register_s": total_s("functions.register", {"p0"}),
            "functions.register_calls": float(len(tracer.durations("functions.register", {"p0"}))),
            "queries.build_ms": 1000 * median(tracer.durations("queries.build", steady)),
            "functions.rewrite_ms": 1000 * total_s("functions.rewrite", steady) / n,
            "functions.rewrite_calls": len(tracer.durations("functions.rewrite", steady)) / n,
            "catalyst.analysis_ms": per_pass("catalyst.analysis_ms")
            + tracer.total("catalyst.analysis_ms", steady) / n,
            "catalyst.optimization_ms": per_pass("catalyst.optimization_ms"),
            "catalyst.planning_ms": per_pass("catalyst.planning_ms"),
            "codegen.compile_ms": cold_delta.get("codegen.compile_ms", 0.0),
            "codegen.compiles": cold_delta.get("codegen.compiles", 0.0),
            "exec.jobs_per_query": n_jobs / max(1, n_ops),
            "exec.driver_gap_ms": gap_ms / n,
            "operators.pyworker_cpu_s": per_pass("operators.pyworker_cpu_s"),
            "jvm.gc_ms": per_pass("jvm.gc_ms"),
            "plans.append_ms": 1000 * median(tracer.durations("plans.append", steady)),
            "plans.compact_s": median(tracer.durations("plans.compact", steady)),
            "host.steal_s": host_steal_s() - self.steal0,
            "host.load1_start": self.load1_start,
            # what tracing adds to a pass: traced against untraced wall
            "trace.overhead_pct": 100 * (median(twalls) / median(walls) - 1),
            # the share of traced pass wall no layer span covers
            "trace.unattributed_pct": 100 * self_times.get("bench.pass", 0.0) / max(1e-9, sum(twalls)),
            "trace.clamped_spans": tracer.clamped(steady) / n,
        }
        for k in ("run_ms", "cpu_ms", "tasks", "input_bytes", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes"):
            m[f"exec.{k}"] = exec_sums.get(k, 0.0) / n
        m.update(self.wl.layer_metrics(ctx, steady))
        self.self_times = self_times
        # self times sum to the traced passes' wall (spans nest under
        # bench.pass); against the untraced wall they differ by the overhead
        self.trace_info = {
            "trace.selftime_vs_untraced_pct": 100 * (sum(self_times.values()) / (median(walls) * n) - 1)
        }
        return {k: float(m.get(k, 0.0)) for k in PER_LAYER}


def print_table(title: str, values: dict, units: dict) -> None:
    print(f"# {title}")
    for k, v in values.items():
        print(f"  {k:<30} {v:>16.6g} {units.get(k, '')}")


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    run_hygiene(work)
    try:
        import mb8600_clickhouse_spark  # noqa: F401
        import harness.oracle  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        remove_work(work)
        return 2
    run = None
    try:
        run = Run(args, work)
        run.setup()
        metrics, info = run.measure()
        from perfbench.workloads import memo_sizes

        memos = memo_sizes()
        info.update({f"memo.{k}": v for k, v in memos.items()})
        run.ctx.check(not any(memos.values()), f"engine memos filled: {memos}")
        correct = run.ctx.failed == 0
    except Exception:
        traceback.print_exc()
        correct, metrics, info = False, {}, {}
    finally:
        try:
            if run is not None:
                run.stop()
                log("stopped")
        finally:
            remove_work(work)
    ctx = run.ctx if run is not None else None
    attempted = ctx.attempted if ctx else 1
    failed = ctx.failed if ctx else 1
    if not correct and failed == 0:
        failed = 1
    for e in (ctx.errors if ctx else [])[:20]:
        print(f"FAILED: {e}")
    units = PER_LAYER if args.trace else END_TO_END
    print_table(f"{args.workload} seed={args.seed} trace={args.trace}", metrics, units)
    info["error_rate"] = failed / max(1, attempted)
    print_table("run", info, {})
    if args.trace and run is not None and getattr(run, "self_times", None):
        print_table("self time per span name, s (traced steady passes)", run.self_times, {})
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, attempted),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
