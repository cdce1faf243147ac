"""The three workloads. Each is a closed loop with one client: the next
operation starts when the previous one has finished.

A workload provides

- ``prepare(ctx)``: build its inputs from the seed, outside all timing;
- ``ready(session)``: the table part of set-up, timed into ``setup_s``;
- ``run_pass(ctx, first)``: one full pass over its mix, returning the
  pass wall time and the latency of each operation in it. The first
  pass is the cold one: it collects results and checks them, outside
  the timed region;
- ``warm_up(ctx)``: the untimed work between the cold pass and the
  steady ones;
- ``finish(ctx)``: checks that need the whole run;
- ``layer_metrics(ctx, traced)``: its own per-layer numbers.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

import duckdb
from pyspark.sql import functions as F

from harness import oracle

# chsql and ingest are used as modules, not imported names, so a traced
# pass (tracing.LayerPatches) reaches their span-wrapped functions
from mb8600_clickhouse_spark import queries
from mb8600_clickhouse_spark.datagen import MODEMS
from mb8600_clickhouse_spark.functions import chsql
from mb8600_clickhouse_spark.plans import ManifestTable
from mb8600_clickhouse_spark.plans.manifest import MANIFEST_DIR
from mb8600_clickhouse_spark.queries import all_queries, extended, pipeline
from mb8600_clickhouse_spark.schemas import FIXTURE_TABLES
from mb8600_clickhouse_spark.sources.hnap_datasource import fake_payload
from mb8600_clickhouse_spark.streaming import ingest
from mb8600_clickhouse_spark.tables import load_tables

HERE = os.path.dirname(os.path.abspath(__file__))
#: the deterministic sf0.01 test fixture of TESTDATA.md, shipped with the
#: benchmark so a run reads nothing outside its checkout
FIXTURE = os.path.join(HERE, "fixture", "sf0.01")


@dataclass
class Context:
    spark: object
    work: str
    seed: int
    tracer: object
    rng: random.Random = field(init=False)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    #: (trace_id, start_epoch_ms, end_epoch_ms, wall_s, ops) per traced pass
    windows: list = field(default_factory=list)

    def __post_init__(self) -> None:
        self.rng = random.Random(self.seed)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


def forget_rewrites() -> None:
    """Empty the dialect front door's statement memo before each call,
    so a re-submitted statement pays its rewrite as a new one does. An
    engine without the memo has nothing to empty."""
    memo = getattr(chsql, "_REWRITE_CACHE", None)
    if memo is not None:
        memo.clear()


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


# ---------------------------------------------------------------------------
# query mixes: dashboard and batch_20x
# ---------------------------------------------------------------------------
class QueryMix:
    """Registered queries run through their UNPREPARED bodies, so every
    call pays plan build, dialect rewrite and Catalyst, as a client that
    re-submits its query text does. Cold pass: ``toPandas`` (the result
    a one-shot job takes home), checked against the DuckDB oracle.
    Steady passes: a noop-format write, which executes the full plan."""

    name = ""
    mix: tuple[str, ...] = ()

    def __init__(self) -> None:
        queries = all_queries()
        self.specs = [queries[n] for n in self.mix]
        self.sf_dir = ""

    def ready(self, session) -> None:
        load_tables(session, self.sf_dir).force()

    def run_pass(self, ctx: Context, first: bool) -> tuple[float, list[float]]:
        # the cold pass keeps the mix order, so which query pays the
        # JVM's first-use costs does not change with the seed
        order = list(self.specs)
        if not first:
            ctx.rng.shuffle(order)
        lat: list[float] = []
        results = []
        t_pass = time.perf_counter()
        with ctx.tracer.span("bench.pass"):
            for spec in order:
                body = getattr(spec.fn, "__wrapped__", spec.fn)
                forget_rewrites()
                t0 = time.perf_counter()
                with ctx.tracer.span("queries.build"):
                    df = body(ctx.spark, self.sf_dir)
                ctx.tracer.analysis(df)
                with ctx.tracer.span("exec.action"):
                    if first:
                        results.append((spec, df.toPandas()))
                    else:
                        df.write.format("noop").mode("overwrite").save()
                lat.append(time.perf_counter() - t0)
                ctx.attempted += 1
        wall = time.perf_counter() - t_pass
        if first:
            self._verify(ctx, results)
        return wall, lat

    def _verify(self, ctx: Context, results) -> None:
        """``harness.oracle.run_one`` without its Spark half: the Spark
        result is the cold pass's own, and ``spec.fn`` (the prepared,
        plan-caching entry) is never called."""
        con = oracle.make_duckdb(self.sf_dir)
        try:
            for spec, pdf in results:
                res = oracle.compare(spec.name, pdf, con.sql(spec.oracle_for(self.sf_dir)).df())
                ctx.check(res.ok, str(res))
        finally:
            con.close()

    def warm_up(self, ctx: Context) -> None:
        """One more pass in a new order: the JIT and the page cache settle."""
        self.run_pass(ctx, first=False)

    def finish(self, ctx: Context) -> None:
        pass

    def info(self, steady: set[str]) -> dict[str, float]:
        return {}

    def layer_metrics(self, ctx: Context, traced: set[str]) -> dict[str, float]:
        return {}


class Dashboard(QueryMix):
    """DOCSIS analyst panels at sf0.1: last point, worst-channel rank,
    time bucket, percentiles, date prune and ClickHouse-dialect rows.
    The docsis table is the repo's sf0.1 fixture; the side tables the
    dialect and bucket rows read (events, lineitem) are the shipped
    sf0.01 fixture. Panels whose result is one row per channel sample
    (counter delta and rate, explode channels: ~1M rows at sf0.1) are
    left out: checking a result that size against the oracle costs
    more than a run."""

    name = "dashboard"
    mix = (
        "q11_last_point",
        "q13_worst_channel_rank",
        "q10_time_bucket",
        "q16_percentiles",
        "q32_date_prune",
        "q74_clickhouse_sql",
        "q102_clickhouse_array_join",
    )

    def prepare(self, ctx: Context) -> None:
        # the directory's basename selects the docsis scale (datagen.docsis_path_for)
        self.sf_dir = os.path.join(ctx.work, "dashboard", "sf0.1")
        os.makedirs(self.sf_dir)
        for t in FIXTURE_TABLES:
            os.symlink(os.path.join(FIXTURE, f"{t}.parquet"), os.path.join(self.sf_dir, f"{t}.parquet"))


#: per-table surrogate key offset per replica (harness/probe_scale.KEY_REMAP)
KEY_REMAP = {"documents": "doc_id", "embeddings": "vec_id", "events": "event_id"}
#: replication per fact table (dimension tables stay as they are)
BATCH_MULT = {"lineitem": 20, "events": 20, "documents": 20, "embeddings": 20}


def replicate(src: str, dst: str, mult: dict[str, int], gap: int) -> None:
    """``harness.probe_scale.build_scaled_dir`` with a seeded gap between
    replica key ranges: table ``t`` is replicated ``mult[t]`` times,
    replica ``r`` shifting its surrogate key by ``r * (max_key + 1 + gap)``;
    replica 0 keeps the fixture's keys, so key-filtered queries (query
    vectors ``vec_id < 5``) keep their meaning. Other tables are linked
    as they are."""
    os.makedirs(dst)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in FIXTURE_TABLES:
            s, d = f"{src}/{t}.parquet", f"{dst}/{t}.parquet"
            if t not in mult:
                os.symlink(s, d)
                continue
            reps = f"(SELECT unnest(range({mult[t]})) AS rep_)"
            key = KEY_REMAP.get(t)
            if key:
                span = con.execute(f"SELECT max({key}) + 1 FROM read_parquet('{s}')").fetchone()[0]
                sel = (
                    f"SELECT * EXCLUDE (rep_) REPLACE ({key} + rep_ * {span + gap} AS {key}) "
                    f"FROM read_parquet('{s}') CROSS JOIN {reps}"
                )
            else:
                sel = f"SELECT * EXCLUDE (rep_) FROM read_parquet('{s}') CROSS JOIN {reps}"
            con.execute(f"COPY ({sel}) TO '{d}' (FORMAT PARQUET)")
    finally:
        con.close()


class Batch20x(QueryMix):
    """A one-shot batch mix on the sf0.01 fixture with its fact tables
    (lineitem, events, documents, embeddings) replicated 20x: relational
    join, aggregate and rollup, an events window, exact text dedup, and
    Python-worker decode and nearest-neighbour operators."""

    name = "batch_20x"
    mix = (
        "q19_multi_join_revenue",
        "q09_hash_agg",
        "q25_rollup",
        "q39_sliding_window",
        "q33_dedup_exact",
        "q71_image_decode",
        "q43_ann_topk",
    )

    def prepare(self, ctx: Context) -> None:
        self.sf_dir = os.path.join(ctx.work, "batch", "sf0.01")
        replicate(FIXTURE, self.sf_dir, BATCH_MULT, gap=ctx.rng.randrange(1, 1_000_000))


# ---------------------------------------------------------------------------
# ingest: the exporter write path
# ---------------------------------------------------------------------------
#: micro-batches per cycle (one landing file each): an assumed size, so
#: that a steady cycle takes about 3 s on 4 cores
INGEST_FILES = 10
#: epochs the table already holds when a steady cycle starts. Each steady
#: cycle resumes the stream that committed them (a copy of its table and
#: checkpoint), so the stream's life is 30 micro-batches; leaving out the
#: first micro-batch of each start, its first decile commits on a ledger
#: of 1-2 manifests and its last on one of 29-30 (``streaming.batch_growth``).
#: Building the history is the run's warm-up; at about 0.3 s a micro-batch
#: on 4 cores, 20 is what the run budget (about 48 s a run, JVM start
#: included) leaves room for.
HISTORY_EPOCHS = 20
#: the exporter's poll interval: the reference polls every 10 s
#: (mb8600.py:109, see ``sources.hnap_datasource``)
SCRAPE_INTERVAL_S = 10
T0 = 1_750_000_000


@dataclass
class Cycle:
    root: str
    #: landing files whose rows the table holds at the end of the cycle
    files: list
    #: epochs this cycle's stream commits
    epochs: range
    #: rows landed (and committed) by this cycle
    rows: int
    #: trace id of the pass the cycle ran in
    pass_id: str
    progress: list = field(default_factory=list)
    stream_s: float = 0.0
    readback_s: list = field(default_factory=list)
    bytes_per_row: float = 0.0
    data_files: int = 0
    versions: int = 0
    ledger_bytes: int = 0
    files_read_ratio: float = 0.0


class Ingest:
    """Poll output lands as JSON files, one per scrape round across the
    fleet of the repo's docsis fixture (``datagen.MODEMS``), every
    ``SCRAPE_INTERVAL_S``. A cycle drains its landing files into a
    manifest table with ``read_payload_stream(maxFilesPerTrigger=1)``,
    ``parse_payloads`` and ``write_docsis_stream_manifest(available_now)``,
    one micro-batch per file; it then runs the read-back queries on the
    live, uncompacted table (last point by DataFrame and by ClickHouse
    SQL, and a time-range scan through ``ManifestTable.scan``), and one
    ``compact``.

    The cold cycle starts a new stream on an empty table. The warm-up
    runs one more such cycle, then one with ``HISTORY_EPOCHS`` files,
    whose table and checkpoint are the history every steady cycle starts
    from (copied, outside timing): a steady cycle's commits read a ledger
    of more than ``HISTORY_EPOCHS`` manifests, and every steady cycle
    does the same work. The seed sets the payload sequence numbers and the scrape
    latencies."""

    name = "ingest"

    def prepare(self, ctx: Context) -> None:
        self.base = os.path.join(ctx.work, "ingest")
        os.makedirs(self.base)
        #: the source directory of the stream the steady cycles resume
        self.landing = os.path.join(self.base, "landing")
        self.seq0 = ctx.rng.randrange(1_000_000)
        self.cycles: list[Cycle] = []

    def ready(self, session) -> None:
        d = os.path.join(self.base, f"ready{time.perf_counter_ns()}")
        os.makedirs(os.path.join(d, "landing"))
        ManifestTable(os.path.join(d, "table"))
        ingest.read_payload_stream(session, os.path.join(d, "landing"), 1)

    def _land(self, ctx: Context, landing: str, polls: range) -> list[str]:
        os.makedirs(landing, exist_ok=True)
        paths = []
        for poll in polls:
            recs = [
                {
                    "modem_name": m,
                    "payload": json.dumps(fake_payload(self.seq0 + poll, m)),
                    # the fixture's scrape latency range (datagen.generate_docsis)
                    "scrape_latency": round(ctx.rng.uniform(0.05, 3.0), 3),
                    "ts": T0 + poll * SCRAPE_INTERVAL_S + j,
                }
                for j, m in enumerate(MODEMS)
            ]
            paths.append(os.path.join(landing, f"poll-{poll:06d}.json"))
            with open(paths[-1], "w") as f:
                f.writelines(json.dumps(r) + "\n" for r in recs)
        return paths

    def warm_up(self, ctx: Context) -> None:
        """Untimed: one more cold-shaped cycle, so the JIT settles, then
        the steady cycles' history: a cycle of ``HISTORY_EPOCHS``
        micro-batches on a new stream."""
        self.run_pass(ctx, first=True)
        polls = range(HISTORY_EPOCHS)
        self._run(ctx, polls, self._land(ctx, self.landing, polls), self.landing)
        self.history = self.cycles[-1]

    def run_pass(self, ctx: Context, first: bool) -> tuple[float, list[float]]:
        if first:
            landing = os.path.join(self._root(), "landing")
            polls = range(INGEST_FILES)
            wall = self._run(ctx, polls, self._land(ctx, landing, polls), landing)
        else:
            root, k = self._root(), len(self.cycles) - 3
            polls = range(HISTORY_EPOCHS + k * INGEST_FILES, HISTORY_EPOCHS + (k + 1) * INGEST_FILES)
            new = self._land(ctx, os.path.join(root, "new"), polls)
            for part in ("table", "checkpoint"):
                shutil.copytree(os.path.join(self.history.root, part), os.path.join(root, part))
            # the resumed stream reads the history's source directory
            links = [os.path.join(self.landing, os.path.basename(f)) for f in new]
            for f, link in zip(new, links):
                os.link(f, link)
            try:
                wall = self._run(ctx, polls, new, self.landing, self.history.files)
            finally:
                for link in links:
                    os.unlink(link)
        return wall, [p["triggerExecution"] / 1000.0 for p in self.cycles[-1].progress]

    def _root(self) -> str:
        """The directory of the next cycle: its table and checkpoint."""
        return os.path.join(self.base, f"c{len(self.cycles)}")

    def _run(self, ctx: Context, polls: range, new: list[str], landing: str, history=()) -> float:
        """One cycle: a stream over ``landing`` that finds the files
        ``new`` there, on a table that holds the rows of ``history``;
        returns its wall time."""
        root = self._root()
        epoch0 = len(history)
        cyc = Cycle(
            root, list(history) + new, range(epoch0, epoch0 + len(new)), len(new) * len(MODEMS),
            ctx.tracer.trace_id,
        )
        self.cycles.append(cyc)
        table = ManifestTable(os.path.join(root, "table"))
        mid = T0 + (polls[0] + len(polls) // 2) * SCRAPE_INTERVAL_S
        preds = [
            ("timestamp", ">=", _ts(mid - 3 * SCRAPE_INTERVAL_S)),
            ("timestamp", "<", _ts(mid + 3 * SCRAPE_INTERVAL_S)),
        ]
        t_pass = time.perf_counter()
        with ctx.tracer.span("bench.pass"):
            got = self._cycle(ctx, cyc, table, landing, preds)
        wall = time.perf_counter() - t_pass
        ctx.attempted += len(new) + len(got)
        ctx.check(
            len(cyc.progress) == len(new) and got[0] == got[1] and len(got[0]) == len(MODEMS),
            f"ingest {root}: {len(cyc.progress)} micro-batches, last point {got[0]} vs {got[1]}",
        )
        # the live table as the read-backs saw it: the version before compaction
        live = table.latest_version() - 1
        live_files = table.snapshot_files(live)
        cyc.data_files = len(live_files)
        cyc.versions = live + 1
        cyc.files_read_ratio = len(table.prune_files(preds, version=live)) / len(live_files)
        manifests = sum((table.root / MANIFEST_DIR / f"v{v}.json").stat().st_size for v in range(live + 1))
        cyc.bytes_per_row = (sum(os.path.getsize(f) for f in live_files) + manifests) / (
            len(cyc.files) * len(MODEMS)
        )
        cyc.ledger_bytes = _ledger_bytes(table.root, cyc.epochs)
        return wall

    def _cycle(self, ctx: Context, cyc: Cycle, table, landing: str, preds) -> list:
        """The timed part of a cycle: drain, read back, compact."""
        s = ctx.spark
        t0 = time.perf_counter()
        # one span over start and drain: the foreachBatch sink's spans,
        # opened on the py4j callback thread, hang under it
        with ctx.tracer.span("streaming.drain", adopt=True):
            q = ingest.write_docsis_stream_manifest(
                ingest.parse_payloads(ingest.read_payload_stream(s, landing, 1)),
                str(table.root),
                os.path.join(cyc.root, "checkpoint"),
                available_now=True,
            )
            q.awaitTermination()
        cyc.stream_s = time.perf_counter() - t0
        cyc.progress = [p["durationMs"] for p in q.recentProgress]
        table.to_view(s, "docsis_live")
        readbacks = (
            lambda: table.read(s).groupBy("modem_name").agg(
                F.max("timestamp").alias("ts"), F.max_by("modem_uptime", "timestamp").alias("uptime")
            ),
            lambda: chsql.ch_sql(
                s,
                "SELECT modem_name, max(timestamp) AS ts, argMax(modem_uptime, timestamp) AS uptime "
                "FROM docsis_live GROUP BY modem_name",
            ),
            lambda: table.scan(s, preds).agg(F.count("*").alias("n"), F.sum("scrape_latency").alias("lat")),
        )
        got = []
        for build in readbacks:
            forget_rewrites()
            t0 = time.perf_counter()
            df = build()
            ctx.tracer.analysis(df)
            with ctx.tracer.span("exec.readback"):
                got.append(sorted(tuple(r) for r in df.collect()))
            cyc.readback_s.append(time.perf_counter() - t0)
        table.compact(s, sort_cols=["modem_name", "timestamp"])
        return got

    def finish(self, ctx: Context) -> None:
        """Every cycle: committed rows equal landed rows, the table's
        order-insensitive hash equals batch ``parse_payloads`` over the
        same landing files, and each epoch is committed exactly once."""
        s = ctx.spark
        for cyc in self.cycles:
            table = ManifestTable(os.path.join(cyc.root, "table"))
            live = table.read(s).toPandas()
            batch = ingest.parse_payloads(s.read.schema(ingest.PAYLOAD_RECORD_SCHEMA).json(cyc.files)).toPandas()
            landed = len(cyc.files) * len(MODEMS)
            ctx.check(len(live) == landed, f"ingest {cyc.root}: {len(live)} rows committed, {landed} landed")
            # the oracle's order-insensitive value hash (array cells render canonically)
            same = oracle.canonicalize(live) == oracle.canonicalize(batch)
            ctx.check(same, f"ingest {cyc.root}: committed table differs from batch parse_payloads")
            epochs = sorted(table.committed_epochs())
            ctx.check(epochs == list(range(cyc.epochs.stop)), f"ingest {cyc.root}: epochs {epochs}")

    def info(self, steady: set[str]) -> dict[str, float]:
        """The exporter's own numbers over the steady cycles."""
        cycles = [c for c in self.cycles if c.pass_id in steady]
        return {
            "rows_per_s": sum(c.rows for c in cycles) / sum(c.stream_s for c in cycles),
            "readback_ms": 1000 * _median([x for c in cycles for x in c.readback_s]),
            "bytes_per_row": _median([c.bytes_per_row for c in cycles]),
        }

    def layer_metrics(self, ctx: Context, traced: set[str]) -> dict[str, float]:
        cycles = [c for c in self.cycles if c.pass_id in traced]
        if not cycles:
            return {}
        prog = [p for c in cycles for p in c.progress]

        def med(key: str) -> float:
            return _median([p.get(key, 0) for p in prog])

        # the stream's life: the history's micro-batches, then the cycle's;
        # each start's first micro-batch pays the start and is left out
        history = [p["triggerExecution"] for p in self.history.progress[1:]]
        growth = []
        for c in cycles:
            life = history + [p["triggerExecution"] for p in c.progress[1:]]
            n = max(1, len(life) // 10)
            growth.append(statistics.mean(life[-n:]) / statistics.mean(life[:n]))
        return {
            "streaming.trigger_ms": med("triggerExecution"),
            "streaming.add_batch_ms": med("addBatch"),
            "streaming.query_planning_ms": med("queryPlanning"),
            "streaming.wal_commit_ms": med("walCommit"),
            "streaming.commit_offsets_ms": med("commitOffsets"),
            "streaming.latest_offset_ms": med("latestOffset"),
            "streaming.batch_growth": _median(growth),
            "plans.ledger_read_ms": 1000 * _median(ctx.tracer.durations("plans.committed_epochs", traced)),
            "plans.versions": _median([c.versions for c in cycles]),
            "plans.data_files": _median([c.data_files for c in cycles]),
            "plans.ledger_bytes_read": _median([c.ledger_bytes for c in cycles]),
            "plans.scan_files_read_ratio": _median([c.files_read_ratio for c in cycles]),
            "plans.readback_ms": 1000 * _median([x for c in cycles for x in c.readback_s]),
            "plans.bytes_per_row": _median([c.bytes_per_row for c in cycles]),
        }


def _ts(epoch_s: int) -> dt.datetime:
    return dt.datetime.fromtimestamp(epoch_s, dt.timezone.utc).replace(tzinfo=None)


def _ledger_bytes(root, epochs: range) -> int:
    """Manifest bytes ``committed_epochs`` read over a cycle: the commit
    of each of the cycle's ``epochs`` reads every manifest committed
    before it."""
    manifests = []
    for p in (root / MANIFEST_DIR).glob("v*.json"):
        manifests.append((int(p.stem[1:]), p.stat().st_size, json.loads(p.read_text()).get("epoch")))
    total, seen = 0, 0
    for _, size, epoch in sorted(manifests):
        if epoch in epochs:
            total += seen
        seen += size
    return total


WORKLOADS = {"dashboard": Dashboard, "ingest": Ingest, "batch_20x": Batch20x}


#: the engine memos a benchmark must never bill, by module
MEMOS = (
    (queries, "_PLAN_CACHE"),
    (pipeline, "_STREAM_RESULT_MEMO"),
    (pipeline, "_Q116_DRAINED"),
    (extended, "_TRAIN_MEMO"),
)


def memo_sizes() -> dict[str, int]:
    """Entries in the engine memos a benchmark must never bill; a memo
    the engine no longer has holds none."""
    return {name: len(getattr(module, name, ())) for module, name in MEMOS}
