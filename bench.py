"""Registry benchmark: every registered query (or the ones named on the
command line) against its DuckDB oracle, at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default: the cores
this process may run on).

Usage: python bench.py [name ...]

A name is a registered query's full name (``q19_multi_join_revenue``) or
its short key (``q19``); an unknown name exits 2 before Spark starts.

Protocol, the same for both engines, per query in name order:
  - Spark: an untimed JVM GC, then one run in a fresh
    ``spark.newSession()``; that first run is the **cold** time. Five more
    runs follow on the same session; their median and interquartile range
    are the **warm** time.
  - DuckDB oracle, right after that query's Spark runs: a fresh connection
    with as many threads as Spark's ``defaultParallelism``; the first
    execution is cold, the median and IQR of five more are warm.
A Spark run executes the whole plan through a noop-format write, so every
projected column is materialized and final sorts run (``count()`` lets
Catalyst prune both). Before the first query an untimed join and
aggregate over ``spark.range`` warms the JVM on a throwaway session: no
registered query shares its plan, so every row's cold run stays cold.

Ratios are cold over cold and warm median over warm median. A row is in
the data-proportional maps unless ``FLOOR_CLASS`` names it or its oracle's
warm median is under ``ORACLE_FLOOR_S`` (``sub_floor``: the ratio would
compare Spark's fixed per-query cost with ~0). The one classification
serves both maps, and nothing is re-measured or re-classified after.

Output: the full record (per row: cold, warm median and IQR for both
engines, ratios, class) goes to ``bench_detail.json`` at the repo root.
stdout's last line is one compact JSON object of at most 1900 chars
(a consumer may parse only the last 2000): ``value`` is the Spark cold
total in seconds, with the warm total, the median and p90 ratio of each
map with its row count, and the per-query cold times under short keys.
The 1-minute load average at start and end is recorded; the run is
flagged ``contended_at_start`` when the start reading is over 2.0, since
any concurrent JVM inflates the times.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

import duckdb
from pyspark.sql import functions as F

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

from mb8600_clickhouse_spark.queries import all_queries  # noqa: E402
from mb8600_clickhouse_spark.session import get_spark  # noqa: E402

REPS = 5
ORACLE_FLOOR_S = 0.15
LOAD_THRESHOLD = 2.0
TAIL_WINDOW = 1900  # a consumer parses the last 2000 chars; margin for \n
TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()

# Oracles whose DuckDB formulation is super-linear in fixture size (not a
# property of the Spark side); they stay hash-verified by the correctness
# gate at sf0.01, and the bench records the reason instead of a ratio.
ORACLE_BENCH_SKIP = {
    "q68_sequence_packing": (
        "recursive-CTE oracle is O(rows x recursion depth) - 141 s of "
        "DuckDB time at sf0.1 (measured) for a 1.1 s Spark query; "
        "hash-verified at sf0.01 by the correctness gate"
    ),
}
# Rows whose ratio measures machinery, not the analytic plan:
#   stream_setup    - real Structured Streaming queries; the per-run cost
#                     is checkpoint and stream startup
#   codec           - pure-Python reference codecs (JPEG/FLAC/AVI); the
#                     oracle reads pre-extracted metadata
#   materialization - per-run physical writes are the query's semantics
#                     (manifest commits, index builds); the oracle
#                     computes the logical result with no I/O
FLOOR_CLASS: dict[str, str] = {
    "q73_stream_rollup": "stream_setup",
    "q84_stream_stream_join": "stream_setup",
    "q101_stream_dedup": "stream_setup",
    "q116_stream_curation": "stream_setup",
    "q78_jpeg_decode": "codec",
    "q80_flac_decode": "codec",
    "q81_video_decode": "codec",
    "q70_ttl_demote": "materialization",
    "q112_bloom_scan": "materialization",
    "q113_ivf_incremental": "materialization",
}


def short_key(name: str) -> str:
    return name.split("_", 1)[0]


def quantile(xs, q: float) -> float:
    """Linear interpolation between closest ranks (numpy's default)."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(xs) -> float:
    return quantile(xs, 0.5)


def iqr(xs) -> float:
    return quantile(xs, 0.75) - quantile(xs, 0.25)


def p90(xs) -> float:
    return quantile(xs, 0.9)


def resolve(args: list[str], names) -> tuple[list[str], list[str]]:
    """(selected full names, unknown args); no args selects every name."""
    by_key = {short_key(n): n for n in names}
    by_key.update({n: n for n in names})
    if not args:
        return sorted(names), []
    return [by_key[a] for a in args if a in by_key], [a for a in args if a not in by_key]


def run_to_completion(df) -> None:
    """Execute the whole plan: a noop-format write materializes every
    output column and keeps final sorts (count() would prune both)."""
    df.write.format("noop").mode("overwrite").save()


def warm_jvm(spark) -> None:
    """Class loading, codegen and the scheduler's first jobs, paid on a
    plan that is not a registered query (warming one would leave that
    query's cold row warm)."""
    s = spark.newSession()
    facts = s.range(200_000).withColumn("k", F.col("id") % 101)
    dims = s.range(101).withColumnRenamed("id", "k")
    run_to_completion(
        facts.join(dims, "k").groupBy("k").agg(F.count("*"), F.sum("id"))
    )


def measure(run) -> dict:
    """Cold: the first call; warm: median and IQR of REPS more."""
    times = []
    for _ in range(1 + REPS):
        t0 = time.perf_counter()
        run()
        times.append(time.perf_counter() - t0)
    warm = times[1:]
    return {
        "cold": round(times[0], 3),
        "warm": round(median(warm), 3),
        "iqr": round(iqr(warm), 3),
    }


def bench_query(spark, spec, sf_dir: str, threads: int) -> dict:
    spark.sparkContext._jvm.System.gc()
    session = spark.newSession()
    row = {"spark": measure(lambda: run_to_completion(spec.fn(session, sf_dir)))}
    sql = spec.oracle_for(sf_dir)
    if sql is None or spec.name in ORACLE_BENCH_SKIP:
        return row
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {threads}")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        row["oracle"] = measure(lambda: con.execute(sql).fetchall())
    finally:
        con.close()
    return row


def _stats(vals: list[float]) -> dict:
    return {
        "n": len(vals),
        "median": round(median(vals), 2) if vals else None,
        "p90": round(p90(vals), 2) if vals else None,
    }


def summarize(rows: dict[str, dict]) -> dict:
    """The detail record for measured ``rows`` ({name: {"spark": m,
    "oracle": m}}, oracle optional). Each row is classified once, and the
    cold and warm data-proportional maps hold the same rows."""
    for name, row in rows.items():
        o = row.get("oracle")
        if name in FLOOR_CLASS:
            row["class"] = FLOOR_CLASS[name]
        elif o is not None and o["warm"] < ORACLE_FLOOR_S:
            row["class"] = "sub_floor"
        if o is not None:
            row["ratio"] = {
                k: round(row["spark"][k] / o[k], 2) if o[k] > 0 else None
                for k in ("cold", "warm")
            }
    dp = [n for n, r in rows.items() if "ratio" in r and "class" not in r]
    return {
        "metric": "total_declared_query_seconds",
        "value": round(sum(r["spark"]["cold"] for r in rows.values()), 3),
        "unit": "sec",
        "action": "noop_write",
        "n_queries": len(rows),
        "warm_total": round(sum(r["spark"]["warm"] for r in rows.values()), 3),
        "ratio_data_proportional": {
            k: _stats([rows[n]["ratio"][k] for n in dp]) for k in ("cold", "warm")
        },
        "oracle_floor_s": ORACLE_FLOOR_S,
        "oracle_skipped": {n: r for n, r in ORACLE_BENCH_SKIP.items() if n in rows},
        "rows": rows,
    }


def compact_line(detail: dict) -> str:
    """One JSON object of at most TAIL_WINDOW chars: the headline numbers
    and the per-query cold times under short keys, rounded harder (and at
    last cut to the slowest 60) until it fits."""
    base = {k: v for k, v in detail.items() if k not in ("rows", "oracle_skipped", "action")}
    base["detail"] = "bench_detail.json"
    cold = {short_key(n): r["spark"]["cold"] for n, r in detail["rows"].items()}
    for nd in (2, 1):
        line = json.dumps(
            {**base, "queries": {k: round(v, nd) for k, v in cold.items()}},
            separators=(",", ":"),
        )
        if len(line) <= TAIL_WINDOW:
            return line
    top = sorted(cold.items(), key=lambda kv: -kv[1])[:60]
    return json.dumps(
        {**base, "queries_truncated_to_slowest": True,
         "queries": {k: round(v, 1) for k, v in top}},
        separators=(",", ":"),
    )


def _load1() -> float:
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:  # pragma: no cover
        return 0.0


def main(argv: list[str] | None = None) -> int:
    specs = all_queries()
    names, unknown = resolve(sys.argv[1:] if argv is None else argv, specs)
    if unknown:
        print(f"unknown queries: {' '.join(unknown)}", file=sys.stderr)
        return 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    load1_start = _load1()
    if load1_start > LOAD_THRESHOLD:
        print(
            f"# WARNING: load1 {load1_start} at start (> {LOAD_THRESHOLD}); "
            "times will be inflated - re-run uncontended",
            file=sys.stderr,
        )
    spark = get_spark("bench")
    threads = spark.sparkContext.defaultParallelism
    warm_jvm(spark)

    rows = {}
    for name in names:
        rows[name] = row = bench_query(spark, specs[name], sf_dir, threads)
        s, o = row["spark"], row.get("oracle")
        print(
            f"# {name}: spark {s['cold']:.3f}s cold, {s['warm']:.3f}s warm"
            + (f" | oracle {o['cold']:.3f}s cold, {o['warm']:.3f}s warm" if o else ""),
            file=sys.stderr,
        )

    detail = summarize(rows)
    detail.update(
        sf=float(os.path.basename(os.path.normpath(sf_dir)).removeprefix("sf")),
        cpus=threads,
        load1_at_start=load1_start,
        load1_at_end=_load1(),
        contended_at_start=load1_start > LOAD_THRESHOLD,
    )
    detail_path = _REPO / "bench_detail.json"
    detail_path.write_text(json.dumps(detail, indent=1))
    print(f"# full detail -> {detail_path}", file=sys.stderr)
    print(compact_line(detail))
    return 0


if __name__ == "__main__":
    sys.exit(main())
