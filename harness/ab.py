"""Warm time of named queries against their DuckDB oracles, with one
protocol on both sides.

Usage: python -m harness.ab [sf_dir] name [name ...]

Each query runs once untimed (warm-up: parquet footers, broadcast
builds, codegen), then 3 timed reps; the oracle likewise. Prints the
minimum of the 3 warm reps for Spark and for the oracle, and their
ratio. The Spark action is the bench's noop-format write (full
materialization, final sorts kept). DuckDB runs on as many threads as
the Spark context's ``defaultParallelism``, so both engines get the
same cores.
"""

from __future__ import annotations

import sys
import time

import duckdb

from mb8600_clickhouse_spark.queries import all_queries
from mb8600_clickhouse_spark.session import get_spark

REPS = 3


def _min_of(fn, reps: int = REPS) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.1"
    names = [a for a in args if "/" not in a]
    specs = all_queries()
    unknown = [n for n in names if n not in specs]
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2

    spark = get_spark("ab")
    con = duckdb.connect()
    con.execute(f"SET threads TO {spark.sparkContext.defaultParallelism}")
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    rows = []
    for name in names:
        spec = specs[name]
        noop(spec.fn(spark, sf_dir))  # warm-up, untimed
        s = _min_of(lambda: noop(spec.fn(spark, sf_dir)))
        sql = spec.oracle_for(sf_dir)
        if sql is not None:
            con.execute(sql).fetchall()  # warm-up
            o = _min_of(lambda: con.execute(sql).fetchall())
        else:
            o = float("nan")
        r = s / o if o == o and o > 0 else float("nan")
        rows.append((name, s, o, r))
        print(f"{name}: spark={s:.3f}s oracle={o:.3f}s ratio={r:.2f}x")
    worst = [n for n, _, _, r in rows if r == r and r > 2.0]
    print(f"\n>2x warm: {worst if worst else 'none'}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
