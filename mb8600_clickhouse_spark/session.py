"""SparkSession factory with the engine's standard configuration.

Local-mode testing uses ``local[N]``; at cluster scale the same settings
hold (AQE, UTC session time zone, Arrow) and the shuffle-partition count
is raised to ~2-3x total executor cores.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "mb8600_clickhouse_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Conventions (all matter for 100 TB scale and for oracle determinism):

    - ``spark.sql.session.timeZone=UTC``: the reference stores UTC
      timestamps (mb8600.py:366); the DuckDB oracle is UTC-naive.
    - AQE on: runtime coalescing, skew-join splitting, dynamic join
      strategy selection.
    - ``spark.sql.shuffle.partitions`` sized to cores locally (not the
      200 default) -- on a real cluster set ~2-3x total cores.
    - Arrow enabled: vectorized pandas interchange for Pandas UDFs.
    - nested schema pruning: array-of-struct queries (docsis channels)
      read only the struct leaves they touch.
    """
    n = cpus or DEFAULT_CPUS
    # explicit shuffle-partition choices (arg or env) are PINNED: the
    # data-proportional autosizer in tables.load_tables respects them
    explicit_sp = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "0")
    )
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_MASTER", f"local[{n}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(explicit_sp or n))
        .config("spark.graft.shuffle.pinned", "true" if explicit_sp else "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # respect the advisory size when coalescing instead of refusing
        # to go below default parallelism: small post-shuffle stages
        # collapse to few tasks (the map side keeps full parallelism, so
        # scan/hash CPU is unaffected). The advisory is sized for the
        # local fixture scale (8m: a sf0.1 window stage keeps 2-8 tasks;
        # 64m serialized q12/q55's window compute onto one core,
        # measured +40%) — on a real cluster raise it via
        # SPARK_GRAFT_ADVISORY to the standard 64-256m.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY", "8m"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # rank-limit pushdown (WindowGroupLimit) fires only when the
        # filter's limit is <= this threshold (default 1000). The LSH
        # bucket caps use max_bucket=10_000 — below the default they get
        # NO map-side limiting, so a degenerate bucket's full membership
        # would hit the window task before the cap applies. Raised so
        # every rank filter in the engine is limited map-side (the
        # pushed operator streams first-k per key after the local sort —
        # O(1) state, no memory risk).
        .config("spark.sql.optimizer.windowGroupLimitThreshold", "1048576")
        # cost-based optimizer (SURVEY §4.3): join reordering from table/
        # column stats. Stats come from ANALYZE TABLE on registered
        # tables (see analyze_tables); file-scan DataFrames fall back to
        # size-based estimates + AQE runtime re-planning.
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # INT96 (the default) is deprecated AND carries no footer
        # min/max stats, which would blind manifest-level data skipping
        # and row-group pruning on event-time columns
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def exec_profile(spark: SparkSession, sql_conf: dict[str, str]) -> SparkSession:
    """Session-local physical-execution profile for ONE query.

    ``newSession()`` shares the SparkContext (executors, scheduler,
    cached JVM) but carries its OWN SQLConf, so a query can pin planner
    settings for its action without mutating the caller's session — no
    cross-query leakage in a sequential bench/harness run, and the
    builder-level engine conventions (UTC, Arrow, WGL threshold) are
    inherited from the context's SparkConf.

    Intended use: short fixed-depth narrow plans (no joins, or bounded
    inputs) where AQE's per-exchange query-stage materialization — one
    scheduler job per exchange — is pure overhead by construction.
    Measured at sf0.1 warm (min-of-3): q92 0.65→0.34 s, q07 0.53→0.39 s,
    q98 0.58→0.43 s, q02 0.83→0.55 s.

    Scale policy: the profile is part of the QUERY, not the engine —
    operators stay profile-agnostic and the engine default (AQE on,
    skew-join, coalescing) is untouched for every plan with
    data-proportional joins. Under ``SPARK_GRAFT_MIMIC=1`` (the
    default-config certification sweep) this is a NO-OP so the
    correctness gate still proves results don't depend on any tuning.
    """
    if os.environ.get("SPARK_GRAFT_MIMIC") == "1":
        return spark
    # One session per (parent, profile), cached ON the parent: a fresh
    # newSession() per invocation pays SessionState construction and
    # cold per-session caches (table/footer probes in tables.load_tables
    # key on the session) — measured as the entire profile win given
    # back. The cache dies with the parent session object.
    cache = getattr(spark, "_graft_profiles", None)
    if cache is None:
        cache = {}
        spark._graft_profiles = cache
    key = tuple(sorted(sql_conf.items()))
    s2 = cache.get(key)
    if s2 is None:
        s2 = spark.newSession()
        for k, v in sql_conf.items():
            s2.conf.set(k, v)
        cache[key] = s2
    return s2


def truncate_lineage(df: DataFrame, eager: bool) -> DataFrame:
    """Cut ``df``'s lineage, keeping a copy that survives executor loss.

    On a single-JVM ``local`` master the executor is the driver, so a
    ``localCheckpoint`` (blocks in executor storage) is as durable as
    the process and strictly cheaper. On any other master — including
    ``local-cluster``, whose executors are separate JVMs — a lost
    executor would take its localCheckpoint blocks with it, and with
    the lineage cut they cannot be recomputed. There the frame is
    checkpointed reliably into the context's checkpoint directory, set
    to ``<warehouse>/_checkpoints`` when the deployment has not chosen
    one. ``eager`` has ``DataFrame.checkpoint``'s meaning either way.
    """
    sc = df.sparkSession.sparkContext
    if re.fullmatch(r"local(\[[^\]]*\])?", sc.master):
        return df.localCheckpoint(eager=eager)
    if sc.getCheckpointDir() is None:
        warehouse = df.sparkSession.conf.get("spark.sql.warehouse.dir")
        sc.setCheckpointDir(warehouse.rstrip("/") + "/_checkpoints")
    return df.checkpoint(eager=eager)
