"""SparkSession factory with the engine's standard configuration, and
the execution policy every registered query runs under.

Local-mode testing uses ``local[N]``; at cluster scale the same settings
hold (AQE, UTC session time zone, Arrow). Shuffle width is not a
deployment constant: ``exec_profile`` derives it per query from the
input size (see there).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from .tables import pin_session_confs



def default_cpus(environ=os.environ) -> int:
    """``SPARK_GRAFT_CPUS`` when set, else the cores this process may
    run on (what ``nproc`` counts)."""
    return int(environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def default_driver_memory(mem_total_bytes: int) -> str:
    """The driver heap for a host with ``mem_total_bytes`` of RAM: half
    of it, in whole MiB. The other half stays with what the heap does
    not hold: the JVM's off-heap and metaspace, the Python workers and
    the page cache the parquet scans read through."""
    return f"{mem_total_bytes // 2 >> 20}m"


DEFAULT_CPUS = default_cpus()


def get_spark(
    app_name: str = "mb8600_clickhouse_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Conventions (all matter for 100 TB scale and for oracle determinism):

    - ``spark.sql.session.timeZone=UTC``: the reference stores UTC
      timestamps (mb8600.py:366); the DuckDB oracle is UTC-naive.
    - AQE on: runtime coalescing, skew-join splitting, dynamic join
      strategy selection.
    - ``spark.sql.shuffle.partitions`` = cores (not the 200 default):
      the width of plans run outside the registry; registered queries
      get theirs from ``exec_profile``.
    - Arrow enabled: vectorized pandas interchange for Pandas UDFs.
    - nested schema pruning: array-of-struct queries (docsis channels)
      read only the struct leaves they touch.
    - streaming checkpoint logs (offsets, commits, file-source log) go
      through the Hadoop FileSystem API, not FileContext. Without the
      native ``libhadoop`` (pip-installed PySpark ships none) the local
      filesystem forks a ``chmod``/``readlink`` child for every
      permission set and link check. On 4 cores one log write took
      32-35 ms and ~20 child processes under FileContext, 7.4 ms and ~4
      under FileSystem, and each micro-batch makes three. The logs are
      written with overwrite off and renamed into place; the rename is
      atomic on POSIX local disks and on HDFS, and FileContext's local
      path is check-then-rename as well, so no commit guarantee is
      lost. ``fs.file.impl=RawLocalFileSystem`` would save a further
      ~6 ms a batch but drops the ``.crc`` sidecars and with them
      Hadoop's read-side checksum verification, so it is not set.
    """
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_MASTER", f"local[{n}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
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
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY")
            # the host's RAM, as /proc/meminfo's MemTotal counts it
            or default_driver_memory(
                os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _parse_bytes(s: str) -> int:
    """'8m' / '64k' / '1g' / '1048576' -> bytes (Spark conf size syntax,
    the subset the engine sets)."""
    s = s.strip().lower().removesuffix("b")
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}.get(s[-1], 1)
    return int(s[:-1] if s[-1] in "kmg" else s) * mult


def exec_profile(spark: SparkSession, input_bytes: int) -> SparkSession:
    """The session a query's plan executes on, chosen from its input size.

    The engine's one execution policy: ``p = clamp(ceil(input_bytes /
    advisory), 1, 4 x defaultParallelism)`` shuffle partitions, where
    ``advisory`` is the caller's
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes``. Below the cap
    AQE is off: on a small input AQE's per-exchange query-stage
    materialization (one scheduler job per exchange) costs more than
    its runtime re-planning recovers. Once the cap binds, AQE is on (the
    engine default): runtime coalescing and skew-join splitting are what
    a large input needs. Where between the two AQE starts to pay is not
    settled; the cap is the switch point until a measurement moves it
    (ROADMAP.md, open item 3).

    The profile lives on a ``newSession()`` child, which shares the
    SparkContext (executors, scheduler, JVM) but carries its own
    SQLConf, so the caller's session is never written to and concurrent
    queries on it cannot change each other's shuffle width. Children
    are cached on the caller, one per partition count: a fresh session
    per query would pay SessionState construction and cold per-session
    caches every time. Each child carries ``tables.pin_session_confs``
    from creation. Under ``SPARK_GRAFT_MIMIC=1`` (the default-config
    certification sweep) the caller is returned unchanged, so the
    correctness gate proves results do not depend on the policy.
    """
    if os.environ.get("SPARK_GRAFT_MIMIC") == "1":
        return spark
    advisory = _parse_bytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    cap = 4 * spark.sparkContext.defaultParallelism
    p = min(max(-(-input_bytes // advisory), 1), cap)
    cache = getattr(spark, "_graft_profiles", None)
    if cache is None:
        cache = spark._graft_profiles = {}
    child = cache.get(p)
    if child is None:
        child = spark.newSession()
        pin_session_confs(child)
        child.conf.set("spark.sql.shuffle.partitions", str(p))
        child.conf.set("spark.sql.adaptive.enabled", str(p == cap).lower())
        cache[p] = child
    return child


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
