"""Table loading + temp-view registration for the driver fixtures.

All reads use the explicit schemas from ``schemas.py`` (no inference,
SURVEY.md §1.3). The ``docsis`` table is the repo-generated fixture
(``datagen.py``) matched to the requested scale factor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .datagen import docsis_path_for
from .schemas import FIXTURE_SCHEMAS


def pin_session_confs(spark: SparkSession) -> None:
    """Runtime confs every query depends on, set defensively because the
    caller may hand us an arbitrarily-configured session:

    - UTC session time zone: fixtures are UTC-naive parquet and the DuckDB
      oracle truncates dates/hours in naive time (SURVEY.md §7.3.1).
    - ANSI off: bad input data degrades to NULL (then ``coalesce``), the
      engine's documented improvement over the reference's int(None) crash
      (mb8600.py:404-410); Spark 4 defaults ANSI on.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    # events.parquet carries TIMESTAMP(NANOS) which the Parquet reader
    # rejects; read as raw nanos and convert (see load_tables).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


_FIXTURE_BYTES: dict[str, int] = {}


def _fixture_bytes(sf_dir: str) -> int:
    """Total parquet bytes for a scale factor: the driver fixtures under
    ``sf_dir`` plus the repo-local docsis fixture if already generated
    (os.stat only — no data reads; memoized per dir)."""
    import os

    cached = _FIXTURE_BYTES.get(sf_dir)
    if cached is not None:
        return cached
    total = 0
    for root, _, files in os.walk(sf_dir):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet")
        )
    sf = os.path.basename(os.path.normpath(sf_dir))
    ddir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data", sf
    )
    if os.path.isdir(ddir):
        for r, _, files in os.walk(ddir):
            total += sum(
                os.path.getsize(os.path.join(r, f))
                for f in files
                if f.endswith(".parquet")
            )
    _FIXTURE_BYTES[sf_dir] = total
    return total


def _events_ts_is_nanos(path: str) -> bool:
    """Probe the parquet footer for events.ts's physical unit. Driver
    fixture generations differ (TIMESTAMP(NANOS) vs MICROS); the NANOS
    form needs the raw-int64 read below, the MICROS form reads natively.
    Footer-only read: no data pages touched."""
    import glob
    import os

    import pyarrow.parquet as pq

    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            return False
        path = parts[0]
    try:
        return "ns" in str(pq.read_schema(path).field("ts").type)
    except KeyError:
        # schema has no `ts` field — definitionally not a nanos ts;
        # genuine IO/footer errors propagate so a broken fixture fails
        # loudly instead of silently mis-routing to the native read
        return False


def _build_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "docsis":
        return spark.read.parquet(docsis_path_for(sf_dir))
    schema = FIXTURE_SCHEMAS[name]
    if name == "events" and _events_ts_is_nanos(f"{sf_dir}/{name}.parquet"):
        # ts is parquet TIMESTAMP(NANOS): read as raw int64 nanos and
        # truncate to microseconds — exactly what DuckDB's reader does,
        # so oracle comparisons see identical instants. (Fixture
        # generations vary: some rounds write NANOS, some MICROS —
        # probe the footer rather than assume.)
        ns_schema = T.StructType(
            [
                T.StructField(f.name, T.LongType() if f.name == "ts" else f.dataType)
                for f in schema.fields
            ]
        )
        raw = spark.read.schema(ns_schema).parquet(f"{sf_dir}/{name}.parquet")
        # integer `div`, not `/`: ns values (~1.7e18) exceed double's
        # 2^53 exact-integer range, so float division is off by ulps
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return spark.read.schema(schema).parquet(f"{sf_dir}/{name}.parquet")


class LazyTables(dict):
    """name -> DataFrame mapping that builds each scan ON ACCESS.

    Building a parquet DataFrame costs a footer-probing py4j round-trip
    (~25 ms); the eager loop built all 11 fixture tables for every query
    (~0.27 s of plan-build per query at sf0.1 — profiled as the single
    largest build item for queries that touch one table). Most queries
    read 1-2 tables. Entries are plain lazy scans, immutable and
    session-lifetime, so instances are also memoized per
    (session, sf_dir) in ``load_tables``."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        super().__init__()
        self._spark = spark
        self._sf_dir = sf_dir

    def __missing__(self, name: str) -> DataFrame:
        df = _build_table(self._spark, self._sf_dir, name)
        self[name] = df
        return df

    def force(self) -> "LazyTables":
        """Materialize every entry (register_views / bench warmup)."""
        for name in list(FIXTURE_SCHEMAS) + ["docsis"]:
            self[name]
        return self

    def values(self):  # bench warms all tables via values()
        return dict.values(self.force())

    def items(self):
        return dict.items(self.force())


_TABLE_CACHE: dict[tuple[int, str], LazyTables] = {}


def load_tables(spark: SparkSession, sf_dir: str) -> LazyTables:
    """Fixture tables under ``sf_dir`` plus the repo docsis fixture, as a
    lazy, per-(session, sf_dir) memoized mapping of parquet scans.
    Holding the session reference inside the cached value keeps ``id``
    reuse impossible while an entry is alive."""
    pin_session_confs(spark)  # every call: callers rely on the re-pin
    key = (id(spark), sf_dir)
    cached = _TABLE_CACHE.get(key)
    if cached is not None and cached._spark is spark:
        return cached
    tables = LazyTables(spark, sf_dir)
    _TABLE_CACHE[key] = tables
    return tables


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the SQL API path)."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables


def analyze_tables(
    spark: SparkSession, sf_dir: str, columns: dict[str, list[str]] | None = None
) -> list[str]:
    """Register fixture parquet dirs as EXTERNAL catalog tables and run
    ``ANALYZE TABLE ... COMPUTE STATISTICS`` so the CBO (enabled in
    session.py, SURVEY §4.3) has real row counts / NDVs for join
    reordering — path-scan DataFrames only get size-based estimates.

    ``columns`` optionally maps table -> columns for column-level stats
    (NDV/min/max); default is table-level stats only (cheap). Returns
    the catalog table names created (``stats_<name>``). Temp-view and
    DataFrame code paths are unaffected; this is the deployment-scale
    hook (a real installation re-ANALYZEs after each compaction)."""
    created: list[str] = []
    for name in FIXTURE_SCHEMAS:
        tbl = f"stats_{name}"
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(
            f"CREATE TABLE {tbl} USING parquet LOCATION '{sf_dir}/{name}.parquet'"
        )
        spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS")
        for col in (columns or {}).get(name, []):
            spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS FOR COLUMNS {col}")
        created.append(tbl)
    return created
