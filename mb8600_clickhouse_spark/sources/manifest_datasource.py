"""Batch + streaming reads over a ManifestTable: ``format("manifest")``.

BATCH (the catalog front door): ``spark.read.format("manifest")
.load(path)`` serves the latest committed snapshot — or a pinned one
via ``option("version", N)`` (time travel) — so SQL-only users can
``createOrReplaceTempView`` / query a manifest table without ever
touching the ``ManifestTable`` Python class. Reads resolve through the
manifest exactly like ``ManifestTable.read`` (committed table schema,
snapshot isolation).

STREAMING is the Delta/Iceberg "table as a stream" idiom (SURVEY §2.I)
on top of ``plans.manifest.ManifestTable``: each committed snapshot
version is a streaming offset, and a micro-batch consumes exactly the
data files ADDED by the commits in ``(start_version, end_version]``.
Combined with the manifest epoch sink this closes the loop — a table
written exactly-once can be consumed incrementally by a downstream
query (materialized-view maintenance, the reference's implied
dashboard-rollup path re-expressed as Structured Streaming).

Scale posture: this is a full ``DataSourceStreamReader`` (NOT the
driver-side Simple variant) — planning happens on the driver by reading
tiny JSON manifests, but the DATA path is one ``InputPartition`` per
parquet file, read executor-side via pyarrow and handed to Spark as
Arrow record batches. No row ever crosses the driver; a 1000-file
backlog fans out across the cluster like any file source.

Change handling mirrors Delta's streaming source contract: ``append``
(and the epoch sink's appends) stream through; ``overwrite`` / ``delete``
/ ``update`` / ``upsert`` / ``compact`` commits RAISE by default because
their added files rewrite history (re-emitting them would duplicate
rows). ``skipChangeCommits=true`` opts into ignoring them, exactly like
Delta's option of the same name.

Options:
- ``path`` (required): table root directory;
- ``startingVersion``: first version to emit (default 0 — the whole
  table history; ``latest`` = only commits after the stream starts);
- ``skipChangeCommits``: ``true`` to silently skip non-append commits.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from ..plans.manifest import latest_version, read_manifest


def _added_files(root: str, m: dict) -> list[str]:
    """Files newly referenced by this commit. Manifests record the delta
    explicitly; for pre-``added`` manifests fall back to the set
    difference vs the parent snapshot."""
    if "added" in m:
        return m["added"]
    parent = m.get("parent")
    if parent is None:
        return m["files"]
    prior = set(read_manifest(root, parent)["files"])
    return [f for f in m["files"] if f not in prior]


@dataclass
class ParquetFilePartition(InputPartition):
    file: str


def _arrow_batches(file: str, declared_schema: StructType | None) -> Iterator:
    """Executor-side: stream a parquet file's row groups as Arrow
    batches, padded/cast to the declared table schema so files written
    BEFORE a schema evolution (missing the newer columns) still batch
    out with the full schema (nulls for absent columns). Shared by the
    batch and streaming readers."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    target = None
    if declared_schema is not None:
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(declared_schema)
    for batch in pq.ParquetFile(file).iter_batches():
        if target is None or batch.schema == target:
            yield batch
            continue
        names = set(batch.schema.names)
        cols = [
            batch.column(f.name).cast(f.type)
            if f.name in names
            else pa.nulls(batch.num_rows, f.type)
            for f in target
        ]
        yield pa.RecordBatch.from_arrays(cols, schema=target)


class ManifestBatchReader(DataSourceReader):
    """Batch scan of one committed snapshot: the manifest pins the file
    list at planning time (snapshot isolation — concurrent commits never
    change what this scan reads; vacuum keeps the same reader contract
    as Delta's), one InputPartition per parquet file, Arrow batches
    executor-side."""

    def __init__(self, options: dict, schema: StructType | None = None):
        self.root = options["path"]
        v = options.get("version")
        self.version = int(v) if v is not None else latest_version(self.root)
        if self.version is None:
            raise FileNotFoundError(f"no committed snapshot in {self.root}")
        self.declared_schema = schema

    def partitions(self) -> Sequence[InputPartition]:
        return [
            ParquetFilePartition(f)
            for f in read_manifest(self.root, self.version)["files"]
        ]

    def read(self, partition: ParquetFilePartition) -> Iterator:
        yield from _arrow_batches(partition.file, self.declared_schema)


class ManifestStreamReader(DataSourceStreamReader):
    """Offsets are manifest versions; a batch is the added files of the
    commits in ``(start, end]``, one partition per parquet file."""

    def __init__(self, options: dict, schema: StructType | None = None):
        self.root = options["path"]
        self.skip_change_commits = (
            options.get("skipchangecommits", "false").lower() == "true"
        )
        self.starting = options.get("startingversion", "0")
        self.declared_schema = schema

    def initialOffset(self) -> dict:
        if self.starting == "latest":
            latest = latest_version(self.root)
            return {"version": -1 if latest is None else latest}
        # start BEFORE startingVersion so that version itself is emitted
        return {"version": int(self.starting) - 1}

    def latestOffset(self) -> dict:
        latest = latest_version(self.root)
        return {"version": -1 if latest is None else latest}

    def partitions(
        self, start: dict, end: dict
    ) -> Sequence[InputPartition]:
        files: list[str] = []
        for v in range(start["version"] + 1, end["version"] + 1):
            m = read_manifest(self.root, v)
            if m["op"] != "append":
                if self.skip_change_commits:
                    continue
                raise ValueError(
                    f"version {v} is a {m['op']!r} commit, which rewrites "
                    "history; a streaming read cannot re-emit it without "
                    "duplicating rows. Set skipChangeCommits=true to ignore "
                    "non-append commits (Delta's contract)."
                )
            files.extend(_added_files(self.root, m))
        return [ParquetFilePartition(f) for f in files]

    def read(self, partition: ParquetFilePartition) -> Iterator:
        yield from _arrow_batches(partition.file, self.declared_schema)

    def commit(self, end: dict) -> None:
        pass


class ManifestDataSource(DataSource):
    def __init__(self, options: dict) -> None:
        super().__init__(options)
        # Pin the snapshot at instance construction, not only in
        # schema(): when a caller supplies an explicit .schema(...),
        # Spark never calls schema(), and without this pin EVERY action
        # on the planned DataFrame would re-resolve the latest version —
        # two collects of one frame could read different data (ADVICE
        # r04). Spark constructs the Python DataSource instance lazily
        # (measured: at the FIRST action when the schema is explicit, at
        # load() when schema() is consulted) and caches it in the plan,
        # so the achievable contract is: schema-inferred reads pin at
        # load(); explicit-schema reads pin at first materialization and
        # are immutable from then on. Streaming is unaffected — its
        # reader keys off `startingVersion` and advances offsets by
        # design. An empty table (no snapshot yet) stays unpinned; the
        # batch reader then raises its own clear error.
        if options.get("version") is None and "path" in options:
            latest = latest_version(options["path"])
            if latest is not None:
                options["version"] = str(latest)

    @classmethod
    def name(cls) -> str:
        return "manifest"

    def schema(self) -> StructType:
        """Planning-time schema: the manifest-committed table schema
        when recorded (authoritative under schema evolution), else the
        parquet footer of the first data file in the pinned (batch
        ``version`` option) or latest snapshot."""
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        v = self.options.get("version")
        latest = (
            int(v) if v is not None else latest_version(self.options["path"])
        )
        if latest is None:
            raise FileNotFoundError(
                f"no committed snapshot in {self.options['path']}; "
                "append at least once before reading"
            )
        # pin the snapshot NOW (load()-time): schema() runs during
        # planning, while readers are constructed lazily per action —
        # without the pin, a commit between load() and collect() would
        # leak into an already-planned batch DataFrame. (Streaming
        # ignores the pin: its offsets advance by design.)
        self.options["version"] = str(latest)
        m = read_manifest(self.options["path"], latest)
        if m.get("schema") is not None:
            return StructType.fromJson(m["schema"])
        files = m["files"]
        if not files:
            raise FileNotFoundError(
                f"latest snapshot of {self.options['path']} is empty"
            )
        return from_arrow_schema(pq.read_schema(files[0]))

    def reader(self, schema) -> ManifestBatchReader:
        return ManifestBatchReader(dict(self.options), schema)

    def streamReader(self, schema) -> ManifestStreamReader:
        return ManifestStreamReader(dict(self.options), schema)


def register(spark) -> None:
    """Make ``format("manifest")`` available in this session.

    Spark checks a new name against the ACTIVE session's sources, not
    ``spark``'s, so once the active session has registered the source
    the name reads as taken in every other session
    (DATA_SOURCE_ALREADY_EXISTS). Registered queries run on
    session-local children of the caller's session, so ``spark`` is
    made active for the registration."""
    active = spark._jvm.org.apache.spark.sql.SparkSession
    prev = active.getActiveSession()
    active.setActiveSession(spark._jsparkSession)
    try:
        spark.dataSource.register(ManifestDataSource)
    finally:
        if prev.isDefined():
            active.setActiveSession(prev.get())
        else:
            active.clearActiveSession()
