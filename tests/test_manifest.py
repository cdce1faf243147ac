"""ManifestTable: atomic snapshot commits over plain parquet — the
engine's stand-in for a transactional table format (SURVEY §1.1/§4.2;
Delta/Iceberg jars are unavailable in this container)."""

from __future__ import annotations

import json

from pyspark.sql import Row

from mb8600_clickhouse_spark.plans import ManifestTable


def _df(spark, lo, hi):
    return spark.createDataFrame([Row(k=i, v=f"row{i}") for i in range(lo, hi)])


def _keys(df):
    return sorted(r["k"] for r in df.collect())


class TestCommitProtocol:
    def test_append_then_read(self, spark, tmp_path):
        t = ManifestTable(str(tmp_path / "t"))
        assert t.append(_df(spark, 0, 5)) == 0
        assert t.append(_df(spark, 5, 8)) == 1
        assert _keys(t.read(spark)) == list(range(8))

    def test_overwrite_replaces_snapshot(self, spark, tmp_path):
        t = ManifestTable(str(tmp_path / "t"))
        t.append(_df(spark, 0, 5))
        t.overwrite(_df(spark, 100, 103))
        assert _keys(t.read(spark)) == [100, 101, 102]

    def test_time_travel(self, spark, tmp_path):
        t = ManifestTable(str(tmp_path / "t"))
        v0 = t.append(_df(spark, 0, 3))
        t.overwrite(_df(spark, 10, 12))
        assert _keys(t.read(spark, version=v0)) == [0, 1, 2]
        assert _keys(t.read(spark)) == [10, 11]

    def test_to_view_sql_front_door(self, spark, tmp_path):
        """to_view registers a snapshot for spark.sql; the view is a
        fixed snapshot, and a version pin gives time-travel SQL."""
        t = ManifestTable(str(tmp_path / "t"))
        v0 = t.append(_df(spark, 0, 3))
        t.to_view(spark, "mt_live")
        assert spark.sql("SELECT count(*) AS n FROM mt_live").first()["n"] == 3
        t.overwrite(_df(spark, 10, 15))
        # registration-time snapshot: stale until re-registered
        assert spark.sql("SELECT count(*) AS n FROM mt_live").first()["n"] == 3
        t.to_view(spark, "mt_live")
        assert spark.sql("SELECT count(*) AS n FROM mt_live").first()["n"] == 5
        t.to_view(spark, "mt_v0", version=v0)
        assert spark.sql("SELECT min(k) AS k FROM mt_v0").first()["k"] == 0

    def test_uncommitted_write_invisible(self, spark, tmp_path):
        """A writer that dies after writing data files but before the
        manifest link leaves the table exactly as it was — the
        concurrent-reader-during-compaction hazard closed."""
        t = ManifestTable(str(tmp_path / "t"))
        t.append(_df(spark, 0, 4))
        t._write_data_files(_df(spark, 50, 60))  # orphaned: never committed
        assert _keys(t.read(spark)) == [0, 1, 2, 3]

    def test_commit_race_retries_to_next_version(self, spark, tmp_path):
        """Losing the exclusive-create race must re-read and land on the
        next free version with BOTH writers' rows visible (append
        semantics merge file lists)."""
        t = ManifestTable(str(tmp_path / "t"))
        t.append(_df(spark, 0, 2))
        # simulate a concurrent committer claiming v1 between our read
        # of latest() and our link(): pre-create v1 referencing new data
        rival_files = t._write_data_files(_df(spark, 90, 92))
        rival = {
            "version": 1,
            "parent": 0,
            "op": "append",
            "files": t.snapshot_files(0) + rival_files,
        }
        t._manifest_path(1).write_text(json.dumps(rival))
        v = t.append(_df(spark, 2, 4))
        assert v == 2
        assert _keys(t.read(spark)) == [0, 1, 2, 3, 90, 91]

    def test_compact_is_metadata_swap(self, spark, tmp_path):
        t = ManifestTable(str(tmp_path / "t"))
        for i in range(4):
            t.append(_df(spark, i * 2, i * 2 + 2))
        before_files = len(t.snapshot_files())
        want = _keys(t.read(spark))
        t.compact(spark, sort_cols=["k"])
        assert len(t.snapshot_files()) < before_files
        assert _keys(t.read(spark)) == want
        # pre-compaction snapshot still readable (no destructive window)
        assert _keys(t.read(spark, version=3)) == want

    def test_exactly_once_epoch_sink(self, spark, tmp_path):
        """A replayed foreachBatch epoch must be a no-op: the manifest
        ledger already holds it, so no duplicate rows and no fencing
        column needed on read."""
        from mb8600_clickhouse_spark.plans import ManifestTable
        from mb8600_clickhouse_spark.streaming.ingest import manifest_epoch_sink

        path = str(tmp_path / "stream_t")
        sink = manifest_epoch_sink(path)
        sink(_df(spark, 0, 3), epoch_id=0)
        sink(_df(spark, 3, 5), epoch_id=1)
        sink(_df(spark, 3, 5), epoch_id=1)  # replay after crash
        t = ManifestTable(path)
        assert _keys(t.read(spark)) == [0, 1, 2, 3, 4]
        assert t.committed_epochs() == {0, 1}

    def test_delete_where_copy_on_write(self, spark, tmp_path):
        t = ManifestTable(str(tmp_path / "t"))
        t.append(_df(spark, 0, 6))
        v = t.delete_where(spark, "k % 2 = 0")
        assert _keys(t.read(spark)) == [1, 3, 5]
        assert _keys(t.read(spark, version=v - 1)) == list(range(6))  # time travel intact

    def test_update_where_copy_on_write(self, spark, tmp_path):
        t = ManifestTable(str(tmp_path / "t"))
        t.append(_df(spark, 0, 4))
        v = t.update_where(spark, "k >= 2", {"v": "concat(v, '!')", "k": "k + 10"})
        rows = {r["k"]: r["v"] for r in t.read(spark).collect()}
        assert rows == {0: "row0", 1: "row1", 12: "row2!", 13: "row3!"}
        # assignments see the PRE-update row; prior version time-travels
        assert _keys(t.read(spark, version=v - 1)) == [0, 1, 2, 3]

    def test_upsert_replaces_and_inserts(self, spark, tmp_path):
        t = ManifestTable(str(tmp_path / "t"))
        t.append(_df(spark, 0, 4))
        src = spark.createDataFrame(
            [Row(k=2, v="UPDATED"), Row(k=99, v="NEW")]
        )
        t.upsert(spark, src, ["k"])
        rows = {r["k"]: r["v"] for r in t.read(spark).collect()}
        assert rows == {0: "row0", 1: "row1", 2: "UPDATED", 3: "row3", 99: "NEW"}

    def test_vacuum_drops_unreferenced(self, spark, tmp_path):
        t = ManifestTable(str(tmp_path / "t"))
        t.append(_df(spark, 0, 4))
        t.overwrite(_df(spark, 10, 12))
        deleted = t.vacuum(keep_versions=1)
        assert deleted  # v0's files gone
        assert _keys(t.read(spark)) == [10, 11]
        assert not t._manifest_path(0).exists()  # old manifest dropped


class TestNoSuccessMarker:
    """The manifest commit is the table's success marker: data-file
    writes leave no ``_SUCCESS`` in their txn directories."""

    def test_append_and_compact(self, spark, tmp_path):
        t = ManifestTable(str(tmp_path / "t"))
        t.append(_df(spark, 0, 5))
        t.append(_df(spark, 5, 9))
        before = _keys(t.read(spark))
        t.compact(spark, sort_cols=["k"], n_files=2)
        assert _keys(t.read(spark)) == before == list(range(9))
        txns = list((tmp_path / "t" / "data").glob("txn_*"))
        assert len(txns) == 3
        assert all(any(d.glob("*.parquet")) for d in txns)
        assert not list((tmp_path / "t").rglob("*_SUCCESS*"))


class TestCommitBackend:
    """The pluggable commit primitive: the whole protocol runs through
    CommitBackend.put_if_absent, so an object-store deployment only
    supplies a conditional write — proven here with a fake that
    implements S3-style PUT-if-absent semantics (plus a racing variant
    that exercises the optimistic retry deterministically)."""

    class _ConditionalPut:
        """S3 `If-None-Match: *` semantics over the local fs: the PUT
        succeeds iff the key does not exist. Serialized like a single
        object-store endpoint; records every call for assertions."""

        def __init__(self):
            self.calls = []

        def put_if_absent(self, path, payload):
            self.calls.append(path.name)
            if path.exists():
                return False  # 412 PreconditionFailed
            path.write_text(payload)
            return True

    def test_protocol_runs_on_conditional_put(self, spark, tmp_path):
        from mb8600_clickhouse_spark.plans import manifest as mf

        be = self._ConditionalPut()
        t = mf.ManifestTable(str(tmp_path / "t"), backend=be)
        assert t.append(_df(spark, 0, 3)) == 0
        assert t.append(_df(spark, 3, 5)) == 1
        t.compact(spark, sort_cols=["k"])
        assert _keys(t.read(spark)) == list(range(5))
        assert be.calls == ["v0.json", "v1.json", "v2.json"]

    def test_lost_put_race_retries_to_next_version(self, spark, tmp_path):
        """A backend-level loss (concurrent committer claimed the key)
        must re-read and land on the next version with both writers'
        rows — the retry loop is backend-agnostic."""
        import json as _json

        from mb8600_clickhouse_spark.plans import manifest as mf

        outer = self

        class _RacedOnce(self._ConditionalPut):
            def __init__(self, table_ref):
                super().__init__()
                self.table_ref = table_ref
                self.raced = False

            def put_if_absent(self, path, payload):
                if not self.raced and path.name == "v1.json":
                    self.raced = True
                    # rival lands v1 first, with its own data
                    t = self.table_ref()
                    rival_files = t._write_data_files(_df(outer._spark, 90, 92))
                    path.write_text(_json.dumps({
                        "version": 1, "parent": 0, "op": "append",
                        "files": t.snapshot_files(0) + rival_files,
                        "added": rival_files,
                    }))
                return super().put_if_absent(path, payload)

        holder = {}
        be = _RacedOnce(lambda: holder["t"])
        t = mf.ManifestTable(str(tmp_path / "t"), backend=be)
        holder["t"] = mf.ManifestTable(str(tmp_path / "t"))  # rival handle
        self._spark = spark
        t.append(_df(spark, 0, 2))
        v = t.append(_df(spark, 2, 4))
        assert v == 2
        assert _keys(t.read(spark)) == [0, 1, 2, 3, 90, 91]


class TestDataSkipping:
    """Manifest-level file pruning from footer min/max stats — the
    Iceberg/Delta data-skipping idiom: a filtered scan drops provably
    non-matching files before Spark plans them."""

    def _table(self, spark, tmp_path):
        import datetime as dt

        t = ManifestTable(str(tmp_path / "t"))
        for lo in (0, 100, 200):  # three commits, disjoint k-ranges
            t.append(
                spark.createDataFrame(
                    [
                        Row(
                            k=i,
                            v=f"row{i}",
                            ts=dt.datetime(2026, 1, 1) + dt.timedelta(hours=i),
                        )
                        for i in range(lo, lo + 10)
                    ]
                )
            )
        return t

    def test_stats_recorded_per_file(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        m = json.loads(t._manifest_path(t.latest_version()).read_text())
        assert set(m["stats"]) == set(m["files"])
        ks = sorted(s["k"] for s in m["stats"].values())
        assert ks[0][0] == 0 and ks[-1][1] == 209
        # string and timestamp stats present too
        from mb8600_clickhouse_spark.plans import manifest as _mf

        some = next(iter(m["stats"].values()))
        assert set(some) - {_mf.NULLS_KEY} == {"k", "v", "ts"}
        # null counts recorded per column: this fixture has no nulls
        assert some[_mf.NULLS_KEY] == {"k": 0, "v": 0, "ts": 0}

    def test_prune_drops_nonmatching_files(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        all_files = t.snapshot_files()
        pruned = t.prune_files([("k", ">=", 200)])
        assert 0 < len(pruned) < len(all_files)
        # equality far outside every range prunes everything
        assert t.prune_files([("k", "=", 999)]) == []

    def test_scan_equals_unpruned_filter(self, spark, tmp_path):
        import datetime as dt

        t = self._table(spark, tmp_path)
        for preds, sql in [
            ([("k", ">=", 200)], "k >= 200"),
            ([("k", "<", 5)], "k < 5"),
            ([("k", ">", 100), ("k", "<=", 105)], "k > 100 AND k <= 105"),
            ([("v", "=", "row104")], "v = 'row104'"),
            ([("ts", "<", dt.datetime(2026, 1, 1, 3))], "ts < '2026-01-01 03:00:00'"),
        ]:
            got = _keys(t.scan(spark, preds))
            want = _keys(t.read(spark).filter(sql))
            assert got == want, preds

    def test_all_pruned_scan_is_empty_with_schema(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        out = t.scan(spark, [("k", "=", 999)])
        assert out.count() == 0
        assert out.columns == t.read(spark).columns

    def test_stats_survive_delete_and_compact(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        t.delete_where(spark, "k >= 100 AND k < 200")
        assert _keys(t.scan(spark, [("k", ">=", 200)])) == list(range(200, 210))
        t.compact(spark, sort_cols=["k"])
        m = json.loads(t._manifest_path(t.latest_version()).read_text())
        assert set(m["stats"]) == set(m["files"])  # rewritten files re-statted
        assert _keys(t.scan(spark, [("k", "<", 10)])) == list(range(10))


class TestAddFilesForeign:
    """add_files: parquet written by a FOREIGN engine (DuckDB — its own
    footers, stats, encodings) registered without a byte rewritten; the
    write-side twin of the q122 foreign read."""

    @staticmethod
    def _duckdb_files(tmp_path, ranges):
        import duckdb

        con = duckdb.connect()
        files = []
        for i, (lo, hi) in enumerate(ranges):
            f = str(tmp_path / f"duck_{i}.parquet")
            con.execute(
                f"COPY (SELECT r AS k, 'row' || CAST(r AS VARCHAR) AS v "
                f"FROM range({lo}, {hi}) t(r)) TO '{f}' (FORMAT PARQUET)"
            )
            files.append(f)
        con.close()
        return files

    def test_foreign_files_read_back(self, spark, tmp_path):
        files = self._duckdb_files(tmp_path, [(0, 5), (5, 9)])
        t = ManifestTable(str(tmp_path / "t"))
        v = t.add_files(spark, files)
        assert v == 0
        assert _keys(t.read(spark)) == list(range(9))
        m = json.loads(t._manifest_path(v).read_text())
        assert m["op"] == "append" and m["ingest"] == "foreign"

    def test_foreign_footer_stats_prune(self, spark, tmp_path):
        # data skipping must work off DUCKDB's footers: the file whose
        # k-range cannot match is dropped before Spark plans the scan
        files = self._duckdb_files(tmp_path, [(0, 100), (100, 200), (200, 300)])
        t = ManifestTable(str(tmp_path / "t"))
        t.add_files(spark, files)
        m = json.loads(t._manifest_path(0).read_text())
        assert set(m["stats"]) == set(m["files"])
        assert all("k" in s and "v" in s for s in m["stats"].values())
        pruned = t.prune_files([("k", ">=", 200)])
        assert len(pruned) == 1
        assert _keys(t.scan(spark, [("k", "<", 3)])) == [0, 1, 2]
        assert t.prune_files([("k", "=", 999)]) == []

    def test_mixed_native_and_foreign_snapshot(self, spark, tmp_path):
        files = self._duckdb_files(tmp_path, [(0, 10)])
        t = ManifestTable(str(tmp_path / "t"))
        t.append(_df(spark, 10, 20))            # native Spark write
        t.add_files(spark, files)               # foreign DuckDB files
        assert _keys(t.read(spark)) == list(range(20))
        # skipping still sound across mixed footers
        assert _keys(t.scan(spark, [("k", ">=", 15)])) == list(range(15, 20))
        assert _keys(t.scan(spark, [("k", "<", 5)])) == list(range(5))

    def test_bloom_over_foreign_files(self, spark, tmp_path):
        files = self._duckdb_files(tmp_path, [(0, 50), (50, 100)])
        t = ManifestTable(str(tmp_path / "t"))
        t.add_files(spark, files)
        t.build_bloom(spark, ["v"])
        m = json.loads(t._manifest_path(t.latest_version()).read_text())
        assert set(m["bloom"]) == set(m["files"])
        hit = t.prune_files([("v", "=", "row7")])
        assert len(hit) == 1  # bloom narrows to the one file holding it

    def test_foreign_schema_contract(self, spark, tmp_path):
        import duckdb
        import pytest

        from mb8600_clickhouse_spark.plans.manifest import SchemaMismatch

        t = ManifestTable(str(tmp_path / "t"))
        t.append(_df(spark, 0, 3))
        con = duckdb.connect()
        bad = str(tmp_path / "bad.parquet")
        con.execute(
            f"COPY (SELECT 'oops' AS k, 'x' AS v) TO '{bad}' (FORMAT PARQUET)"
        )
        extra = str(tmp_path / "extra.parquet")
        con.execute(
            f"COPY (SELECT CAST(99 AS BIGINT) AS k, 'x' AS v, 1.5 AS score) "
            f"TO '{extra}' (FORMAT PARQUET)"
        )
        con.close()
        with pytest.raises(SchemaMismatch):
            t.add_files(spark, [bad])           # type change
        with pytest.raises(SchemaMismatch):
            t.add_files(spark, [extra])         # new column w/o opt-in
        t.add_files(spark, [extra], merge_schema=True)
        rows = {r["k"]: r["score"] for r in t.read(spark).collect()}
        assert rows[99] == 1.5 and rows[0] is None


class TestSchemaEvolution:
    """Delta's append contract: subset appends fill nulls, new columns
    need merge_schema=True, type changes always raise, and every read
    path (read/scan/stream) serves the evolved schema."""

    def test_new_column_requires_opt_in(self, spark, tmp_path):
        import pytest

        from mb8600_clickhouse_spark.plans import SchemaMismatch

        t = ManifestTable(str(tmp_path / "t"))
        t.append(_df(spark, 0, 3))
        with pytest.raises(SchemaMismatch, match="merge_schema=True"):
            t.append(spark.createDataFrame([Row(k=3, v="x", extra=1.5)]))

    def test_merge_schema_evolves_and_backfills_null(self, spark, tmp_path):
        t = ManifestTable(str(tmp_path / "t"))
        t.append(_df(spark, 0, 2))
        t.append(
            spark.createDataFrame([Row(k=2, v="row2", extra=1.5)]),
            merge_schema=True,
        )
        got = {r["k"]: (r["v"], r["extra"]) for r in t.read(spark).collect()}
        assert got == {0: ("row0", None), 1: ("row1", None), 2: ("row2", 1.5)}
        assert [f.name for f in t.read(spark).schema.fields] == ["k", "v", "extra"]

    def test_subset_append_fills_null(self, spark, tmp_path):
        t = ManifestTable(str(tmp_path / "t"))
        t.append(spark.createDataFrame([Row(k=0, v="a", extra=9.0)]))
        t.append(spark.createDataFrame([Row(k=1, v="b")]))  # no extra: fine
        got = {r["k"]: r["extra"] for r in t.read(spark).collect()}
        assert got == {0: 9.0, 1: None}

    def test_type_change_always_raises(self, spark, tmp_path):
        import pytest

        from mb8600_clickhouse_spark.plans import SchemaMismatch

        t = ManifestTable(str(tmp_path / "t"))
        t.append(_df(spark, 0, 2))
        with pytest.raises(SchemaMismatch, match="column 'k'"):
            t.append(
                spark.createDataFrame([Row(k="not-an-int", v="x")]),
                merge_schema=True,
            )

    def test_scan_serves_evolved_schema(self, spark, tmp_path):
        t = ManifestTable(str(tmp_path / "t"))
        t.append(_df(spark, 0, 3))
        t.append(
            spark.createDataFrame([Row(k=50, v="new", extra=2.0)]),
            merge_schema=True,
        )
        out = t.scan(spark, [("k", "<", 10)])
        assert "extra" in out.columns
        assert sorted(r["k"] for r in out.collect()) == [0, 1, 2]


class TestExpire:
    """Retention TTL: stats classify every file as wholly-dead (dropped
    metadata-only), wholly-live (carried over untouched), or straddling
    (the only rewrites)."""

    def _table(self, spark, tmp_path):
        import datetime as dt

        t = ManifestTable(str(tmp_path / "t"))
        for lo in (0, 10, 20):  # one FILE per band (coalesce) so the
            # cutoff classifies: band1 dead, band2 straddling, band3 live
            t.append(
                spark.createDataFrame(
                    [
                        Row(k=i, ts=dt.datetime(2026, 1, 1) + dt.timedelta(hours=i))
                        for i in range(lo, lo + 10)
                    ]
                ).coalesce(1)
            )
        return t

    def test_expire_classifies_files(self, spark, tmp_path):
        import datetime as dt

        t = self._table(spark, tmp_path)
        before = set(t.snapshot_files())
        # cutoff inside the middle band: band 1 dead, band 3 live
        out = t.expire(spark, "ts", dt.datetime(2026, 1, 1, 15))
        assert out["dropped"] >= 1 and out["kept"] >= 1 and out["rewritten"] >= 1
        after = set(t.snapshot_files())
        assert _keys(t.read(spark)) == list(range(15, 30))
        # wholly-live files carried over by path (no rewrite)
        assert after & before
        # wholly-dead files gone from the snapshot
        assert not {f for f in before if f not in after} <= after

    def test_expire_exact_boundary_rows(self, spark, tmp_path):
        import datetime as dt

        t = self._table(spark, tmp_path)
        t.expire(spark, "ts", dt.datetime(2026, 1, 1, 10))  # == band-2 min
        assert _keys(t.read(spark)) == list(range(10, 30))

    def test_null_ts_rows_survive_regardless_of_file_layout(self, spark, tmp_path):
        """Row-level TTL must be layout-independent: a NULL ts never
        expires (SQL `ts < cutoff` is no-match for NULL), whether the
        null-ts row sits in an otherwise-dead, straddling, or live file.
        Before the NULLS_KEY wiring, a dead-by-min/max file was dropped
        wholesale (deleting its null-ts rows) while a straddler's
        `ts >= cutoff` rewrite also dropped them — both wrong."""
        import datetime as dt

        from pyspark.sql.types import (
            IntegerType,
            StructField,
            StructType,
            TimestampType,
        )

        schema = StructType(
            [StructField("k", IntegerType()), StructField("ts", TimestampType())]
        )
        base = dt.datetime(2026, 1, 1)
        t = ManifestTable(str(tmp_path / "t"))
        # file A: all ts < cutoff by min/max, PLUS a null-ts row -> must
        # be rewritten, keeping only the null row
        t.append(
            spark.createDataFrame(
                [(i, base + dt.timedelta(hours=i)) for i in range(5)]
                + [(100, None)],
                schema,
            ).coalesce(1)
        )
        # file B: straddles the cutoff, PLUS a null-ts row
        t.append(
            spark.createDataFrame(
                [(i, base + dt.timedelta(hours=i)) for i in range(8, 14)]
                + [(101, None)],
                schema,
            ).coalesce(1)
        )
        # file C: wholly live, PLUS a null-ts row
        t.append(
            spark.createDataFrame(
                [(i, base + dt.timedelta(hours=i)) for i in range(20, 25)]
                + [(102, None)],
                schema,
            ).coalesce(1)
        )
        # file D: wholly dead, zero nulls -> metadata-only drop
        t.append(
            spark.createDataFrame(
                [(i + 50, base + dt.timedelta(hours=i)) for i in range(3)], schema
            ).coalesce(1)
        )
        out = t.expire(spark, "ts", base + dt.timedelta(hours=10))
        assert out["dropped"] == 1  # only file D is provably all-dead
        got = _keys(t.read(spark))
        assert got == [10, 11, 12, 13] + list(range(20, 25)) + [100, 101, 102]

    def test_unknown_null_count_forces_rewrite(self, spark, tmp_path):
        """A manifest whose stats lack NULLS_KEY (pre-upgrade manifests)
        must treat dead-by-min/max files as straddlers: correctness over
        the metadata-only fast path."""
        import datetime as dt

        t = self._table(spark, tmp_path)
        # strip null counts from the latest manifest, as an old writer
        # would have left it
        from mb8600_clickhouse_spark.plans import manifest as _mf

        v = t.latest_version()
        m = json.loads(t._manifest_path(v).read_text())
        for s in m["stats"].values():
            s.pop(_mf.NULLS_KEY, None)
        t._manifest_path(v).write_text(json.dumps(m))
        out = t.expire(spark, "ts", dt.datetime(2026, 1, 1, 15))
        assert out["dropped"] == 0  # nothing provably null-free
        assert out["rewritten"] >= 2  # dead-by-min/max files demoted to rewrite
        assert _keys(t.read(spark)) == list(range(15, 30))

    def test_expire_matches_row_filter_random_layouts(self, spark, tmp_path):
        """Randomized layout-independence: for random rows (with random
        null-ts placement) split into random file groupings, expire()
        must keep exactly the rows `ts >= cutoff OR ts IS NULL` — the
        same answer a plain row filter gives, regardless of which files
        the rows landed in."""
        import datetime as dt
        import random

        from pyspark.sql.types import (
            IntegerType,
            StructField,
            StructType,
            TimestampType,
        )

        schema = StructType(
            [StructField("k", IntegerType()), StructField("ts", TimestampType())]
        )
        base = dt.datetime(2026, 1, 1)
        for seed in (1, 7, 42):
            rnd = random.Random(seed)
            rows = [
                (
                    i,
                    None
                    if rnd.random() < 0.15
                    else base + dt.timedelta(hours=rnd.randrange(100)),
                )
                for i in range(60)
            ]
            rnd.shuffle(rows)
            t = ManifestTable(str(tmp_path / f"t{seed}"))
            i = 0
            while i < len(rows):  # random file sizes 1..20
                j = i + rnd.randint(1, 20)
                t.append(spark.createDataFrame(rows[i:j], schema).coalesce(1))
                i = j
            cutoff = base + dt.timedelta(hours=rnd.randrange(100))
            t.expire(spark, "ts", cutoff)
            want = sorted(k for k, ts in rows if ts is None or ts >= cutoff)
            assert _keys(t.read(spark)) == want, f"seed {seed}"

    def test_expired_stats_still_prune(self, spark, tmp_path):
        import datetime as dt

        t = self._table(spark, tmp_path)
        t.expire(spark, "ts", dt.datetime(2026, 1, 1, 15))
        m = json.loads(t._manifest_path(t.latest_version()).read_text())
        assert set(m["stats"]) == set(m["files"])  # kept + rewritten all statted
        assert _keys(t.scan(spark, [("k", ">=", 25)])) == list(range(25, 30))


class TestDemoteExpired:
    def test_rollup_absorbs_expired_rows(self, spark, tmp_path):
        import datetime as dt

        from mb8600_clickhouse_spark.streaming import incremental

        src = ManifestTable(str(tmp_path / "src"))
        src.append(
            spark.createDataFrame(
                [
                    Row(g="a", v=1, ts=dt.datetime(2026, 1, 1)),
                    Row(g="a", v=2, ts=dt.datetime(2026, 1, 2)),
                    Row(g="b", v=5, ts=dt.datetime(2026, 1, 5)),
                ]
            )
        )
        aggs = {"n": ("count", "*"), "total": ("sum", "v")}
        cutoff = dt.datetime(2026, 1, 3)
        out = incremental.demote_expired(
            spark, str(tmp_path / "src"), str(tmp_path / "roll"), "ts", cutoff,
            ["g"], aggs,
        )
        assert out["version"] >= 1
        assert _keys(src.read(spark).selectExpr("v as k")) == [5]
        roll = ManifestTable(str(tmp_path / "roll"))
        assert {tuple(r) for r in roll.read(spark).collect()} == {("a", 2, 3)}

    def test_demote_retry_same_cutoff_is_idempotent(self, spark, tmp_path):
        import datetime as dt

        from mb8600_clickhouse_spark.streaming import incremental

        src = ManifestTable(str(tmp_path / "src"))
        src.append(
            spark.createDataFrame([Row(g="a", v=3, ts=dt.datetime(2026, 1, 1))])
        )
        src.append(
            spark.createDataFrame([Row(g="a", v=9, ts=dt.datetime(2026, 2, 1))])
        )
        aggs = {"n": ("count", "*"), "total": ("sum", "v")}
        cutoff = dt.datetime(2026, 1, 15)
        kw = dict(ts_col="ts", cutoff=cutoff, keys=["g"], aggs=aggs)
        incremental.demote_expired(
            spark, str(tmp_path / "src"), str(tmp_path / "roll"), **kw
        )
        # crash-retry with the SAME cutoff: marker skips the merge
        incremental.demote_expired(
            spark, str(tmp_path / "src"), str(tmp_path / "roll"), **kw
        )
        roll = ManifestTable(str(tmp_path / "roll"))
        assert {tuple(r) for r in roll.read(spark).collect()} == {("a", 1, 3)}


class TestZorderCompact:
    def test_zorder_files_bound_both_columns(self, spark, tmp_path):
        """After OPTIMIZE ZORDER, every file covers a compact rectangle:
        per-file stats ranges on BOTH columns are far narrower than the
        full domain, so scans filtered on either column prune files."""
        import random

        rnd = random.Random(7)
        t = ManifestTable(str(tmp_path / "t"))
        rows = [Row(a=i, b=rnd.randrange(256)) for i in range(256)]
        t.append(spark.createDataFrame(rows))
        t.compact(spark, n_files=8, zorder=("a", "b"))
        m = json.loads(t._manifest_path(t.latest_version()).read_text())
        spans_a = sorted(s["a"][1] - s["a"][0] for s in m["stats"].values())
        spans_b = sorted(s["b"][1] - s["b"][0] for s in m["stats"].values())
        # a plain sort on 'a' would leave every file spanning ~all of
        # 'b' (span ~250). Z-order bounds BOTH dims for most files; only
        # files straddling a major Morton boundary span wider, so assert
        # on the median, not the max.
        assert len(spans_a) == 8
        assert spans_a[3] <= 160 and spans_b[3] <= 160
        # pruning now bites on both dimensions
        assert len(t.prune_files([("a", "<", 32)])) < 8
        assert len(t.prune_files([("b", "<", 32)])) < 8
        # and results are intact
        assert t.read(spark).count() == 256


class TestForeignReaderInterop:
    def test_duckdb_reads_snapshot_by_version(self, spark, tmp_path):
        """The manifest contract is consumable OUTSIDE the engine: a
        DuckDB connection handed only snapshot_files(v) reproduces the
        engine's versioned read exactly — including snapshot isolation
        (v0's list never surfaces later appends). The q122 pattern."""
        import duckdb

        t = ManifestTable(str(tmp_path / "t"))
        v0 = t.append(_df(spark, 0, 5))
        t.append(_df(spark, 5, 9))

        con = duckdb.connect()
        try:
            for version, expect in ((v0, list(range(5))), (1, list(range(9)))):
                files = t.snapshot_files(version)
                flist = ", ".join(f"'{f}'" for f in files)
                got = sorted(
                    r[0]
                    for r in con.execute(
                        f"SELECT k FROM read_parquet([{flist}])"
                    ).fetchall()
                )
                assert got == expect == _keys(t.read(spark, version=version))
        finally:
            con.close()
