"""Batch reads over ManifestTable via ``format("manifest")`` — the
catalog front door: SQL-only users load a snapshot (latest or pinned
version) by format string, no ManifestTable Python object needed."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from mb8600_clickhouse_spark.plans import ManifestTable
from mb8600_clickhouse_spark.sources import manifest_datasource


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    manifest_datasource.register(spark)


def _df(spark, lo, hi):
    return spark.createDataFrame([Row(k=i, v=f"row{i}") for i in range(lo, hi)])


class TestManifestBatchRead:
    def test_load_latest_snapshot_and_sql(self, spark, tmp_path):
        path = str(tmp_path / "t")
        t = ManifestTable(path)
        t.append(_df(spark, 0, 5))
        t.append(_df(spark, 5, 8))
        df = spark.read.format("manifest").load(path)
        assert sorted(r["k"] for r in df.collect()) == list(range(8))
        # the SQL front door end-to-end: view over the format load
        df.createOrReplaceTempView("mbatch")
        row = spark.sql(
            "SELECT count(*) AS n, min(k) AS lo, max(k) AS hi FROM mbatch"
        ).first()
        assert (row["n"], row["lo"], row["hi"]) == (8, 0, 7)

    def test_register_in_second_session(self, spark, tmp_path):
        """The active session already has the source (module fixture);
        a second session of the same context can still register it."""
        path = str(tmp_path / "t")
        ManifestTable(path).append(_df(spark, 0, 3))
        other = spark.newSession()
        manifest_datasource.register(other)
        df = other.read.format("manifest").load(path)
        assert sorted(r["k"] for r in df.collect()) == [0, 1, 2]

    def test_version_option_time_travel(self, spark, tmp_path):
        path = str(tmp_path / "t")
        t = ManifestTable(path)
        v0 = t.append(_df(spark, 0, 3))
        t.overwrite(_df(spark, 10, 12))
        pinned = spark.read.format("manifest").option("version", str(v0)).load(path)
        assert sorted(r["k"] for r in pinned.collect()) == [0, 1, 2]
        latest = spark.read.format("manifest").load(path)
        assert sorted(r["k"] for r in latest.collect()) == [10, 11]

    def test_snapshot_pinned_at_plan_time(self, spark, tmp_path):
        """A commit AFTER load() must not leak into the already-planned
        DataFrame (snapshot isolation for batch readers)."""
        path = str(tmp_path / "t")
        t = ManifestTable(path)
        t.append(_df(spark, 0, 4))
        df = spark.read.format("manifest").load(path)
        t.append(_df(spark, 4, 6))  # concurrent commit
        assert sorted(r["k"] for r in df.collect()) == [0, 1, 2, 3]

    def test_snapshot_pinned_with_explicit_schema(self, spark, tmp_path):
        """When the caller supplies .schema(...), Spark never calls
        DataSource.schema() AND constructs the Python DataSource lazily
        at the first action — so the achievable pin (done in __init__,
        ADVICE r04) is at first materialization: after one action, the
        DataFrame is immutable; later commits never leak in."""
        path = str(tmp_path / "t")
        t = ManifestTable(path)
        t.append(_df(spark, 0, 4))
        df = (
            spark.read.format("manifest")
            .schema("k BIGINT, v STRING")
            .load(path)
        )
        first = sorted(r["k"] for r in df.collect())  # pin happens here
        assert first == [0, 1, 2, 3]
        t.append(_df(spark, 4, 6))  # commit AFTER first action
        assert sorted(r["k"] for r in df.collect()) == first

    def test_evolved_schema_served_for_old_files(self, spark, tmp_path):
        path = str(tmp_path / "t")
        t = ManifestTable(path)
        t.append(_df(spark, 0, 2))
        t.append(
            spark.createDataFrame([Row(k=2, v="row2", extra=1.5)]),
            merge_schema=True,
        )
        df = spark.read.format("manifest").load(path)
        assert [f.name for f in df.schema.fields] == ["k", "v", "extra"]
        got = {r["k"]: r["extra"] for r in df.collect()}
        assert got == {0: None, 1: None, 2: 1.5}

    def test_empty_table_raises(self, spark, tmp_path):
        path = str(tmp_path / "empty")
        ManifestTable(path)  # dirs exist, no commit
        with pytest.raises(Exception, match="no committed snapshot"):
            spark.read.format("manifest").load(path).collect()
