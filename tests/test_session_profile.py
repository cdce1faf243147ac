"""session.exec_profile — the size-derived execution policy, applied by
the query registry on a session-local child — and the host-derived
session defaults."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mb8600_clickhouse_spark.queries import all_queries
from mb8600_clickhouse_spark.session import (
    _parse_bytes,
    default_cpus,
    default_driver_memory,
    exec_profile,
    truncate_lineage,
)

PINS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "false",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def _advisory(spark) -> int:
    return _parse_bytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )


def _cap(spark) -> int:
    return 4 * spark.sparkContext.defaultParallelism


class TestHostDefaults:
    """Pure derivations: no second JVM is started."""

    def test_cpus_from_env_else_affinity(self):
        import os

        assert default_cpus({"SPARK_GRAFT_CPUS": "3"}) == 3
        assert default_cpus({}) == len(os.sched_getaffinity(0))
        assert default_cpus({"SPARK_GRAFT_CPUS": ""}) == len(
            os.sched_getaffinity(0)
        )

    def test_driver_memory_is_half_of_ram(self):
        assert default_driver_memory(16 << 30) == "8192m"
        # a host whose /proc/meminfo reads MemTotal: 16479424 kB
        assert default_driver_memory(16_479_424 << 10) == "8046m"
        assert _parse_bytes(default_driver_memory(3 << 30)) == 1536 << 20


class TestExecProfile:
    @pytest.fixture(autouse=True)
    def _policy_on(self, monkeypatch):
        monkeypatch.delenv("SPARK_GRAFT_MIMIC", raising=False)

    def test_parent_conf_untouched(self, spark):
        before = spark.conf.get("spark.sql.adaptive.enabled")
        s2 = exec_profile(spark, 3 * _advisory(spark) - 1)
        assert s2 is not spark
        assert s2.conf.get("spark.sql.adaptive.enabled") == "false"
        assert s2.conf.get("spark.sql.shuffle.partitions") == "3"
        assert spark.conf.get("spark.sql.adaptive.enabled") == before

    def test_floor_of_one_partition(self, spark):
        s2 = exec_profile(spark, 0)
        assert s2.conf.get("spark.sql.shuffle.partitions") == "1"
        assert s2.conf.get("spark.sql.adaptive.enabled") == "false"

    @pytest.mark.parametrize("over", [0, 1, 10**6])
    def test_at_or_above_cap_aqe_on_with_cap(self, spark, over):
        s2 = exec_profile(spark, _cap(spark) * _advisory(spark) + over)
        assert s2.conf.get("spark.sql.adaptive.enabled") == "true"
        assert s2.conf.get("spark.sql.shuffle.partitions") == str(_cap(spark))

    def test_cached_per_profile(self, spark):
        n = 2 * _advisory(spark)
        a = exec_profile(spark, n)
        assert exec_profile(spark, n) is a
        assert exec_profile(spark, 5 * _advisory(spark)) is not a

    def test_mimic_mode_noop(self, spark, monkeypatch):
        monkeypatch.setenv("SPARK_GRAFT_MIMIC", "1")
        assert exec_profile(spark, 0) is spark

    def test_engine_conventions_inherited(self, spark):
        # UTC and the other pins are set on each child at creation
        for n in (0, _cap(spark) * _advisory(spark)):
            s2 = exec_profile(spark.newSession(), n)
            assert {k: s2.conf.get(k) for k in PINS} == PINS

    def test_registered_queries_leave_caller_conf_alone(self, spark, sf_dir):
        caller = spark.newSession()
        before = dict(caller.conf.getAll)
        specs = all_queries()
        for name in ("q19_multi_join_revenue", "q99_dedup_components"):
            assert specs[name].fn(caller, sf_dir).count() > 0
        assert dict(caller.conf.getAll) == before


class TestCheckpointFileManager:
    """Streaming checkpoint logs are written through the Hadoop
    FileSystem API on every session the engine runs streams on."""

    @staticmethod
    def _manager(session, path) -> str:
        jvm = session._jvm
        cfm = jvm.org.apache.spark.sql.execution.streaming.checkpointing
        return (
            cfm.CheckpointFileManager.create(
                jvm.org.apache.hadoop.fs.Path(str(path)),
                session._jsparkSession.sessionState().newHadoopConf(),
            )
            .getClass()
            .getSimpleName()
        )

    def test_engine_and_child_sessions(self, spark, tmp_path, monkeypatch):
        monkeypatch.delenv("SPARK_GRAFT_MIMIC", raising=False)
        for s in (spark, spark.newSession(), exec_profile(spark.newSession(), 0)):
            assert (
                self._manager(s, tmp_path) == "FileSystemBasedCheckpointFileManager"
            )


class TestTruncateLineage:
    """session.truncate_lineage — local blocks on a single-JVM local
    master, a reliable checkpoint on any other."""

    @staticmethod
    def _spy(monkeypatch, spark):
        # the session's concrete DataFrame class (classic or connect)
        cls = type(spark.range(1))
        calls = []
        for meth in ("localCheckpoint", "checkpoint"):
            real = getattr(cls, meth)

            def spy(self, eager=True, _real=real, _meth=meth):
                calls.append(_meth)
                return _real(self, eager=eager)

            monkeypatch.setattr(cls, meth, spy)
        return calls

    @staticmethod
    def _cluster(monkeypatch, spark, master, ck_dir):
        """Pose as a non-local master; record the checkpoint dir the
        helper picks, and put the real one under ``ck_dir``."""
        sc = spark.sparkContext
        chosen = []
        real_set = sc.setCheckpointDir
        monkeypatch.setattr(sc, "master", master)
        monkeypatch.setattr(sc, "getCheckpointDir", lambda: None)
        monkeypatch.setattr(
            sc,
            "setCheckpointDir",
            lambda d: (chosen.append(d), real_set(str(ck_dir))),
        )
        return chosen

    @pytest.mark.parametrize("master", ["local", "local[4]", "local[*]", "local[4,2]"])
    def test_local_master_uses_local_checkpoint(self, spark, monkeypatch, master):
        monkeypatch.setattr(spark.sparkContext, "master", master)
        calls = self._spy(monkeypatch, spark)
        df = spark.range(10).withColumn("sq", F.col("id") * F.col("id"))
        out = truncate_lineage(df, eager=True)
        assert calls == ["localCheckpoint"]
        assert sorted(out.collect()) == sorted(df.collect())

    @pytest.mark.parametrize(
        "master", ["spark://head:7077", "yarn", "local-cluster[2,1,1024]"]
    )
    @pytest.mark.parametrize("eager", [True, False])
    def test_cluster_master_checkpoints_reliably(
        self, spark, monkeypatch, tmp_path, master, eager
    ):
        chosen = self._cluster(monkeypatch, spark, master, tmp_path)
        calls = self._spy(monkeypatch, spark)
        df = spark.range(10).withColumn("sq", F.col("id") * F.col("id"))
        out = truncate_lineage(df, eager=eager)
        assert calls == ["checkpoint"]
        warehouse = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
        assert chosen == [warehouse + "/_checkpoints"]
        assert sorted(out.collect()) == sorted(df.collect())
        # the copy lives in the checkpoint directory, not executor blocks
        assert any(p.is_file() for p in tmp_path.rglob("part-*"))
