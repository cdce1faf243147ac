"""session.exec_profile — session-local physical-execution profiles."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mb8600_clickhouse_spark.session import exec_profile, truncate_lineage

PROFILE = {"spark.sql.adaptive.enabled": "false"}


class TestExecProfile:
    def test_parent_conf_untouched(self, spark):
        before = spark.conf.get("spark.sql.adaptive.enabled")
        s2 = exec_profile(spark, PROFILE)
        assert s2 is not spark
        assert s2.conf.get("spark.sql.adaptive.enabled") == "false"
        assert spark.conf.get("spark.sql.adaptive.enabled") == before

    def test_cached_per_profile(self, spark):
        a = exec_profile(spark, PROFILE)
        b = exec_profile(spark, dict(PROFILE))
        assert a is b  # same profile -> same cached session
        c = exec_profile(spark, {"spark.sql.shuffle.partitions": "4"})
        assert c is not a

    def test_engine_conventions_inherited(self, spark):
        # builder-level conventions ride the SparkConf into newSession
        s2 = exec_profile(spark, PROFILE)
        assert s2.conf.get("spark.sql.session.timeZone") == "UTC"

    def test_mimic_mode_noop(self, spark, monkeypatch):
        monkeypatch.setenv("SPARK_GRAFT_MIMIC", "1")
        assert exec_profile(spark, PROFILE) is spark


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
