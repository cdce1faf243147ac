"""Physical-plan assertions (SURVEY.md §4): the optimizations the engine
relies on at 100 TB must actually appear in the executed plans —
predicate pushdown to Parquet, partition pruning on the date-partitioned
write layout, broadcast joins for small dimensions, and partial (map-
side) aggregation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mb8600_clickhouse_spark.queries import all_queries
from mb8600_clickhouse_spark.tables import load_tables


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def sf(sf_dir):
    return sf_dir


class TestPushdownAndPruning:
    def test_q01_filters_reach_parquet_scan(self, spark, sf):
        df = all_queries()["q01_filter_project"].fn(spark, sf)
        plan = plan_of(df)
        assert "PushedFilters: [" in plan
        # at least the range predicates must be pushed, not just IsNotNull
        pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
        assert "GreaterThan" in pushed or "LessThan" in pushed

    def test_q01_prunes_columns(self, spark, sf):
        df = all_queries()["q01_filter_project"].fn(spark, sf)
        plan = plan_of(df)
        read_schema = plan.split("ReadSchema: ", 1)[1].split("\n", 1)[0]
        # 11-column lineitem: the scan must read only what the query uses
        assert "l_comment" not in read_schema
        assert read_schema.count(",") <= 5

    def test_partition_pruning_on_engine_layout(self, spark, tmp_path):
        """Spark's own partition pruning: a scan of a ``partitionBy``
        date-directory table filtered on the date column carries the
        predicate as a ``PartitionFilter``. The engine's ingest table
        skips files through manifest stats instead (test_streaming)."""
        ev = load_tables(spark, "/root/testdata/sf0.001")["events"].limit(1000)
        table = str(tmp_path / "t")
        (
            ev.withColumn("date", F.to_date("ts"))
            .repartition("date")
            .write.partitionBy("date")
            .parquet(table)
        )
        df = spark.read.parquet(table).filter(F.col("date") == "2024-01-02")
        plan = plan_of(df)
        assert "PartitionFilters: [" in plan
        pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
        assert "date" in pf and len(pf.strip()) > 0


class TestJoinStrategies:
    def test_q18_small_dim_broadcasts(self, spark, sf):
        plan = plan_of(all_queries()["q18_broadcast_join"].fn(spark, sf))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_q21_semi_join_stays_semi(self, spark, sf):
        plan = plan_of(all_queries()["q21_semi_join"].fn(spark, sf))
        assert "LeftSemi" in plan

    def test_q22_anti_join_stays_anti(self, spark, sf):
        plan = plan_of(all_queries()["q22_anti_join"].fn(spark, sf))
        assert "LeftAnti" in plan

    def test_q52_band_join_broadcasts_tiny_side(self, spark, sf):
        plan = plan_of(all_queries()["q52_range_join"].fn(spark, sf))
        assert "BroadcastNestedLoopJoin" in plan


class TestAggregationShape:
    def test_q09_partial_aggregation(self, spark, sf):
        """TPC-H Q1 shape must aggregate map-side before the shuffle."""
        plan = plan_of(all_queries()["q09_hash_agg"].fn(spark, sf))
        assert plan.count("HashAggregate") >= 2  # partial + final

    def test_q14_topk_avoids_full_sort(self, spark, sf):
        plan = plan_of(all_queries()["q14_top_k"].fn(spark, sf))
        assert "TakeOrderedAndProject" in plan

    def test_q40_minhash_no_cartesian(self, spark, sf):
        """The LSH pipeline must never produce a cartesian/NL join."""
        plan = plan_of(all_queries()["q40_dedup_minhash_lsh"].fn(spark, sf))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestCBO:
    def test_cbo_enabled_with_join_reorder(self, spark):
        assert spark.conf.get("spark.sql.cbo.enabled") == "true"
        assert spark.conf.get("spark.sql.cbo.joinReorder.enabled") == "true"

    def test_q19_join_strategy_unchanged_or_better(self, spark, sf):
        """CBO must not regress the TPC-H Q5-shape plan: small dims stay
        broadcast, no cartesian appears."""
        plan = plan_of(all_queries()["q19_multi_join_revenue"].fn(spark, sf))
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_analyze_tables_records_stats(self, spark):
        from mb8600_clickhouse_spark.tables import analyze_tables

        created = analyze_tables(
            spark, "/root/testdata/sf0.001", columns={"orders": ["o_custkey"]}
        )
        assert "stats_orders" in created
        desc = spark.sql("DESCRIBE EXTENDED stats_orders").collect()
        stats = [r for r in desc if r["col_name"] == "Statistics"]
        assert stats and "rows" in stats[0]["data_type"]
        for t in created:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


class TestStructRoundTrip:
    def test_q07_struct_roundtrip(self, spark):
        """explode -> collect_list(struct) rebuilds exactly the original
        per-row (channel_id, snr) multiset — the native array<struct>
        form of q07, whose driver-facing output serializes to a string
        (the driver's pandas canonicalizer can't hash list cells)."""
        d = load_tables(spark, "/root/testdata/sf0.001")["docsis"].limit(200)
        orig = d.select(
            "modem_name",
            "timestamp",
            F.sort_array(
                F.transform(
                    "downstream_channels",
                    lambda u: F.struct(
                        u["channel_id"].alias("channel_id"),
                        u["snr"].cast("double").alias("snr"),
                    ),
                )
            ).alias("arr"),
        )
        e = d.select(
            "modem_name", "timestamp", F.explode("downstream_channels").alias("u")
        ).select(
            "modem_name",
            "timestamp",
            F.col("u.channel_id").alias("channel_id"),
            F.col("u.snr").cast("double").alias("snr"),
        )
        rebuilt = e.groupBy("modem_name", "timestamp").agg(
            F.sort_array(F.collect_list(F.struct("channel_id", "snr"))).alias("arr")
        )
        assert orig.exceptAll(rebuilt).count() == 0
        assert rebuilt.exceptAll(orig).count() == 0
