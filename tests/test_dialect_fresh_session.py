"""Each dialect query resolves its ClickHouse scalars in a fresh session.

``ch_sql`` registers only the scalars a statement names, in the
statement's own session. ``harness.run_t2`` shares one session across
the whole registry, so a query whose scalars were registered by an
earlier query would pass there and fail on its own. Here every query
that reads ClickHouse SQL runs in a new session and is compared with
its DuckDB oracle."""

from __future__ import annotations

import pytest

from harness.oracle import make_duckdb, run_one
from mb8600_clickhouse_spark.queries import all_queries

DIALECT_QUERIES = [
    "q74_clickhouse_sql",
    "q76_clickhouse_rewrite",
    "q79_clickhouse_final",
    "q82_clickhouse_totals",
    "q93_clickhouse_topk",
    "q95_clickhouse_nested",
    "q102_clickhouse_array_join",
    "q123_with_fill",
    "q124_running_neighbor",
    "q127_state_merge_rollup",
    "q133_with_fill_series",
    "q134_ch_retention",
    "q135_ch_window_funnel",
    "q136_ch_sequence_match",
    "q137_ch_sequence_count",
    "q139_ch_dictget",
    "q143_running_accumulate",
    "q147_ch_sequence_match_time",
    "q148_ch_funnel_strict_increase",
    "q160_moving_aggregates",
    "q161_map_aggregates",
    "q162_lttb_downsample",
    "q163_regression_arrays",
    "q164_stats_aggregates",
    "q165_hypothesis_tests",
    "q166_url_functions",
    "q167_delta_ema",
    "q168_window_navigation",
    "q169_array_vocabulary",
    "q170_string_search",
    "q171_interval_aggregates",
    "q172_ipv4_functions",
    "q173_ks_association",
    "q174_weighted_aggregates",
    "q175_bit_and_mapping",
    "q176_array_auc",
    "q177_sequence_next_node",
    "q178_json_extraction",
    "q179_geo_membership",
    "q180_array_combinators",
    "q181_with_constants",
    "q182_array_similarity",
    "q183_vector_distances",
    "q184_dialect_capstone",
    "q186_window_capstone",
    "q190_dialect_round10",
    "q191_dialect_round12",
    "q192_dialect_wave3",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = make_duckdb(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", DIALECT_QUERIES)
def test_query_matches_oracle_in_fresh_session(spark, sf_dir, duck, name):
    res = run_one(spark.newSession(), duck, all_queries()[name], sf_dir)
    assert res.ok, str(res)
