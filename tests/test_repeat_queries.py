"""A query run twice in one session returns the same result.

Each of these queries keeps work that a second call repeats in the
same session: q73 and q116 drain an ``availableNow`` stream into fresh
``/tmp`` state, q153 trains PQ codebooks and coarse centroids, and
q187 cuts lineage with lazy checkpoints. The second call must neither
collide with the first call's state nor read it back."""

from __future__ import annotations

import pytest

from harness.oracle import canonicalize
from mb8600_clickhouse_spark.queries import all_queries

REPEATED = [
    "q73_stream_rollup",
    "q116_stream_curation",
    "q153_ivfpq_topk",
    "q187_minhash_recall",
]


@pytest.mark.parametrize("name", REPEATED)
def test_second_call_matches_first(spark, sf_dir, name):
    spec = all_queries()[name]
    first = canonicalize(spec.fn(spark, sf_dir).toPandas())
    second = canonicalize(spec.fn(spark, sf_dir).toPandas())
    assert first[1], f"{name} returned no rows"
    assert second == first
