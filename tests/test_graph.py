"""Connected components (operators/graph.py) vs an in-test union-find.

Ground truth is a 30-line union-find over the same edge list — an
independent sequential implementation, so the distributed alternating
large-star/small-star result is differentially checked, not
self-checked."""

from __future__ import annotations

import random

import pytest

from mb8600_clickhouse_spark.operators.graph import connected_components


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # min-id label per node
    return {x: find(x) for x in parent}


def _labels(spark, edges):
    df = spark.createDataFrame(edges, "src: long, dst: long")
    out = connected_components(df).collect()
    return {r["node"]: r["component"] for r in out}


def test_two_triangles_and_chain(spark):
    edges = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (5, 6), (6, 7), (7, 8)]
    assert _labels(spark, edges) == _union_find(edges)


def test_long_chain_converges_in_log_rounds(spark):
    # a 64-link path is the worst case for naive min-label propagation
    # (64 rounds); the alternating algorithm must finish well inside the
    # max_iter bound
    edges = [(i, i + 1) for i in range(64)]
    assert _labels(spark, edges) == _union_find(edges)


def test_duplicate_reversed_and_self_edges(spark):
    edges = [(2, 1), (1, 2), (3, 3), (2, 3), (9, 9)]
    got = _labels(spark, edges)
    # self-loop-only nodes are isolated -> absent from the result
    assert 9 not in got
    assert got == {1: 1, 2: 1, 3: 1}


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_random_graphs_match_union_find(spark, seed):
    rng = random.Random(seed)
    n = 120
    edges = [
        (rng.randrange(n), rng.randrange(n))
        for _ in range(150)
    ]
    edges = [(u, v) for u, v in edges if u != v]
    assert _labels(spark, edges) == _union_find(edges)


def test_component_is_min_id(spark):
    edges = [(100, 7), (7, 55), (55, 3)]
    got = _labels(spark, edges)
    assert set(got.values()) == {3}


def test_cluster_representatives_deterministic(spark):
    from mb8600_clickhouse_spark.operators.graph import cluster_representatives

    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)], "node: long, component: long"
    )
    a = {r.component: r.representative for r in cluster_representatives(comps).collect()}
    b = {r.component: r.representative for r in cluster_representatives(comps).collect()}
    assert a == b
    assert set(a) == {1, 10}
    assert a[1] in {1, 2, 3} and a[10] in {10, 11}
    # a different salt may pick differently but stays within the cluster
    c = {r.component: r.representative
         for r in cluster_representatives(comps, salt="other").collect()}
    assert c[1] in {1, 2, 3} and c[10] in {10, 11}


class TestPageRank:
    """graph.pagerank — fixed-iteration weighted PageRank (q152 is the
    oracle twin)."""

    def test_uniform_cycle_stays_uniform(self, spark):
        # a pure cycle is doubly stochastic: ranks stay 1/N forever
        edges = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 0)], "src long, dst long"
        )
        from mb8600_clickhouse_spark.operators.graph import pagerank

        out = {r["node"]: r["rank"] for r in pagerank(edges, n_iter=4).collect()}
        for v in out.values():
            assert abs(v - 1 / 3) < 1e-9

    def test_sink_authority_and_weights(self, spark):
        from mb8600_clickhouse_spark.operators.graph import pagerank

        # 0 and 1 both point at 2; 2 points back at 0. 2 accumulates.
        edges = spark.createDataFrame(
            [(0, 2, 1.0), (1, 2, 1.0), (2, 0, 1.0)],
            "src long, dst long, w double",
        )
        # n_iter=50: the 0<->2 loop oscillates with period 2, so an
        # under-converged even/odd cut can transiently rank 0 above 2
        out = {r["node"]: r["rank"] for r in pagerank(edges, n_iter=50, weight="w").collect()}
        assert out[2] > out[0] > out[1]  # fixpoint: r2=0.4865, r0=0.4635
        assert abs(sum(out.values()) - 1.0) < 1e-6
        # weights steer the split: 0 now favors 1 heavily
        edges2 = spark.createDataFrame(
            [(0, 1, 9.0), (0, 2, 1.0), (1, 0, 1.0), (2, 0, 1.0)],
            "src long, dst long, w double",
        )
        out2 = {r["node"]: r["rank"] for r in pagerank(edges2, n_iter=10, weight="w").collect()}
        assert out2[1] > out2[2]

    def test_deterministic_across_runs(self, spark):
        from mb8600_clickhouse_spark.operators.graph import pagerank

        edges = spark.createDataFrame(
            [(i % 5, (i * 3 + 1) % 5) for i in range(25)], "src long, dst long"
        )
        a = sorted(map(tuple, pagerank(edges, n_iter=3).collect()))
        b = sorted(map(tuple, pagerank(edges, n_iter=3).collect()))
        assert a == b

    @staticmethod
    def _reference_pagerank(edge_list, n_iter, damping=0.85, dangling="keep"):
        """Pure-Python fixed-iteration PageRank (the networkx-style
        power iteration, incl. uniform dangling redistribution)."""
        nodes = sorted({s for s, _, _ in edge_list} | {d for _, d, _ in edge_list})
        n = len(nodes)
        ow = {}
        for s, _, w in edge_list:
            if w > 0:
                ow[s] = ow.get(s, 0.0) + w
        r = {u: 1.0 / n for u in nodes}
        for _ in range(n_iter):
            inflow = {u: 0.0 for u in nodes}
            for s, d, w in edge_list:
                if w > 0:
                    inflow[d] += r[s] / ow[s] * w
            dm = sum(r[u] for u in nodes if u not in ow)
            r = {
                u: (1 - damping) / n
                + damping * inflow[u]
                + (damping * dm / n if dangling == "redistribute" else 0.0)
                for u in nodes
            }
        return r

    def test_redistribute_matches_reference_with_dangling_nodes(self, spark):
        # graph WITH sinks: 3 and 4 have no outlinks; node 5 only dangles
        from mb8600_clickhouse_spark.operators.graph import pagerank

        el = [
            (0, 1, 1.0), (0, 2, 2.0), (1, 3, 1.0), (2, 3, 1.0),
            (2, 4, 3.0), (1, 4, 1.0), (0, 5, 0.5),
        ]
        edges = spark.createDataFrame(el, "src long, dst long, w double")
        for mode in ("keep", "redistribute"):
            want = self._reference_pagerank(el, n_iter=12, dangling=mode)
            got = {
                r["node"]: r["rank"]
                for r in pagerank(
                    edges, n_iter=12, weight="w", dangling=mode
                ).collect()
            }
            for u, v in want.items():
                assert abs(got[u] - v) < 1e-8, (mode, u, got[u], v)
        # redistribution conserves total mass; keep leaks it
        tot_r = sum(
            r["rank"]
            for r in pagerank(
                edges, n_iter=12, weight="w", dangling="redistribute"
            ).collect()
        )
        assert abs(tot_r - 1.0) < 1e-6

    def test_checkpoint_every_same_ranks(self, spark):
        # lineage truncation must not change a single rank: keep mode
        # n_iter=20 with and without checkpoints, redistribute mode
        # auto-ck=1 vs explicit ck=5 (ck=0 redistribute would build a
        # 2^20-subtree plan — the reason for the auto default)
        from mb8600_clickhouse_spark.operators.graph import pagerank

        edges = spark.createDataFrame(
            [(i % 7, (i * 3 + 1) % 7, 1.0 + i % 3) for i in range(30)],
            "src long, dst long, w double",
        )
        keep_plain = sorted(
            map(tuple, pagerank(edges, n_iter=20, weight="w").collect())
        )
        keep_chk = sorted(
            map(tuple, pagerank(edges, n_iter=20, weight="w",
                                checkpoint_every=5).collect())
        )
        assert keep_plain == keep_chk
        rd1 = sorted(
            map(tuple, pagerank(edges, n_iter=20, weight="w",
                                dangling="redistribute").collect())
        )
        rd5 = sorted(
            map(tuple, pagerank(edges, n_iter=20, weight="w",
                                dangling="redistribute",
                                checkpoint_every=5).collect())
        )
        assert rd1 == rd5


class TestLoopProfile:
    """Round-14 CC loop sizing: per-round shuffles are sized to the edge
    count (AQE off + few partitions for small graphs); the profile must
    (a) never change the labels, (b) restore the session conf even when
    the loop raises, (c) stay off under SPARK_GRAFT_MIMIC=1."""

    EDGES = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (5, 6), (6, 7)]

    def _run(self, spark):
        df = spark.createDataFrame(self.EDGES, "src: long, dst: long")
        out = connected_components(df).collect()
        return {r["node"]: r["component"] for r in out}

    def test_labels_identical_profile_on_off(self, spark, monkeypatch):
        # tiny graph -> profile ON (p=1) unless MIMIC disables it
        monkeypatch.delenv("SPARK_GRAFT_MIMIC", raising=False)
        with_profile = self._run(spark)
        monkeypatch.setenv("SPARK_GRAFT_MIMIC", "1")
        without = self._run(spark)
        assert with_profile == without == _union_find(self.EDGES)

    def test_conf_restored(self, spark, monkeypatch):
        monkeypatch.delenv("SPARK_GRAFT_MIMIC", raising=False)
        before = (
            spark.conf.get("spark.sql.shuffle.partitions"),
            spark.conf.get("spark.sql.adaptive.enabled"),
        )
        self._run(spark)
        after = (
            spark.conf.get("spark.sql.shuffle.partitions"),
            spark.conf.get("spark.sql.adaptive.enabled"),
        )
        assert before == after

    def test_conf_restored_on_nonconvergence(self, spark, monkeypatch):
        monkeypatch.delenv("SPARK_GRAFT_MIMIC", raising=False)
        df = spark.createDataFrame(
            [(i, i + 1) for i in range(64)], "src: long, dst: long"
        )
        before = (
            spark.conf.get("spark.sql.shuffle.partitions"),
            spark.conf.get("spark.sql.adaptive.enabled"),
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(df, max_iter=1)
        after = (
            spark.conf.get("spark.sql.shuffle.partitions"),
            spark.conf.get("spark.sql.adaptive.enabled"),
        )
        assert before == after
