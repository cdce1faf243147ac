"""Distributed connected components (transitive near-dup clustering).

The single-pass dedup rule used by the curation pipeline (drop the
higher id of every LSH candidate pair, `dedup.minhash_lsh_dropped_ids`)
is deliberately non-transitive: if A~B and B~C but not A~C, it keeps A
and drops B and C, which is the right *retention* policy but does not
IDENTIFY the clusters. Cluster identity matters for the other half of a
real curation run — audit ("show me every member of this boilerplate
family"), stratified cluster sampling (keep one *random* member, not the
min id), and quality attribution. That is a connected-components problem
over the candidate-pair graph.

Algorithm: the alternating large-star / small-star method of Kiveris et
al., "Connected Components in MapReduce and Beyond" (ACM SoCC 2014) — a
public algorithm designed for exactly Spark's execution model. Each
round is two (groupBy + join) passes over the edge list; the edge set
provably converges to a star forest (every node pointing at its
component's minimum id) in O(log^2 n) rounds (observed: 2-3 on dedup
graphs, whose clusters are near-cliques). Versus naive min-label
propagation (O(diameter) rounds — a 1M-link boilerplate chain is 1M
rounds) this is the 100 TB-safe choice; versus GraphFrames it needs no
external package.

Scale shape per round: every step shuffles on a single long node id —
no text, no signatures, nothing wide. Edge count never exceeds
O(n + m) (paper, Lemma 4). Lineage is truncated each round with
``session.truncate_lineage`` (iterative DataFrame loops otherwise grow
the plan exponentially and re-trigger full recomputation at every
action);
convergence is detected by an order-insensitive (count, xxhash-sum)
edge-set checksum — one tiny aggregate action per round.

Reference behavioral spec: the reference exporter (mb8600.py) has no
graph operator; this extends the dedup family (SURVEY.md §2.F2) the
same way IVF extends exact cosine search.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import truncate_lineage


def _canon(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected edge list canonicalized to (hi, lo), hi > lo, distinct;
    self-loops dropped."""
    hi = F.greatest(F.col(src), F.col(dst)).alias("hi")
    lo = F.least(F.col(src), F.col(dst)).alias("lo")
    return (
        edges.select(hi, lo)
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of each node to the
    minimum of its closed neighborhood. Input/output: (hi, lo) canonical."""
    b = e.union(e.select(F.col("lo").alias("hi"), F.col("hi").alias("lo")))
    m = b.groupBy("hi").agg(F.min("lo").alias("mn")).select(
        "hi", F.least("mn", "hi").alias("m")
    )
    return (
        b.join(m, "hi")
        .filter(F.col("lo") > F.col("hi"))  # strictly-larger neighbors
        .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Connect every smaller neighbor (and the node itself) to the
    minimum of the node's smaller neighborhood. Input/output canonical."""
    m = e.groupBy("hi").agg(F.min("lo").alias("m"))
    j = e.join(m, "hi")
    out = j.select(F.col("lo").alias("hi"), F.col("m").alias("lo")).union(
        m.select(F.col("hi"), F.col("m").alias("lo"))
    )
    return out.filter(F.col("hi") != F.col("lo")).distinct()


def _checksum(e: DataFrame) -> tuple[int, int]:
    # bit_xor, not sum: order-insensitive over the distinct edge set and
    # immune to ANSI-mode long overflow
    row = e.agg(
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("hi", "lo")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Label every node of an undirected graph with its component's
    minimum node id.

    Returns (node, component) for every node incident to at least one
    edge (isolated nodes are the caller's corpus minus this frame —
    joining them in here would force a full corpus pass the common
    "cluster the duplicates" use never needs).

    ``max_iter`` is a safety bound, not a tuning knob: convergence is
    detected by edge-set checksum and the alternating algorithm is
    proven to converge in O(log^2 n) rounds; hitting the bound raises
    rather than returning silently-unconverged labels.
    """
    e = truncate_lineage(_canon(edges, src, dst), eager=True)
    prev = _checksum(e)
    for _ in range(max_iter):
        e2 = truncate_lineage(_small_star(_large_star(e)), eager=True)
        cur = _checksum(e2)
        e = e2
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    # converged star forest: (child=hi, root=lo); roots map to themselves
    return (
        e.select(F.col("hi").alias("node"), F.col("lo").alias("component"))
        .union(
            e.select(F.col("lo").alias("node"), F.col("lo").alias("component"))
        )
        .distinct()
    )


def cluster_representatives(
    components: DataFrame, salt: str = "rep-v1"
) -> DataFrame:
    """(component, representative): ONE deterministic pseudo-random
    member per component — the member minimizing md5(salt:node).

    Complements the drop-higher-id retention rule: keep-the-minimum-id
    is biased toward early ids (which in a real corpus correlate with
    crawl time and source), while an md5-order pick is uniform over the
    cluster yet replay-stable across runs and engines (the same
    determinism device as `sampling.hash_split`). One aggregation with
    map-side combine; shuffles only (component, id, 16-byte hash)."""
    return components.groupBy("component").agg(
        F.min_by(
            "node",
            F.md5(F.concat(F.lit(salt + ":"), F.col("node").cast("string"))),
        ).alias("representative")
    )


# ---------------------------------------------------------------------------
# PageRank (round 8) — the weighted host-authority iteration
# ---------------------------------------------------------------------------
def pagerank(
    edges: DataFrame,
    n_iter: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    dangling: str = "keep",
    checkpoint_every: int = 0,
) -> DataFrame:
    """Weighted PageRank with a FIXED iteration count — the host-
    authority signal web-curation pipelines rank domains by (the
    CC-rank family), complementing ``connected_components`` as the
    second distributed-iterative graph operator.

    Each iteration is one join + one partial-aggregated exchange:
    contributions = rank/out_weight * edge_weight flow along edges,
    new rank = (1-d)/N + d * inflow. Ranks are SNAPPED to
    DECIMAL(18,12) per iteration (the q108 decimal-snap device): the
    inflow sum's fold order differs between engines and across
    partitionings, so without the snap iteration-k ulp drift compounds
    into iteration k+1's inputs; with it a SQL oracle unrolling the
    same iterations reproduces the ranks bit-exactly.

    ``dangling``: nodes with no outlinks sink rank mass. ``"keep"``
    (default — the q152 oracle replays it) gives them the teleport term
    only, so total rank DECAYS by the sunk mass per iteration — fine on
    planted host graphs with no sinks, wrong on real web graphs (~30%
    of crawled pages are dangling). ``"redistribute"`` adds the classic
    correction (Page et al. 1999; what networkx does): each iteration
    spreads the danglings' total rank uniformly, keeping sum(rank)=1.
    The dangling mass stays IN the plan as a 1-row aggregate broadcast
    by crossJoin — never a per-iteration driver collect.

    ``checkpoint_every=k``: checkpoint (eager) the rank table
    every k iterations, truncating lineage — without it each iteration
    stacks a join+agg on the logical plan and analysis/optimization
    cost grows superlinearly (n_iter=50 builds a 100-join tree);
    k=5-10 bounds plan depth while keeping recovery granularity. 0
    disables for ``keep`` (fine at the oracle's n_iter=3 — the tree is
    linear in n_iter) but defaults to 1 for ``redistribute``, where the
    dangling-mass aggregate references the rank table a SECOND time per
    iteration and an untruncated logical tree DOUBLES per iteration
    (2^n_iter subtrees — n_iter=20 hangs in the analyzer long before
    any task runs; measured while building the pytest).

    N (node count) is a collected scalar; nodes = distinct src ∪ dst.
    At web scale each iteration shuffles one (node, rank) table on the
    join key — the classic PageRank-on-MapReduce shape Catalyst plans
    as broadcast or sort-merge by size."""
    if dangling not in ("keep", "redistribute"):
        raise ValueError("dangling must be 'keep' or 'redistribute'")
    if dangling == "redistribute" and checkpoint_every == 0:
        checkpoint_every = 1  # see docstring: the tree doubles per iter
    w = F.col(weight) if weight else F.lit(1.0)
    # a zero/negative-weight edge is no edge: without this filter a
    # source whose out-weight sums to 0 makes rank/ow NULL and its
    # outgoing mass silently vanishes (nodes stay in the node set via
    # the pre-filter select below, keeping teleport-only rank — the
    # documented dangling convention)
    nodes_src = edges.select(F.col(src).alias("node"))
    nodes_dst = edges.select(F.col(dst).alias("node"))
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"),
        w.cast("double").alias("w"),
    ).filter(F.col("w") > 0)
    nodes = nodes_src.unionAll(nodes_dst).distinct()
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    outw = e.groupBy("src").agg(F.sum("w").alias("ow"))
    snap = lambda c: c.cast(T.DecimalType(18, 12)).cast("double")
    ranks = nodes.withColumn("rank", snap(F.lit(1.0 / n)))
    # dangling = nodes with no positive-weight outlink (anti-join on
    # the out-weight table); computed once, reused every iteration
    dang = nodes.join(
        outw.withColumnRenamed("src", "node"), "node", "left_anti"
    )
    for it in range(n_iter):
        contrib = (
            e.join(outw, "src")
            .join(ranks.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("ow") * F.col("w")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        base = F.lit((1.0 - damping) / n) + F.lit(damping) * F.coalesce(
            "inflow", F.lit(0.0)
        )
        joined = nodes.join(contrib, "node", "left")
        if dangling == "redistribute":
            dm = ranks.join(dang, "node").agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm")
            )
            ranks = joined.crossJoin(F.broadcast(dm)).select(
                "node",
                snap(
                    base + F.lit(damping) * F.col("_dm") / F.lit(float(n))
                ).alias("rank"),
            )
        else:
            ranks = joined.select("node", snap(base).alias("rank"))
        if checkpoint_every and (it + 1) % checkpoint_every == 0 and (
            it + 1
        ) < n_iter:
            ranks = truncate_lineage(ranks, eager=True)
    return ranks
