"""Distributed two-sample statistics — the UNBOUNDED-cardinality path
the q165/q173 bridge docstrings point at.

The dialect bridge spells ``mannWhitneyUTest`` / ``kolmogorovSmirnovTest``
as collect-fold aggregate expressions (drop-in CH compatibility, O(n*d)
per group — the bounded-slice contract, measured quadratic in
SURVEY.md's round-8 stats probe). These operators compute the SAME
statistics relationally — window ranks / cumulative counts over keyed
exchanges, no collected state — which is linear per group and safe at
any group cardinality (the probe ran 200k-row groups in ~2 s where the
fold form needs bounded slices).

Exactness: identical to the bridge (and to q165/q173's oracles) —
average ranks are exact half-integers, tie terms exact integers, the
z / D tails are the SHARED emitters from ``functions.chsql``
(``mw_tail`` / ``ks_tail``), so a bridge result and an operator result
are bit-identical on the same data (test-pinned).

Scale shape (100 TB): one exchange keyed on the group column for the
rank windows (plus the per-(group, value) tie-count window sharing the
same partitioning), one partial-aggregated rollup. No driver state, no
collect, no Python. Caveat shared by every keyed window here: a LOW-
cardinality group column caps parallelism at one task per group value;
``distribution_ranks`` (below) is the two-phase bucket spelling of
that fix for the rank/position family, and its cuts-plus-offset-ledger
device generalizes to the other windows if a deployment's group
cardinality demands it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.chsql import (
    LIMB_VMAX as _LIMB_VMAX,
    LIMB_W as _W,
    ks_tail,
    limb_audit_sql as _limb_audit_expr,
    moment_tails_from_sums,
    mw_tail,
)


def _snap4(col):
    """Scale-4 HALF_UP snap of ``col`` to a scaled BIGINT in pure
    double/integer arithmetic — the DataFrame twin of
    ``chsql.snap4_sql`` (round 11: the per-row double->DECIMAL cast
    was the q164 moment scan's measured residual; see that helper's
    docstring for the exactness/divergence contract). Used by
    ``moments``/``skew_kurt`` so both operator lanes stay bit-identical
    to the dialect bridge's spellings. LOUD above the documented
    domain (|x| < 1e14, the old DECIMAL(18,4) integral range) instead
    of clamping. NaN is OUT of domain too (ADVICE r11): ``abs(NaN) >=
    1e14`` is false, and signum/floor of NaN cast to BIGINT are 0 in
    the non-ANSI fixture mode — without the explicit ``isnan`` arm a
    NaN row would silently contribute (count=1, value=0), where the
    old decimal cast raised and ClickHouse propagates NaN."""
    raw = F.col(col)
    snapped = F.signum(raw).cast("bigint") * F.floor(
        F.abs(raw) * 10000.0 + F.lit(0.5)
    ).cast("bigint")
    return F.when(
        raw.isNotNull()
        & (F.isnan(raw.cast("double")) | (F.abs(raw) >= 1e14)),
        F.raise_error(
            F.concat(
                F.lit(
                    f"stats operator domain: |{col}| exceeds the "
                    "scale-4 snap range (1e14); got "
                ),
                raw.cast("string"),
            )
        ).cast("bigint"),
    ).otherwise(snapped)


def _scaled(col):
    """DECIMAL(18,4)-snap ``col`` to a scaled BIGINT — LOUD on overflow.

    The snap's domain is |x| < 1e14 (DECIMAL(18,4)'s integral range);
    in a non-ANSI session a larger value would cast to NULL and — with
    the old null filter on the SCALED column — be silently dropped,
    skewing n0/n1/ranks and the resulting U/z/D statistics (ADVICE
    r08). Callers filter nulls on the RAW column, so a null snap here
    can only mean overflow: raise in-plan instead of dropping.

    Kept (round 11) as the snap of the RANK family only
    (mann_whitney_u / ks_test / weighted_quantile): their bridge twins
    (``chsql._mw_expr`` / ``_ks_expr`` / the quantile folds) pair with
    hand-written relational oracles that spell this same decimal snap,
    and the pinned operator==bridge bit-identity must keep one snap per
    family. The moment family (``moments``/``skew_kurt``) uses
    ``_snap4`` — see its docstring."""
    raw = F.col(col)
    snapped = (raw.cast("decimal(18,4)") * 10000).cast("bigint")
    return F.when(
        raw.isNotNull() & snapped.isNull(),
        F.raise_error(
            F.concat(
                F.lit(
                    f"stats operator domain: |{col}| exceeds the "
                    "DECIMAL(18,4) snap range (~1e14); got "
                ),
                raw.cast("string"),
            )
        ).cast("bigint"),
    ).otherwise(snapped)


def mann_whitney_u(
    df: DataFrame, value: str, sample: str, by: str
) -> DataFrame:
    """Per-``by``-group Mann-Whitney U over ``value`` split by the
    binary ``sample`` column (0 = first sample): returns
    (by, u0, u1, z) with average-rank tie handling and the
    tie-corrected normal z — exactly the bridge's contract
    (``chsql._mw_expr``), computed with window ranks instead of a
    collected fold."""
    v = _scaled(value)
    g = F.when(F.col(sample).cast("int") == 0, 0).otherwise(1)
    # null filter on the RAW columns, BEFORE the snap: a post-snap null
    # filter would silently drop overflowed values (ADVICE r08); with
    # raw nulls gone, _scaled raises on overflow instead
    base = df.filter(
        F.col(value).isNotNull() & F.col(sample).isNotNull()
    ).select(F.col(by).alias("g"), v.alias("v"), g.alias("s"))
    w_rank = Window.partitionBy("g").orderBy("v")
    w_tie = Window.partitionBy("g", "v")
    r = base.select(
        "g", "s", "v",
        (
            F.rank().over(w_rank).cast("double")
            + (F.count("*").over(w_tie).cast("double") - 1.0) / 2.0
        ).alias("ar"),
        F.count("*").over(w_tie).alias("teq"),
    )
    agg = r.groupBy("g").agg(
        F.sum(F.when(F.col("s") == 0, F.col("ar"))).alias("r0"),
        F.sum(F.when(F.col("s") == 0, 1).otherwise(0))
        .cast("double").alias("n0"),
        F.sum(F.when(F.col("s") != 0, 1).otherwise(0))
        .cast("double").alias("n1"),
        F.count("*").cast("double").alias("n"),
    )
    ties = (
        base.groupBy("g", "v")
        .agg(F.count("*").alias("tc"))
        .groupBy("g")
        .agg(
            F.sum(
                F.col("tc") * F.col("tc") * F.col("tc") - F.col("tc")
            ).alias("tsum")
        )
    )
    tail = mw_tail("r0", "n0", "n1", "n", "tsum", dialect="spark")
    return (
        agg.join(ties, "g")
        .selectExpr(f"g AS {by}", f"({tail}) AS mw")
        .selectExpr(by, "mw.u0 AS u0", "mw.u1 AS u1", "mw.z AS z")
    )


def ks_test(df: DataFrame, value: str, sample: str, by: str) -> DataFrame:
    """Per-``by``-group two-sample Kolmogorov-Smirnov D (exact — the
    integer ECDF-gap numerator over snapped values), computed with
    cumulative-count windows: the q173 oracle's spelling as a reusable
    operator."""
    v = _scaled(value)
    g = F.when(F.col(sample).cast("int") == 0, 0).otherwise(1)
    base = df.filter(  # raw-column null filter: the _scaled rule
        F.col(value).isNotNull() & F.col(sample).isNotNull()
    ).select(F.col(by).alias("g"), v.alias("v"), g.alias("s"))
    per_v = base.groupBy("g", "v").agg(
        F.sum(F.when(F.col("s") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("s") != 0, 1).otherwise(0)).alias("c1"),
    )
    w_cum = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per_v.select(
        "g",
        F.sum("c0").over(w_cum).alias("k0"),
        F.sum("c1").over(w_cum).alias("k1"),
    )
    tot = base.groupBy("g").agg(
        F.sum(F.when(F.col("s") == 0, 1).otherwise(0)).alias("n0i"),
        F.sum(F.when(F.col("s") != 0, 1).otherwise(0)).alias("n1i"),
    )
    dnum = (
        cum.join(tot, "g")
        .groupBy("g", "n0i", "n1i")
        .agg(
            F.max(
                F.abs(F.col("n1i") * F.col("k0") - F.col("n0i") * F.col("k1"))
            ).alias("dnum")
        )
    )
    tail = ks_tail(
        "dnum", "CAST(n0i AS DOUBLE)", "CAST(n1i AS DOUBLE)",
        dialect="spark",
    )
    return dnum.selectExpr(f"g AS {by}", f"({tail}).d AS d")


def weighted_quantile(
    df: DataFrame, value: str, weight: str, by: str, p: float
) -> DataFrame:
    """Per-``by``-group exact weighted quantile — ClickHouse's
    QuantileExactWeighted pick rule (sorted values, integer cumulative
    weights, first value whose cumulative weight reaches p * total) as
    a RELATIONAL operator: a cumulative-weight window over the keyed
    exchange, no collected state — the unbounded path of the q174
    bridge (same exact comparison operands, bit-identical results)."""
    if not (0.0 <= p <= 1.0):
        raise ValueError("quantile level must be in [0, 1]")
    v = _scaled(value)
    base = df.filter(  # raw-column null filter: the _scaled rule
        F.col(value).isNotNull() & F.col(weight).isNotNull()
    ).select(
        F.col(by).alias("g"), v.alias("v"),
        F.col(weight).cast("bigint").alias("w"),
    )
    w_cum = (
        Window.partitionBy("g")
        .orderBy("v", "w")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = base.select(
        "g", "v", F.sum("w").over(w_cum).alias("cw")
    )
    tot = base.groupBy("g").agg(F.sum("w").alias("tw"))
    picked = (
        cum.join(tot, "g")
        .filter(
            F.col("cw").cast("double")
            >= F.lit(float(p)) * F.col("tw").cast("double")
        )
        .groupBy("g")
        .agg(F.min("v").alias("vmin"))
    )
    return picked.select(
        F.col("g").alias(by),
        (F.col("vmin").cast("double") / 10000.0).alias("wq"),
    )


# ---------------------------------------------------------------------------
# Exact scaled moment sums — DECIMAL(38,0) lane + the limb-split BIGINT
# lever (round 9; VERDICT r08 #4 / SURVEY round-9 note #2). The limb
# constants and non-ANSI audit predicate are canonical in
# ``functions.chsql`` (round 10 — the dialect bridge emits the same
# spelling inline), imported above as _W / _LIMB_VMAX /
# _limb_audit_expr.
# ---------------------------------------------------------------------------


def moments(
    df: DataFrame, value: str, by: str, method: str = "decimal"
) -> DataFrame:
    """Per-``by``-group EXACT scaled moment sums of ``value``: returns
    (by, n, s1, s2, s3, s4) where s_k = sum(v^k) over the DECIMAL(18,4)
    snap v = round(value * 1e4) as exact DECIMAL(38,0) integers — the
    inputs every q164-family tail (skew/kurt/covar/stddev) derives
    from.

    ``method="decimal"`` is the bridge's lane (``chsql._moment_tails``):
    v casts to DECIMAL(38,0) and the per-row products v*v*v*v are boxed
    BigDecimal ops — partitioning-independent, |x| <= ~3e5, but ~15x
    slower per row than a native int128 engine (SURVEY §2.J, the q164
    probe row).

    ``method="limb"`` is the pure-BIGINT lever: every power is computed
    per row in base-2^30 LIMBS with explicit carries (v^2 = A*2^30 + B;
    v^3 = d2*2^60 + d1*2^30 + d0; v^4 = e3*2^90 + e2*2^60 + e1*2^30 +
    e0 — all int64 ops inside whole-stage codegen), the group
    aggregates are TEN plain BIGINT sums, and ONE DECIMAL(38,0) Horner
    recombination per group rebuilds the exact s_k. Identical integers
    by construction -> any downstream tail is bit-identical to the
    decimal lane (test-pinned in tests/test_stats_operators.py).

    Overflow posture (the "audited" in domain-gated-and-audited): under
    ANSI (the engine default) any int64 overflow raises natively.  For
    non-ANSI sessions the aggregate also carries count + max(|v|) and
    the recombination raises in-plan when the conservative bound
    n * max(M, M^2/2^30, M^3/2^60, M^4/2^90, 2^30) >= 2^62 or
    M > 1.8e9 is violated — never a silent wrap (the cubic/quartic
    terms bound the TOP recombination digits d2/e3, which exceed the
    quadratic term at the domain edge). The audit arithmetic runs in
    DOUBLE (bounds only; exactness is not needed to *reject*).

    Scale shape: one ``by`` exchange with map-side partial aggregation
    of ten longs (vs four BigDecimals); scan-dominated otherwise.
    """
    v = _snap4(value)
    base = df.filter(F.col(value).isNotNull()).select(
        F.col(by).alias("g"), v.alias("v")
    )
    if method == "decimal":
        sv = F.col("v").cast("decimal(38,0)")
        return base.groupBy("g").agg(
            F.count("*").alias("n"),
            F.sum(sv).alias("s1"),
            F.sum(sv * sv).alias("s2"),
            F.sum(sv * sv * sv).alias("s3"),
            F.sum(sv * sv * sv * sv).alias("s4"),
        ).select(F.col("g").alias(by), "n", "s1", "s2", "s3", "s4")
    if method != "limb":
        raise ValueError(f"unknown moments method {method!r}")
    limbed = base.selectExpr(
        "g",
        "v",
        f"v * v AS p2",
    ).selectExpr(
        "g",
        "v",
        f"p2 DIV {_W} AS a",
        f"p2 % {_W} AS b",
    ).selectExpr(
        "g", "v", "a", "b",
        # v^3 = (v*a + carry(v*b)) * W + d0 — base-2^30 digits. The
        # v-carrying terms are SIGNED, so their digit/carry pairs use
        # pmod + floor-div; the pure p2-derived terms (a, b, b*b, 2ab,
        # a*a) are nonnegative, where % and DIV are the same thing and
        # cheaper.
        f"pmod(v * b, {_W}) AS d0",
        f"v * a + (v * b - pmod(v * b, {_W})) DIV {_W} AS t1",
        # v^4 = (a^2 + carry(2ab + carry(b^2))) * W^2 + e1*W + e0
        f"b * b % {_W} AS e0",
        f"2 * a * b + b * b DIV {_W} AS u1",
    ).selectExpr(
        "g", "v", "a", "b", "d0", "e0",
        f"pmod(t1, {_W}) AS d1",
        f"(t1 - pmod(t1, {_W})) DIV {_W} AS d2",
        f"u1 % {_W} AS e1",
        f"a * a + u1 DIV {_W} AS u2",
    ).selectExpr(
        "g", "v", "a", "b", "d0", "d1", "d2", "e0", "e1",
        f"u2 % {_W} AS e2",
        f"u2 DIV {_W} AS e3",
    )
    agg = limbed.groupBy("g").agg(
        F.count("*").alias("n"),
        F.max(F.abs(F.col("v"))).alias("vmax"),
        F.sum("v").alias("z1"),
        F.sum("a").alias("z2a"),
        F.sum("b").alias("z2b"),
        F.sum("d2").alias("z3c"),
        F.sum("d1").alias("z3b"),
        F.sum("d0").alias("z3a"),
        F.sum("e3").alias("z4d"),
        F.sum("e2").alias("z4c"),
        F.sum("e1").alias("z4b"),
        F.sum("e0").alias("z4a"),
    )
    audit = _limb_audit_expr()

    def _guard(expr: str, alias: str) -> str:
        return (
            f"CASE WHEN {audit} THEN CAST(raise_error(CONCAT("
            f"'moments(method=limb) domain: group ', CAST(g AS STRING), "
            f"' exceeds the limb audit (n=', CAST(n AS STRING), "
            f"', max|v|=', CAST(vmax AS STRING), "
            f"') — use method=decimal')) AS DECIMAL(38,0)) "
            f"ELSE CAST({expr} AS DECIMAL(38,0)) END AS {alias}"
        )

    w = f"CAST({_W} AS DECIMAL(38,0))"
    return agg.selectExpr(
        "g", "n", "vmax",
        _guard("z1", "s1"),
        _guard(f"CAST(z2a AS DECIMAL(38,0)) * {w} + z2b", "s2"),
        _guard(
            f"(CAST(z3c AS DECIMAL(38,0)) * {w} + z3b) * {w} + z3a", "s3"
        ),
        _guard(
            f"((CAST(z4d AS DECIMAL(38,0)) * {w} + z4c) * {w} + z4b) "
            f"* {w} + z4a",
            "s4",
        ),
    ).select(F.col("g").alias(by), "n", "s1", "s2", "s3", "s4")


def skew_kurt(
    df: DataFrame, value: str, by: str, method: str = "decimal"
) -> DataFrame:
    """Per-``by``-group skewPop/skewSamp/kurtPop/kurtSamp from exact
    moment sums — the q164 family as a reusable relational operator.
    Both ``method`` lanes feed the SAME IEEE tail emitter
    (``chsql.moment_tails_from_sums``), so decimal- and limb-derived
    results are bit-identical to each other and to the dialect bridge
    (``skewPop(x)`` through ``ch_sql``) on the same data."""
    tails = moment_tails_from_sums("n", "s1", "s2", "s3", "s4")
    return moments(df, value, by, method=method).selectExpr(
        by,
        f"({tails['skewPop']}) AS skew_pop",
        f"({tails['skewSamp']}) AS skew_samp",
        f"({tails['kurtPop']}) AS kurt_pop",
        f"({tails['kurtSamp']}) AS kurt_samp",
    )


def distribution_ranks(
    df: DataFrame,
    part_col: str,
    order_cols: list[str],
    n_buckets: int = 4,
    n_ranges: int = 32,
    rel_err: float = 0.01,
    cuts: list[float] | None = None,
) -> DataFrame:
    """ntile / percent_rank / cume_dist WITHOUT the one-task-per-key
    window — the 100 TB lever for LOW-CARDINALITY partition keys (the
    q57 class: a 5-value priority column caps the window at 5 tasks no
    matter how many cores or how much data).

    Requires a UNIQUE total ordering (``order_cols`` must end with a
    tiebreaker, e.g. the primary key): with no ties, rank == position,
    so all three distribution functions are pure arithmetic over
    (per-key position, per-key count) — and position parallelizes with
    the q138 two-phase device composed with q130's broadcast cuts:

    1. ``approxQuantile`` cut points on the first order column (ONE
       bounded driver collect at prepare — the index-build contract)
       define ``n_ranges`` monotone value buckets as a projection;
    2. per-(key, bucket) counts roll into a broadcast-sized offset
       ledger (K x n_ranges rows however big the corpus);
    3. the only per-row window is row_number PARTITIONED BY
       (key, bucket) — K x n_ranges parallel sorts, each bounded at
       ~1/n_ranges of a key's rows;
    4. position = bucket offset + local row number; ntile's
       unequal-bucket rule, percent_rank's (pos-1)/(n-1) and
       cume_dist's pos/n are projections over the broadcast totals.

    Output: input columns + (quartile INT, pct_rank DOUBLE, cdist
    DOUBLE) — bit-identical to the window spelling on a unique
    ordering (pytest-pinned; the probe shows the parallelism).
    Approximate cuts NEVER affect values — only bucket balance.
    Pass ``cuts`` (any ascending value boundaries on the first order
    column) to skip the approxQuantile pass — the q130 contract: cut
    points are INDEX-BUILD state a deployment computes once per
    table, not per query; stale cuts skew bucket balance, never
    values."""
    ocol = order_cols[0]
    tail = [F.col(c) for c in order_cols[1:]]
    if cuts is None:
        probs = [i / n_ranges for i in range(1, n_ranges)]
        cuts = df.stat.approxQuantile(ocol, probs, rel_err)
    cuts = sorted(set(cuts))
    bkt = F.lit(0)
    for c in cuts:
        bkt = bkt + F.when(F.col(ocol) > F.lit(c), 1).otherwise(0)
    b = df.withColumn("_bkt", bkt.cast("int"))
    off_w = (
        Window.partitionBy(part_col)
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tot_w = Window.partitionBy(part_col)
    ledger = (
        b.groupBy(part_col, "_bkt")
        .agg(F.count("*").alias("_sub"))
        .withColumn("_off", F.coalesce(F.sum("_sub").over(off_w), F.lit(0)))
        .withColumn("_n", F.sum("_sub").over(tot_w))
        .drop("_sub")
    )
    loc_w = Window.partitionBy(part_col, "_bkt").orderBy(
        F.col(ocol), *tail
    )
    pos = (F.col("_off") + F.row_number().over(loc_w)).alias("_pos")
    scored = b.join(F.broadcast(ledger), [part_col, "_bkt"]).select(
        *df.columns, pos, F.col("_n").alias("_n")
    )
    n, p = F.col("_n"), F.col("_pos")
    k = F.lit(n_buckets)
    big = (n / k).cast("long") + 1  # size of the first (n % k) buckets
    n_big = n % k
    quartile = (
        F.when(p <= n_big * big, F.ceil(p / big))
        .otherwise(
            n_big
            + F.ceil((p - n_big * big) / F.nullif((n / k).cast("long"), F.lit(0)))
        )
        .cast("int")
    )
    pct = F.when(n == 1, F.lit(0.0)).otherwise(
        (p - 1).cast("double") / (n - 1).cast("double")
    )
    cdist = p.cast("double") / n.cast("double")
    return scored.select(
        *df.columns,
        quartile.alias("quartile"),
        pct.alias("pct_rank"),
        cdist.alias("cdist"),
    )
