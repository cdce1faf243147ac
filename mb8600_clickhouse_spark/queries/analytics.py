"""Round-8 declared queries: the ClickHouse analytical-dialect surface
VERBATIM through the bridge — statistical aggregates (q164), hypothesis
tests (q165), URL functions (q166), counter/time-series aggregates
(q167/q168), array and string vocabularies (q169/q170/q182), interval
sweeps (q171), IPv4 (q172), KS + categorical association (q173),
weighted aggregates (q174), bit/mapping/fold bridges (q175), arrayAUC
(q176), sequenceNextNode (q177), JSON extraction (q178), geo (q179),
-Array combinators (q180), scalar WITH constants (q181), vector
distances (q183), the dialect and window capstones (q184/q186), the
unbounded relational two-sample path (q185), and the MinHash-LSH
recall evaluation (q187).

Oracles are GENERATED from the same expression emitters the bridge
uses (``chsql.stats_agg_sql`` with the DuckDB int128/cast spelling —
the q162 device), so the IEEE tails are textually identical and the
outputs bit-identical over the exact scaled-integer moment sums. The
one snapped output is entropy (libm log2 is not cross-engine
bit-stable; measured ~23% of integer inputs differ between Spark's
Java log2 and DuckDB's libm — the DECIMAL(18,6) output snap absorbs
the ~1e-13 combined error).

Reference parity: extends §2.E's ClickHouse aggregate surface — the
reference's consumers run these over the docsis rollups
(`tables.sql:5-30` is the natural home for skew/kurt SNR monitoring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.chsql import entropy_tail, ks_tail, mw_tail, stats_agg_sql
from ..tables import load_tables, register_views
from . import query

_DUCK = dict(int128="HUGEINT", dialect="duck")

#: Driver-shape rendering for array results (the q07 list-cell rule):
#: the driver's canonicalizer does a raw-cell pandas ``sort_values``,
#: so a list cell is a TypeError — every declared output column must be
#: scalar. Array results are joined into ONE deterministic string cell
#: with chr(31) (US, cannot occur in tokenized text) mirrored by DuckDB
#: ``array_to_string(..., chr(31))``; empty arrays render '' on both
#: sides (Spark concat_ws natively; DuckDB via COALESCE).
_SEP31 = "\u001f"


def _arr_str(c: str):
    """array<string> column -> chr(31)-joined scalar string cell."""
    return F.concat_ws(_SEP31, F.col(c)).alias(c)


def _arr_cast(c: str):
    """array<int/bigint> column -> chr(31)-joined scalar string cell
    (element-wise CAST mirrors DuckDB array_to_string's int rendering)."""
    return F.concat_ws(
        _SEP31, F.expr(f"transform({c}, x -> CAST(x AS STRING))")
    ).alias(c)

# ---------------------------------------------------------------------------
# Q164 statistical aggregate family over events
# ---------------------------------------------------------------------------
_Q164_CLICKHOUSE_SQL = """
    SELECT concat(event_type, '_', CAST(user_id % 13 AS STRING)) AS grp,
           avgWeighted(value, user_id + 1) AS aw,
           skewPop(value) AS skew_pop,
           skewSamp(value) AS skew_samp,
           kurtPop(value) AS kurt_pop,
           kurtSamp(value) AS kurt_samp,
           covarPop(value, user_id) AS covar_p,
           covarSamp(value, user_id) AS covar_s,
           boundingRatio(toUnixTimestamp(ts), value) AS brat,
           CAST(entropy(user_id % 7) AS DOUBLE) AS ent
    FROM events
    GROUP BY grp
"""


def _q164_oracle() -> str:
    cols = {
        "aw": stats_agg_sql("avgWeighted", ["value", "user_id + 1"], **_DUCK),
        "skew_pop": stats_agg_sql("skewPop", ["value"], **_DUCK),
        "skew_samp": stats_agg_sql("skewSamp", ["value"], **_DUCK),
        "kurt_pop": stats_agg_sql("kurtPop", ["value"], **_DUCK),
        "kurt_samp": stats_agg_sql("kurtSamp", ["value"], **_DUCK),
        "covar_p": stats_agg_sql("covarPop", ["value", "user_id"], **_DUCK),
        "covar_s": stats_agg_sql("covarSamp", ["value", "user_id"], **_DUCK),
        "brat": stats_agg_sql(
            "boundingRatio",
            ["CAST(floor(epoch(ts)) AS BIGINT)", "value"],
            **_DUCK,
        ),
    }
    agg = ", ".join(f"{v} AS {k}" for k, v in cols.items())
    ent = entropy_tail(
        "SUM(cnt)", "SUM(CAST(cnt AS DOUBLE) * log2(CAST(cnt AS DOUBLE)))"
    )
    return f"""
    WITH base AS (
      SELECT event_type || '_' || CAST(user_id % 13 AS VARCHAR) AS grp,
             {agg}
      FROM events GROUP BY grp
    ),
    ent AS (
      SELECT grp, CAST({ent} AS DOUBLE) AS ent FROM (
        SELECT event_type || '_' || CAST(user_id % 13 AS VARCHAR) AS grp,
               CAST(user_id % 7 AS VARCHAR) AS xv, COUNT(*) AS cnt
        FROM events GROUP BY grp, xv
      ) GROUP BY grp
    )
    SELECT base.*, ent.ent FROM base JOIN ent USING (grp)
    ORDER BY grp
    """


@query("q164_stats_aggregates", oracle=_q164_oracle())
def q164(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse's statistical aggregate family VERBATIM through the
    bridge (``chsql._rewrite_stats_aggs``): weighted mean, population/
    sample skewness and (non-excess) kurtosis, covariances, the
    leftmost-to-rightmost slope ``boundingRatio``, and Shannon
    ``entropy`` — per (event_type, user-bucket) group.

    Exactness: every family member folds DECIMAL(18,4)-snapped values
    as exact scaled integers, then derives the statistic through ONE
    fixed IEEE expression of correctly rounded ops (divide/multiply/
    sqrt). Since round 10 the Spark side's skew/kurt/covar emit the
    limb-split BIGINT spelling by default (``chsql._limb_moment_sums``:
    ten base-2^30 digit sums per group in whole-stage codegen, one
    DECIMAL(38,0) Horner recombination — ``chsql.set_stats_lane``
    selects the boxed DECIMAL(38,0) lane for |x| in (1.8e5, 3e5]); the
    oracle keeps the HUGEINT spelling. Both lanes produce the same
    exact integer sums, so the shared IEEE tails stay bit-identical
    (test-pinned in tests/test_stats_operators.py::TestBridgeLimbLane).

    Measured shape (round 10, local[32]): at a 10M-row moment scan the
    limb lane runs 2.8 s vs the decimal lane's 9.5 s and the DuckDB
    oracle's 0.95 s — the residual ~2.9x is ENTIRELY the per-row
    double -> DECIMAL(18,4) snap cast (Spark's double->decimal cast
    stringifies; 2.87 s measured for the snap alone), with the digit
    algebra itself at oracle parity (raw-BIGINT variant 1.09 s). At
    sf0.1 (100k events) the whole query is floor-bound: scan+exchange
    count(*)-only measures 0.34 s warm and the full query 0.62 s
    against a 0.11 s oracle — lane choice does not move it (both
    lanes 0.61-0.64 s warm min-of-3); the gap closes as data grows
    (10x-probe above), which is the 100 TB design point. Two cross-engine
    hazards are handled explicitly: DuckDB's HUGEINT->DOUBLE cast
    double-rounds above 2^53 (the oracle spells the correctly rounded
    VARCHAR round-trip instead), and libm log2 is not bit-stable
    (entropy's output snaps to DECIMAL(18,6), absorbing ~1e-13 of
    combined log+sum-order noise). covarPop/covarSamp deliberately do
    NOT map to Spark's native covar_pop/covar_samp: their streaming
    accumulation is partition-order-dependent in the last ulps.

    Divergences from ClickHouse (documented in the rewrite): degenerate
    groups (n < 2, zero variance, zero weight/x-range) return NULL
    rather than nan/exception; boundingRatio ties on x resolve by the
    (x, y) struct order; entropy treats the value as its string form.

    Scale: one map-side-combined exchange on the group key; every
    aggregate is a constant number of partial sums — the same shape as
    q09's hash aggregation, no collected state (entropy's fold is over
    the per-group DISTINCT values of a 7-value bucket column).

    Reference parity: `tables.sql:5-30`'s docsis rollups are the
    natural consumer (SNR skew/kurtosis monitoring)."""
    from ..functions.chsql import ch_sql
    from .relational import vsort

    register_views(spark, sf_dir)
    return vsort(ch_sql(spark, _Q164_CLICKHOUSE_SQL), "grp")


# ---------------------------------------------------------------------------
# Q165 hypothesis tests over a bounded event slice
# ---------------------------------------------------------------------------
_Q165_CLICKHOUSE_SQL = """
    SELECT event_type,
           studentTTest(value, user_id % 2).t_stat AS t_student,
           studentTTest(value, user_id % 2).df AS df_student,
           welchTTest(value, user_id % 2).t_stat AS t_welch,
           welchTTest(value, user_id % 2).df AS df_welch,
           mannWhitneyUTest(value, user_id % 2).u0 AS mw_u0,
           mannWhitneyUTest(value, user_id % 2).u1 AS mw_u1,
           mannWhitneyUTest(value, user_id % 2).z AS mw_z
    FROM events
    WHERE user_id % 97 = 13
    GROUP BY event_type
"""


def _q165_oracle() -> str:
    tt = stats_agg_sql("studentTTest", ["value", "user_id % 2"], **_DUCK)
    wt = stats_agg_sql("welchTTest", ["value", "user_id % 2"], **_DUCK)
    mw = mw_tail("r0", "n0", "n1", "n", "tsum", dialect="duck")
    return f"""
    WITH e AS (SELECT * FROM events WHERE user_id % 97 = 13),
    base AS (
      SELECT event_type,
             ({tt}).t_stat AS t_student, ({tt}).df AS df_student,
             ({wt}).t_stat AS t_welch, ({wt}).df AS df_welch
      FROM e GROUP BY event_type
    ),
    r AS (
      SELECT event_type, CAST(user_id % 2 AS INT) AS g,
             CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS v,
             RANK() OVER (PARTITION BY event_type ORDER BY
               CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)) AS rk,
             COUNT(*) OVER (PARTITION BY event_type,
               CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)) AS teq
      FROM e
    ),
    mwin AS (
      SELECT event_type,
             SUM(CASE WHEN g = 0 THEN CAST(rk AS DOUBLE) +
                 (CAST(teq AS DOUBLE) - 1.0) / 2.0 END) AS r0,
             CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n0,
             CAST(SUM(CASE WHEN g <> 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM r GROUP BY event_type
    ),
    ties AS (
      SELECT event_type, SUM(tc * tc * tc - tc) AS tsum FROM (
        SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS tc
        FROM r GROUP BY event_type, v
      ) GROUP BY event_type
    )
    SELECT base.*, ({mw}).u0 AS mw_u0, ({mw}).u1 AS mw_u1, ({mw}).z AS mw_z
    FROM base JOIN mwin USING (event_type) JOIN ties USING (event_type)
    ORDER BY event_type
    """


@query("q165_hypothesis_tests", oracle=_q165_oracle())
def q165(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``studentTTest`` / ``welchTTest`` /
    ``mannWhitneyUTest`` VERBATIM through the bridge — the A/B-testing
    aggregate trio, split on user parity over a bounded slice.

    The t-tests are pure moment algebra (per-sample exact scaled sums
    -> one IEEE tree: pooled/unpooled variance, t statistic, Welch-
    Satterthwaite df); the U test needs the values' RANKS, which the
    Spark side derives inside one aggregate expression — collect the
    (value, sample) pairs, fold avg-ranks as exact halves (order-free:
    every addend is an exact multiple of 0.5 below 2^53), with the
    classic tie-corrected normal z. The ORACLE computes the identical
    ranks RELATIONALLY (window rank + tie counts — no list folds:
    DuckDB 1.0's list_reduce has the q162 row-varying-slice
    vectorization bug) and shares the bridge's IEEE tail text, so the
    hash pins both computation paths to the same bits.

    Divergence from ClickHouse (documented in the rewrite): CH returns
    (statistic, p-value) tuples; the p-value needs the regularized
    incomplete beta / normal CDF, which neither engine exposes — the
    bridge returns (t_stat, df) / (u0, u1, z), from which p is a pure
    client-side lookup. Degenerate samples return NULL, not nan.

    Scale: the t-tests are scan-speed partial sums (no per-group
    state). The U fold collects the group's (v, g) pairs and rank-folds
    in O(n^2) per group — correct for the bounded slices this query
    contracts (the behavioral-aggregate collect rule, q135-q148); the
    window-rank spelling the oracle uses IS the distributed upgrade
    path (rank + tie counts over a keyed window, no collect) when a
    group's cardinality is unbounded."""
    from ..functions.chsql import ch_sql
    from .relational import vsort

    register_views(spark, sf_dir)
    return vsort(ch_sql(spark, _Q165_CLICKHOUSE_SQL), "event_type")


# ---------------------------------------------------------------------------
# Q166 URL function family over a planted URL corpus
# ---------------------------------------------------------------------------
_Q166_URL_PLANT_CH = """
      SELECT doc_id,
        concat(
          CASE WHEN doc_id % 3 = 0 THEN 'https://'
               WHEN doc_id % 3 = 1 THEN 'http://' ELSE '' END,
          CASE WHEN doc_id % 7 = 0 THEN 'user:pw@' ELSE '' END,
          CASE doc_id % 6
            WHEN 0 THEN 'www.Example.COM' WHEN 1 THEN 'news.site.org'
            WHEN 2 THEN 'example.com.tr' WHEN 3 THEN 'a.b.co'
            WHEN 4 THEN 'files.example.net' ELSE 'deep.sub.example.com' END,
          CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END,
          CASE doc_id % 4
            WHEN 0 THEN '' WHEN 1 THEN '/x'
            WHEN 2 THEN concat('/a/', CAST(doc_id % 50 AS STRING))
            ELSE '/a/b/c/' END,
          CASE doc_id % 5
            WHEN 1 THEN '?p=1'
            WHEN 2 THEN concat('?p=', CAST(doc_id % 9 AS STRING), '&q=2')
            WHEN 3 THEN '?utm=z&p=7' ELSE '' END,
          CASE WHEN doc_id % 9 = 0 THEN '#sec' ELSE '' END
        ) AS url
      FROM documents
"""

_Q166_CLICKHOUSE_SQL = f"""
    SELECT doc_id, url,
           protocol(url) AS proto,
           domain(url) AS host,
           domainWithoutWWW(url) AS host_nw,
           topLevelDomain(url) AS tld,
           firstSignificantSubdomain(url) AS fss,
           path(url) AS upath,
           pathFull(url) AS upath_full,
           queryString(url) AS qs,
           fragment(url) AS frag,
           queryStringAndFragment(url) AS qsf,
           extractURLParameter(url, 'p') AS param_p,
           cutQueryString(url) AS cut_qs,
           cutFragment(url) AS cut_frag,
           cutQueryStringAndFragment(url) AS cut_qsf,
           cutWWW(url) AS cut_www
    FROM ({_Q166_URL_PLANT_CH})
"""

_Q166_HOSTRE = r"'^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/?#@]*@)?([^/?#:]+)'"


def _q166_oracle() -> str:
    d = f"regexp_extract(url, {_Q166_HOSTRE}, 1)"
    labels = f"string_split({d}, '.')"
    return rf"""
    WITH u AS (
      SELECT doc_id,
        (CASE WHEN doc_id % 3 = 0 THEN 'https://'
              WHEN doc_id % 3 = 1 THEN 'http://' ELSE '' END) ||
        (CASE WHEN doc_id % 7 = 0 THEN 'user:pw@' ELSE '' END) ||
        (CASE doc_id % 6
           WHEN 0 THEN 'www.Example.COM' WHEN 1 THEN 'news.site.org'
           WHEN 2 THEN 'example.com.tr' WHEN 3 THEN 'a.b.co'
           WHEN 4 THEN 'files.example.net' ELSE 'deep.sub.example.com' END) ||
        (CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END) ||
        (CASE doc_id % 4
           WHEN 0 THEN '' WHEN 1 THEN '/x'
           WHEN 2 THEN '/a/' || CAST(doc_id % 50 AS VARCHAR)
           ELSE '/a/b/c/' END) ||
        (CASE doc_id % 5
           WHEN 1 THEN '?p=1'
           WHEN 2 THEN '?p=' || CAST(doc_id % 9 AS VARCHAR) || '&q=2'
           WHEN 3 THEN '?utm=z&p=7' ELSE '' END) ||
        (CASE WHEN doc_id % 9 = 0 THEN '#sec' ELSE '' END) AS url
      FROM documents
    )
    SELECT doc_id, url,
      regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1) AS proto,
      {d} AS host,
      regexp_replace({d}, '^www\.', '') AS host_nw,
      regexp_extract({d}, '\.([^.]+)$', 1) AS tld,
      CASE WHEN len({labels}) <= 1 THEN ''
           WHEN len({labels}) >= 3 AND {labels}[-2] IN
             ('com','net','org','co','biz','gov','mil','edu')
           THEN {labels}[-3]
           ELSE {labels}[-2] END AS fss,
      regexp_extract(url,
        '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?[^/?#]*([^?#]*)', 1) AS upath,
      regexp_extract(url,
        '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?[^/?#]*(.*)$', 1) AS upath_full,
      CASE WHEN regexp_matches(url, '^[^#]*\?')
           THEN regexp_extract(url, '\?([^#]*)', 1) ELSE '' END AS qs,
      regexp_extract(url, '#(.*)$', 1) AS frag,
      CASE WHEN regexp_matches(url, '^[^#]*\?')
           THEN regexp_extract(url, '\?(.*)$', 1)
           WHEN regexp_matches(url, '#')
           THEN regexp_extract(url, '(#.*)$', 1)
           ELSE '' END AS qsf,
      regexp_extract(url, '[?&]\Qp\E=([^&#]*)', 1) AS param_p,
      regexp_extract(url, '^([^#?]*)', 1) ||
        regexp_extract(url, '(#.*)$', 1) AS cut_qs,
      regexp_replace(url, '#.*$', '') AS cut_frag,
      regexp_extract(url, '^([^#?]*)', 1) AS cut_qsf,
      regexp_replace(url,
        '^((?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/?#@]*@)?)www\.', '\1')
        AS cut_www
    FROM u
    ORDER BY doc_id
    """


@query("q166_url_functions", oracle=_q166_oracle())
def q166(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse's URL function vocabulary VERBATIM as registered
    scalars (``functions/clickhouse.py`` round-8 block): protocol /
    domain / domainWithoutWWW / topLevelDomain /
    firstSignificantSubdomain / path / pathFull / queryString /
    fragment / queryStringAndFragment / extractURLParameter /
    cutQueryString / cutFragment / cutQueryStringAndFragment / cutWWW —
    over URLs PLANTED deterministically on the fixture (the q126/q131
    device: schemes incl. scheme-less, userinfo, mixed-case www hosts,
    ccTLD chains like example.com.tr, ports, empty/deep/trailing-slash
    paths, repeated params, fragments — every branch of every regex).

    Every function is a pure RE2-compatible regex projection, so the
    DuckDB oracle replays the IDENTICAL patterns (the q131
    dialect-parity contract: anchored single-match replaces, \\Q..\\E
    literal quoting for the dynamic parameter name, no lookaround) and
    the hash pins Java-vs-RE2 regex behavior across all 16 outputs.
    Documented deltas from ClickHouse: firstSignificantSubdomain uses
    the canonical generic-second-level rule, not CH's embedded
    public-suffix list; invalid/relative URLs yield '' everywhere.

    Scale: one narrow scan-speed projection — no exchange at all
    (Catalyst-inlined SQL functions, whole-stage codegen; the same
    shape as q126/q131's curation projections).

    Reference parity: extends the §2.E dialect surface; the crawl
    pipeline (q131/q150/q156) consumes domain/path policy decisions
    built from exactly these primitives."""
    from ..functions.chsql import ch_sql
    from .relational import vsort

    register_views(spark, sf_dir)
    return vsort(ch_sql(spark, _Q166_CLICKHOUSE_SQL), "doc_id")


# ---------------------------------------------------------------------------
# Q167 counter/time-series aggregates: deltaSum / deltaSumTimestamp / EMA
# ---------------------------------------------------------------------------
_Q167_CLICKHOUSE_SQL = """
    SELECT user_id,
           deltaSum(value, event_id) AS dsum,
           deltaSumTimestamp(value, toUnixTimestamp(ts)) AS dsum_ts,
           CAST(exponentialMovingAverage(3600)(value, toUnixTimestamp(ts))
                AS DOUBLE) AS ema_1h,
           CAST(exponentialMovingAverage(86400)(value, toUnixTimestamp(ts))
                AS DOUBLE) AS ema_1d
    FROM events
    WHERE user_id % 23 = 7
    GROUP BY user_id
"""

_Q167_ORACLE = """
    WITH e AS (
      SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS tsec
      FROM events WHERE user_id % 23 = 7
    ),
    s AS (
      SELECT user_id, event_id, tsec,
             CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS v,
             CAST(value AS DOUBLE) AS vr
      FROM e
    ),
    p AS (
      SELECT user_id,
             GREATEST(v - lag(v) OVER
               (PARTITION BY user_id ORDER BY event_id, v), 0) AS d1,
             GREATEST(v - lag(v) OVER
               (PARTITION BY user_id ORDER BY tsec, v), 0) AS d2
      FROM s
    ),
    dd AS (SELECT user_id, SUM(d1) AS ds, SUM(d2) AS dst FROM p
           GROUP BY user_id),
    w AS (
      SELECT user_id, vr,
             power(CAST(2.0 AS DOUBLE), (CAST(tsec AS DOUBLE) -
               max(CAST(tsec AS DOUBLE)) OVER (PARTITION BY user_id)) /
               CAST(3600.0 AS DOUBLE)) AS w1,
             power(CAST(2.0 AS DOUBLE), (CAST(tsec AS DOUBLE) -
               max(CAST(tsec AS DOUBLE)) OVER (PARTITION BY user_id)) /
               CAST(86400.0 AS DOUBLE)) AS w2
      FROM s
    ),
    d3 AS (
      SELECT user_id,
             CAST(CAST(SUM(vr * w1) / SUM(w1) AS DECIMAL(18,6))
                  AS DOUBLE) AS ema_1h,
             CAST(CAST(SUM(vr * w2) / SUM(w2) AS DECIMAL(18,6))
                  AS DOUBLE) AS ema_1d
      FROM w GROUP BY user_id
    )
    SELECT dd.user_id, CAST(dd.ds AS DOUBLE) / 10000.0 AS dsum,
           CAST(dd.dst AS DOUBLE) / 10000.0 AS dsum_ts,
           d3.ema_1h, d3.ema_1d
    FROM dd JOIN d3 USING (user_id)
    ORDER BY dd.user_id
"""


@query("q167_delta_ema", oracle=_Q167_ORACLE)
def q167(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``deltaSum`` / ``deltaSumTimestamp`` /
    ``exponentialMovingAverage`` VERBATIM through the bridge
    (``chsql._rewrite_delta_ema``): per-user sum of positive
    consecutive value deltas (the counter-reset-tolerant rate family,
    E10's aggregate sibling) in event order and in timestamp order,
    plus time-decayed means at 1-hour and 1-day half-lives.

    Exactness: deltas fold as DECIMAL(18,4)-scaled BIGINTs over an
    explicitly keyed sort (CH's 1-arg block-order form rejects; ties
    break by value — the groupArrayMovingSum discipline), so both
    engines see identical integers; the oracle computes the SAME
    deltas relationally (window lag) — two computation paths, one
    exact answer. EMA weights are libm 2^x (not bit-stable) with
    order-sensitive sums, so its output snaps to DECIMAL(18,6) — the
    entropy device (~1e-15 relative error vs a 1e-6 grid); weights
    center on the group's max timestamp so every weight is in (0, 1]
    at epoch scale (ancient points underflow to 0 — semantically
    right for a decay).

    Scale: one user_id exchange; the delta folds carry the collected
    per-entity list (the behavioral-aggregate contract, probed linear
    on hot entities); EMA is two scan-speed weighted sums once the
    group max is windowed.

    Reference parity: the counter-delta upgrade of `mb8600.py`'s
    codeword counters (SURVEY §2.E10) — deltaSum IS the CH idiom the
    reference's dashboards would use for reset-tolerant rates."""
    from ..functions.chsql import ch_sql
    from .relational import vsort

    register_views(spark, sf_dir)
    return vsort(ch_sql(spark, _Q167_CLICKHOUSE_SQL), "user_id")


# ---------------------------------------------------------------------------
# Q168 window navigation: lagInFrame / leadInFrame / nonNegativeDerivative
# ---------------------------------------------------------------------------
_Q168_CLICKHOUSE_SQL = """
    SELECT event_id, user_id, value,
           lagInFrame(value) OVER
             (PARTITION BY user_id ORDER BY event_id) AS prev_v,
           leadInFrame(value) OVER
             (PARTITION BY user_id ORDER BY event_id) AS next_v,
           lagInFrame(value, 3) OVER
             (PARTITION BY user_id ORDER BY event_id) AS prev3_v,
           nonNegativeDerivative(value, toUnixTimestamp(ts)) OVER
             (PARTITION BY user_id ORDER BY event_id) AS rate_per_s
    FROM events
    WHERE user_id % 29 = 11
"""

_Q168_ORACLE = """
    WITH e AS (
      SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS tsec
      FROM events WHERE user_id % 29 = 11
    )
    SELECT event_id, user_id, value,
           lag(value) OVER
             (PARTITION BY user_id ORDER BY event_id) AS prev_v,
           lead(value) OVER
             (PARTITION BY user_id ORDER BY event_id) AS next_v,
           lag(value, 3) OVER
             (PARTITION BY user_id ORDER BY event_id) AS prev3_v,
           (CASE WHEN (CAST(value AS DOUBLE) - lag(CAST(value AS DOUBLE))
                  OVER (PARTITION BY user_id ORDER BY event_id)) IS NULL
                  OR (CAST(tsec AS DOUBLE) - lag(CAST(tsec AS DOUBLE))
                  OVER (PARTITION BY user_id ORDER BY event_id)) IS NULL
                  OR (CAST(tsec AS DOUBLE) - lag(CAST(tsec AS DOUBLE))
                  OVER (PARTITION BY user_id ORDER BY event_id)) = 0.0
             THEN CAST(NULL AS DOUBLE)
             WHEN (CAST(value AS DOUBLE) - lag(CAST(value AS DOUBLE))
                  OVER (PARTITION BY user_id ORDER BY event_id)) /
                  (CAST(tsec AS DOUBLE) - lag(CAST(tsec AS DOUBLE))
                  OVER (PARTITION BY user_id ORDER BY event_id)) < 0.0
             THEN 0.0
             ELSE (CAST(value AS DOUBLE) - lag(CAST(value AS DOUBLE))
                  OVER (PARTITION BY user_id ORDER BY event_id)) /
                  (CAST(tsec AS DOUBLE) - lag(CAST(tsec AS DOUBLE))
                  OVER (PARTITION BY user_id ORDER BY event_id)) END)
             AS rate_per_s
    FROM e
    ORDER BY event_id
"""


@query("q168_window_navigation", oracle=_Q168_ORACLE)
def q168(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``lagInFrame`` / ``leadInFrame`` /
    ``nonNegativeDerivative`` VERBATIM — the window-navigation trio a
    CH dashboard uses for per-entity time series. lagInFrame/
    leadInFrame rename to Spark's lag/lead (identical for the default
    whole-partition frame — CH's frame-respecting behavior under a
    custom frame is a documented divergence); nonNegativeDerivative
    expands to the clamped per-second rate (x - lag(x)) / (t - lag(t))
    over the SAME window spec, with first-row / zero-dt -> NULL (CH's
    window-function form; the exact division tree is mirrored in the
    oracle, so the hash pins the IEEE behavior).

    Scale: one user_id exchange shared by all four windows (Catalyst
    collapses same-spec windows into a single Window operator —
    plan-verified in the E12 family); the derivative adds no second
    exchange.

    Reference parity: §2.E10/E12 — the rate the reference's poller
    derives from uptime/codeword counters, spelled as CH window SQL."""
    from ..functions.chsql import ch_sql
    from .relational import vsort

    register_views(spark, sf_dir)
    return vsort(ch_sql(spark, _Q168_CLICKHOUSE_SQL), "event_id")


# ---------------------------------------------------------------------------
# Q169 array vocabulary over tokenized documents
# ---------------------------------------------------------------------------

_Q169_ORACLE = """
    WITH src AS (
      SELECT doc_id, list_slice(string_split(text, ' '), 1, 8) AS a
      FROM documents
    )
    SELECT doc_id,
      COALESCE(array_to_string(a, chr(31)), '') AS a,
      COALESCE(array_to_string(generate_series(1, len(a)), chr(31)), '')
        AS enum,
      COALESCE(array_to_string(list_transform(generate_series(1, len(a)),
        i -> CAST(len(list_filter(a[1:i], e -> e = a[i])) AS INT)),
        chr(31)), '') AS enum_uniq,
      COALESCE(array_to_string(
        list_transform(list_filter(generate_series(1, len(a)),
          i -> i = 1 OR a[i] <> a[i-1]), i -> a[i]), chr(31)), '')
        AS compacted,
      COALESCE(array_to_string(list_sort(list_distinct(list_filter(a,
        e -> list_contains(['table', 'join', 'spark', 'row'], e)))),
        chr(31)), '') AS isect,
      len(list_filter(['table', 'row'],
        x -> list_contains(a, x))) = 2 AS has_all,
      len(list_filter(['table', 'row'],
        x -> list_contains(a, x))) > 0 AS has_any,
      coalesce(list_position(a, 'table'), 0) AS idx_table,
      CAST(len(list_filter(a, e -> e = 'row')) AS INT) AS n_row,
      COALESCE(array_to_string(list_reverse(a), chr(31)), '') AS rev,
      CAST(len(list_distinct(a)) AS INT) AS n_uniq,
      COALESCE(array_to_string(list_slice(a, 2, 4), chr(31)), '') AS mid,
      COALESCE(array_to_string(list_append(a[2:len(a)], 'EOL'), chr(31)),
        '') AS rotated
    FROM src
    ORDER BY doc_id
"""


@query("q169_array_vocabulary", oracle=_Q169_ORACLE)
def q169(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse's array vocabulary VERBATIM as registered scalars
    (round-8 block): arrayEnumerate / arrayEnumerateUniq (the ARRAY
    JOIN dedup idiom) / arrayCompact / arrayIntersect / hasAll /
    hasAny / indexOf / countEqual / arrayReverse / arrayUniq /
    arraySlice / arrayPushBack+arrayPopFront — over the documents'
    first-8-token arrays.

    Exactness: pure integer/string array algebra, no floats anywhere —
    the oracle replays each operation with DuckDB's list vocabulary
    (generate_series for the index lambdas duck 1.0 lacks, inclusive
    list_slice ends mapped from Spark's length-based slice, NULL
    list_position coalesced to CH's 0). Documented deltas:
    arrayIntersect is SORTED for determinism (CH: unspecified order);
    index lambdas make arrayEnumerateUniq O(n^2) per array — fine at
    tag/token cardinality, an explode+window spelling is the unbounded
    path.

    Output shape: every array result is RENDERED to one deterministic
    chr(31)-joined string column (ints cast element-wise; empty array
    -> '' both sides) — the driver's canonicalizer sorts raw pandas
    cells and list cells are unhashable (the q07 list-cell rule,
    enforced registry-wide since round 9). chr(31) cannot occur in the
    space-split tokens.

    Scale: one narrow scan-speed projection, no exchange (the q166
    shape); every function whole-stage-codegens."""
    from ..functions.chsql import ch_sql
    from .relational import vsort

    register_views(spark, sf_dir)
    sql = """
    SELECT doc_id, a,
           arrayEnumerate(a) AS enum,
           arrayEnumerateUniq(a) AS enum_uniq,
           arrayCompact(a) AS compacted,
           arrayIntersect(a, array('table', 'join', 'spark', 'row')) AS isect,
           hasAll(a, array('table', 'row')) AS has_all,
           hasAny(a, array('table', 'row')) AS has_any,
           indexOf(a, 'table') AS idx_table,
           countEqual(a, 'row') AS n_row,
           arrayReverse(a) AS rev,
           arrayUniq(a) AS n_uniq,
           arraySlice(a, 2, 3) AS mid,
           arrayPushBack(arrayPopFront(a), 'EOL') AS rotated
    FROM (SELECT doc_id, arraySlice(splitByChar(' ', text), 1, 8) AS a
          FROM documents)
    """
    out = ch_sql(spark, sql).select(
        "doc_id",
        _arr_str("a"),
        _arr_cast("enum"),
        _arr_cast("enum_uniq"),
        _arr_str("compacted"),
        _arr_str("isect"),
        "has_all",
        "has_any",
        "idx_table",
        "n_row",
        _arr_str("rev"),
        "n_uniq",
        _arr_str("mid"),
        _arr_str("rotated"),
    )
    return vsort(out, "doc_id")


# ---------------------------------------------------------------------------
# Q170 string-search vocabulary over documents
# ---------------------------------------------------------------------------
_Q170_ORACLE = """
    SELECT doc_id,
      CAST(coalesce(nullif(instr(text, 'table'), 0), 0) AS INT) AS pos_table,
      CAST(instr(lower(text), lower('SPARK')) AS INT) AS pos_spark_ci,
      len(list_filter(['join', 'window', 'zzz'],
        p -> instr(text, p) > 0)) > 0 AS any_needle,
      CAST(CASE WHEN len('row') = 0 THEN 0 ELSE
        (len(text) - len(replace(text, 'row', ''))) / len('row') END
        AS INT) AS n_row_substr,
      COALESCE(array_to_string(
        regexp_extract_all(text, '[a-z]{{6,}}', 0), chr(31)), '')
        AS long_words,
      COALESCE(array_to_string(
        CASE WHEN len(substring(text, 1, 12)) < 5 THEN []
             ELSE list_transform(generate_series(1,
               len(substring(text, 1, 12)) - 4),
               i -> substring(substring(text, 1, 12), i, 5)) END,
        chr(31)), '') AS grams5,
      COALESCE(array_to_string(
        list_filter(string_split_regex(text, '[^a-zA-Z0-9]+'),
          x -> x <> ''), chr(31)), '') AS toks,
      starts_with(text, 'key') AS sw,
      text LIKE '%value' AS ew
    FROM documents
    ORDER BY doc_id
"""


@query("q170_string_search", oracle=_Q170_ORACLE)
def q170(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse's string-search vocabulary VERBATIM: positionCH (CH's
    position(haystack, needle) — the verbatim name is NOT aliasable,
    Spark's builtin has reversed arguments and refuses replacement;
    DIALECT_NOTES warns loudly) / positionCaseInsensitive /
    multiSearchAny / countSubstrings (non-overlapping, the replace
    identity) / extractAll (group-0 contract, documented divergence
    from CH's group-1-if-present) / ngrams / tokens / startsWith /
    endsWith (the last two run natively — case-insensitive function
    resolution; pin test in test_clickhouse_dialect).

    Exactness: pure string/integer algebra; the regex ('[a-z]{6,}')
    stays in the Java/RE2-common subset so DuckDB replays it verbatim
    (the q131/q166 parity rule). The oracle spells tokens() with
    string_split_regex and ngrams with generate_series windows.

    Output shape: long_words/grams5/toks are RENDERED to chr(31)-joined
    string cells (the q07 list-cell rule; chr(31) cannot occur in text
    extracted by these patterns, and grams5 windows over raw text are
    joined with the same byte both sides so the cell compares exactly).

    Scale: one narrow scan-speed projection, no exchange."""
    from ..functions.chsql import ch_sql
    from .relational import vsort

    register_views(spark, sf_dir)
    sql = """
    SELECT doc_id,
           positionCH(text, 'table') AS pos_table,
           positionCaseInsensitive(text, 'SPARK') AS pos_spark_ci,
           multiSearchAny(text, array('join', 'window', 'zzz')) AS any_needle,
           countSubstrings(text, 'row') AS n_row_substr,
           extractAll(text, '[a-z]{6,}') AS long_words,
           ngrams(substring(text, 1, 12), 5) AS grams5,
           tokens(text) AS toks,
           startsWith(text, 'key') AS sw,
           endsWith(text, 'value') AS ew
    FROM documents
    """
    out = ch_sql(spark, sql).select(
        "doc_id",
        "pos_table",
        "pos_spark_ci",
        "any_needle",
        "n_row_substr",
        _arr_str("long_words"),
        _arr_str("grams5"),
        _arr_str("toks"),
        "sw",
        "ew",
    )
    return vsort(out, "doc_id")


# ---------------------------------------------------------------------------
# Q171 interval aggregates: union length + max concurrency + its position
# ---------------------------------------------------------------------------
_Q171_CLICKHOUSE_SQL = """
    WITH iv AS (
      SELECT event_type,
             toUnixTimestamp(ts) AS s,
             toUnixTimestamp(ts) + 60 +
               CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) % 600
               AS e
      FROM events WHERE user_id % 11 = 3
    )
    SELECT event_type,
           intervalLengthSum(s, e) AS covered_s,
           maxIntersections(s, e) AS max_conc,
           maxIntersectionsPosition(s, e) AS max_conc_at
    FROM iv
    GROUP BY event_type
"""

_Q171_ORACLE = """
    WITH iv AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS s,
             CAST(floor(epoch(ts)) AS BIGINT) + 60 +
               CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) % 600
               AS e
      FROM events WHERE user_id % 11 = 3
    ),
    swept AS (
      SELECT event_type, s, e,
             GREATEST(0, e - GREATEST(s, coalesce(max(e) OVER
               (PARTITION BY event_type ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               -9223372036854775808))) AS add_len
      FROM iv
    ),
    len AS (
      SELECT event_type, CAST(SUM(add_len) AS BIGINT) AS covered_s FROM swept
      GROUP BY event_type
    ),
    ev AS (
      SELECT event_type, s AS x, CAST(1 AS BIGINT) AS d FROM iv
      UNION ALL
      SELECT event_type, e AS x, CAST(-1 AS BIGINT) AS d FROM iv
    ),
    run AS (
      SELECT event_type, x, d,
             SUM(d) OVER (PARTITION BY event_type ORDER BY x, d
               ROWS UNBOUNDED PRECEDING) AS c
      FROM ev
    ),
    mx AS (
      SELECT event_type, CAST(MAX(c) AS BIGINT) AS max_conc FROM run GROUP BY event_type
    ),
    pos AS (
      SELECT run.event_type, MIN(run.x) AS max_conc_at
      FROM run JOIN mx ON run.event_type = mx.event_type
        AND CAST(run.c AS BIGINT) = mx.max_conc AND run.d = 1
      GROUP BY run.event_type
    )
    SELECT len.event_type, len.covered_s, mx.max_conc, pos.max_conc_at
    FROM len JOIN mx USING (event_type) JOIN pos USING (event_type)
    ORDER BY len.event_type
"""


@query("q171_interval_aggregates", oracle=_Q171_ORACLE)
def q171(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``intervalLengthSum`` / ``maxIntersections`` /
    ``maxIntersectionsPosition`` VERBATIM through the bridge
    (``chsql._rewrite_interval_aggs``): per event type, the total
    covered seconds of the union of planted [start, end) sessions, the
    peak number of simultaneously open sessions, and the coordinate
    where that peak is first reached — the classic sweep-line trio.

    Exactness: pure BIGINT sweep algebra over half-open intervals
    (end events sort before start events at equal coordinates, so
    touching intervals don't intersect — documented divergence from
    CH's closed ends). The Spark side folds a sorted collected list
    (total struct order -> partitioning-independent); the oracle
    replays the SAME sweep relationally (running-sum window over the
    ±1 event stream, cover-end window for the union length) — two
    computation paths, one exact answer, and tie groups (equal (x, d)
    rows) are provably order-invariant for max/argmin.

    Scale: one event_type exchange; per-group state is the collected
    interval list (behavioral-aggregate contract). The oracle's
    window spelling IS the unbounded upgrade path: a keyed
    running-sum window over the event stream never collects.

    Reference parity: uptime/downtime coverage over `mb8600.py:30`'s
    uptime samples is exactly intervalLengthSum; concurrent-session
    peaks are the dashboard sibling."""
    from ..functions.chsql import ch_sql
    from .relational import vsort

    register_views(spark, sf_dir)
    return vsort(ch_sql(spark, _Q171_CLICKHOUSE_SQL), "event_type")


# ---------------------------------------------------------------------------
# Q172 IPv4 vocabulary over planted addresses
# ---------------------------------------------------------------------------
_Q172_CLICKHOUSE_SQL = """
    WITH ips AS (
      SELECT event_id,
             (event_id * 2654435761) % 4294967296 AS n,
             CASE WHEN event_id % 7 = 0 THEN '999.1.2.3'
                  WHEN event_id % 7 = 1 THEN '10.0.0'
                  WHEN event_id % 7 = 2 THEN 'not.an.ip.addr'
                  ELSE IPv4NumToString((event_id * 2654435761) % 4294967296)
             END AS s,
             CAST(8 + event_id % 17 AS INT) AS p
      FROM events WHERE event_id % 13 = 5
    )
    SELECT event_id, n, s,
           IPv4NumToString(n) AS quad,
           isIPv4String(s) AS is_v4,
           IPv4StringToNum(s) AS back,
           IPv4CIDRToRange(n, 24).lo AS lo24,
           IPv4CIDRToRange(n, 24).hi AS hi24,
           IPv4CIDRToRange(n, p).lo AS lo_p,
           IPv4CIDRToRange(n, p).hi AS hi_p
    FROM ips
"""

_Q172_ORACLE = """
    WITH ips AS (
      SELECT event_id,
             (event_id * 2654435761) % 4294967296 AS n,
             CASE WHEN event_id % 7 = 0 THEN '999.1.2.3'
                  WHEN event_id % 7 = 1 THEN '10.0.0'
                  WHEN event_id % 7 = 2 THEN 'not.an.ip.addr'
                  ELSE
                    CAST(((event_id * 2654435761) % 4294967296 // 16777216)
                         % 256 AS VARCHAR) || '.' ||
                    CAST(((event_id * 2654435761) % 4294967296 // 65536)
                         % 256 AS VARCHAR) || '.' ||
                    CAST(((event_id * 2654435761) % 4294967296 // 256)
                         % 256 AS VARCHAR) || '.' ||
                    CAST((event_id * 2654435761) % 4294967296 % 256
                         AS VARCHAR)
             END AS s,
             CAST(8 + event_id % 17 AS INT) AS p
      FROM events WHERE event_id % 13 = 5
    ),
    chk AS (
      SELECT *,
        regexp_matches(s, '^[0-9]{{1,3}}(\\.[0-9]{{1,3}}){{3}}$') AND
          len(list_filter(string_split(s, '.'),
            o -> TRY_CAST(o AS INTEGER) > 255)) = 0 AS is_v4
      FROM ips
    )
    SELECT event_id, n, s,
      CAST((n // 16777216) % 256 AS VARCHAR) || '.' ||
      CAST((n // 65536) % 256 AS VARCHAR) || '.' ||
      CAST((n // 256) % 256 AS VARCHAR) || '.' ||
      CAST(n % 256 AS VARCHAR) AS quad,
      is_v4,
      CASE WHEN is_v4 THEN
        CAST(string_split(s, '.')[1] AS BIGINT) * 16777216 +
        CAST(string_split(s, '.')[2] AS BIGINT) * 65536 +
        CAST(string_split(s, '.')[3] AS BIGINT) * 256 +
        CAST(string_split(s, '.')[4] AS BIGINT) END AS back,
      (n // 256) * 256 AS lo24,
      (n // 256) * 256 + 255 AS hi24,
      (n // CAST(pow(2, 32 - p) AS BIGINT)) *
        CAST(pow(2, 32 - p) AS BIGINT) AS lo_p,
      (n // CAST(pow(2, 32 - p) AS BIGINT)) *
        CAST(pow(2, 32 - p) AS BIGINT) +
        CAST(pow(2, 32 - p) AS BIGINT) - 1 AS hi_p
    FROM chk
    ORDER BY event_id
"""


@query("q172_ipv4_functions", oracle=_Q172_ORACLE)
def q172(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse's IPv4 vocabulary VERBATIM as registered scalars:
    IPv4NumToString / IPv4StringToNum(+OrNull) / isIPv4String /
    IPv4CIDRToRange — planted addresses (a multiplicative-hash spread
    over the full UInt32 space) plus malformed strings (out-of-range
    octet, short quad, non-numeric) exercising the validation path.

    Exactness: pure integer algebra — octets via div/mod (no
    engine-specific bit-operator dialect), CIDR blocks via exact
    pow(2, k) BIGINT arithmetic, validation via an RE2-safe regex +
    octet-range check the oracle replays verbatim. Documented deltas:
    malformed input -> NULL where CH's unsuffixed IPv4StringToNum
    raises (the OrNull contract), CIDRToRange takes/returns numeric
    addresses as a (lo, hi) struct (flattened to columns here — the
    q161 interchange rule).

    Scale: narrow scan-speed projection, no exchange (q166 shape)."""
    from ..functions.chsql import ch_sql
    from .relational import vsort

    register_views(spark, sf_dir)
    return vsort(ch_sql(spark, _Q172_CLICKHOUSE_SQL), "event_id")


# ---------------------------------------------------------------------------
# Q173 KS test + categorical association (cramersV / theilsU / contingency)
# ---------------------------------------------------------------------------
_Q173_CLICKHOUSE_SQL = """
    SELECT event_type,
           kolmogorovSmirnovTest(value, user_id % 2).d AS ks_d,
           CAST(cramersV(user_id % 5, (user_id % 5 + user_id % 2) % 5)
                AS DOUBLE) AS cv,
           CAST(contingency(user_id % 5, (user_id % 5 + user_id % 2) % 5)
                AS DOUBLE) AS cont,
           CAST(theilsU(user_id % 5, (user_id % 5 + user_id % 2) % 5)
                AS DOUBLE) AS tu
    FROM events
    WHERE user_id % 89 = 7
    GROUP BY event_type
"""


def _q173_oracle() -> str:
    from ..functions.chsql import ks_tail

    kst = ks_tail("ks.dnum", "CAST(tot.n0 AS DOUBLE)",
                  "CAST(tot.n1 AS DOUBLE)", dialect="duck")
    return f"""
    WITH e AS (
      SELECT event_type AS g,
             CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS v,
             CAST(user_id % 2 AS INT) AS s,
             CAST(user_id % 5 AS VARCHAR) AS a,
             CAST((user_id % 5 + user_id % 2) % 5 AS VARCHAR) AS b
      FROM events WHERE user_id % 89 = 7
    ),
    tot AS (
      SELECT g, CAST(SUM(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN s <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM e GROUP BY g
    ),
    pv AS (
      SELECT g, v, CAST(SUM(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
             CAST(SUM(CASE WHEN s <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1
      FROM e GROUP BY g, v
    ),
    cum AS (
      SELECT g, v,
             CAST(SUM(c0) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS k0,
             CAST(SUM(c1) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS k1
      FROM pv
    ),
    ks AS (
      SELECT cum.g, CAST(MAX(ABS(tot.n1 * cum.k0 - tot.n0 * cum.k1))
             AS BIGINT) AS dnum
      FROM cum JOIN tot ON cum.g = tot.g GROUP BY cum.g
    ),
    cells AS (
      SELECT g, a, b, CAST(COUNT(*) AS DOUBLE) AS o FROM e GROUP BY g, a, b
    ),
    rows_a AS (
      SELECT g, a, CAST(COUNT(*) AS DOUBLE) AS ra FROM e GROUP BY g, a
    ),
    cols_b AS (
      SELECT g, b, CAST(COUNT(*) AS DOUBLE) AS cb FROM e GROUP BY g, b
    ),
    dims AS (
      SELECT g, CAST(COUNT(DISTINCT a) AS DOUBLE) AS nr,
             CAST(COUNT(DISTINCT b) AS DOUBLE) AS nc
      FROM e GROUP BY g
    ),
    chi AS (
      SELECT cells.g,
             SUM((o - ra * cb / n) * (o - ra * cb / n) / (ra * cb / n))
               AS chi2,
             SUM((o / n) * ln(o / cb)) AS neg_hab
      FROM cells
      JOIN rows_a ON cells.g = rows_a.g AND cells.a = rows_a.a
      JOIN cols_b ON cells.g = cols_b.g AND cells.b = cols_b.b
      JOIN tot ON cells.g = tot.g
      GROUP BY cells.g
    ),
    ha AS (
      SELECT rows_a.g,
             ln(tot.n) - SUM(ra * ln(ra)) / tot.n AS h_a
      FROM rows_a JOIN tot ON rows_a.g = tot.g GROUP BY rows_a.g, tot.n
    )
    SELECT tot.g AS event_type,
      CASE WHEN CAST(tot.n0 AS DOUBLE) >= 1.0 AND
                CAST(tot.n1 AS DOUBLE) >= 1.0
           THEN ({kst}).d END AS ks_d,
      CAST(CASE WHEN dims.nr > 1.0 AND dims.nc > 1.0 THEN
        CAST(sqrt(CAST(CAST(chi.chi2 AS DECIMAL(18,6)) AS DOUBLE) /
             (tot.n * least(dims.nr - 1.0, dims.nc - 1.0)))
             AS DECIMAL(18,6)) END AS DOUBLE) AS cv,
      CAST(CAST(sqrt(CAST(CAST(chi.chi2 AS DECIMAL(18,6)) AS DOUBLE) /
           (CAST(CAST(chi.chi2 AS DECIMAL(18,6)) AS DOUBLE) + tot.n))
           AS DECIMAL(18,6)) AS DOUBLE) AS cont,
      CAST(CAST(CASE WHEN ha.h_a = 0.0 THEN CAST(NULL AS DOUBLE)
           ELSE (ha.h_a - (-chi.neg_hab)) / ha.h_a END
           AS DECIMAL(18,6)) AS DOUBLE) AS tu
    FROM tot
    JOIN ks ON tot.g = ks.g
    JOIN chi ON tot.g = chi.g
    JOIN dims ON tot.g = dims.g
    JOIN ha ON tot.g = ha.g
    ORDER BY tot.g
    """


@query("q173_ks_association", oracle=_q173_oracle())
def q173(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``kolmogorovSmirnovTest`` / ``cramersV`` /
    ``theilsU`` / ``contingency`` VERBATIM through the bridge
    (``chsql._rewrite_assoc_aggs``) — the two-sample distribution test
    and the categorical-association trio, per event type over a
    bounded user slice.

    Exactness: the KS D statistic is EXACT — its numerator
    max|n1*F0(u) - n0*F1(u)| is an integer over DECIMAL(18,4)-snapped
    values (one IEEE division at the end; the oracle computes the same
    numerator via relational cumulative counts). The chi-squared-based
    members sum IEEE cell terms in engine-specific ORDER, so chi2
    snaps to 1e-6 before the closed forms (the entropy device);
    theilsU lives in the libm-log domain and snaps its output.
    Degenerate groups (empty sample, single category) -> NULL (CH
    returns nan; documented). CH's p-values need the KS distribution —
    named field d only (the q165 contract).

    Scale: one event_type exchange; per-group state is the collected
    pair list with O(n*d) distinct-value folds — the bounded-slice
    collect contract (q165's MW rule); the oracle's cumulative-count /
    contingency-table spelling IS the unbounded relational path."""
    from ..functions.chsql import ch_sql
    from .relational import vsort

    register_views(spark, sf_dir)
    return vsort(ch_sql(spark, _Q173_CLICKHOUSE_SQL), "event_type")


# ---------------------------------------------------------------------------
# Q174 weighted/sorted parametric aggregates
# ---------------------------------------------------------------------------
_Q174_CLICKHOUSE_SQL = """
    SELECT event_type,
           quantileExactWeighted(0.5)(value, 1 + user_id % 9) AS wmed,
           quantileExactWeighted(0.9)(value, 1 + user_id % 9) AS wp90,
           topKWeighted(3)(user_id % 20, CAST(value * 100 AS BIGINT))
             AS heavy_buckets,
           groupArraySorted(5)(CAST(CAST(value AS DECIMAL(18,4)) * 10000
                               AS BIGINT)) AS low5
    FROM events
    WHERE user_id % 17 = 6
    GROUP BY event_type
"""

_Q174_ORACLE = """
    WITH e AS (
      SELECT event_type AS g,
             CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS v,
             CAST(1 + user_id % 9 AS BIGINT) AS w,
             user_id % 20 AS bkt,
             CAST(value * 100 AS BIGINT) AS bw,
             CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS vdec
      FROM events WHERE user_id % 17 = 6
    ),
    tot AS (SELECT g, CAST(SUM(w) AS BIGINT) AS tw FROM e GROUP BY g),
    cum AS (
      SELECT g, v,
             CAST(SUM(w) OVER (PARTITION BY g ORDER BY v, w
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw
      FROM e
    ),
    med AS (
      SELECT cum.g,
             CAST(MIN(CASE WHEN CAST(cw AS DOUBLE) >=
               CAST(0.5 AS DOUBLE) * CAST(tw AS DOUBLE) THEN v END)
               AS DOUBLE) / 10000.0 AS wmed,
             CAST(MIN(CASE WHEN CAST(cw AS DOUBLE) >=
               CAST(0.9 AS DOUBLE) * CAST(tw AS DOUBLE) THEN v END)
               AS DOUBLE) / 10000.0 AS wp90
      FROM cum JOIN tot ON cum.g = tot.g GROUP BY cum.g
    ),
    bw AS (
      SELECT g, bkt, CAST(SUM(bw) AS BIGINT) AS wsum FROM e GROUP BY g, bkt
    ),
    topk AS (
      SELECT g, COALESCE(array_to_string(
               list(bkt ORDER BY wsum DESC, bkt)[1:3], ','), '')
               AS heavy_buckets
      FROM bw GROUP BY g
    ),
    low AS (
      SELECT g, COALESCE(array_to_string(
               list(vdec ORDER BY vdec)[1:5], ','), '') AS low5
      FROM e GROUP BY g
    )
    SELECT med.g AS event_type, med.wmed, med.wp90,
           topk.heavy_buckets, low.low5
    FROM med JOIN topk ON med.g = topk.g JOIN low ON med.g = low.g
    ORDER BY med.g
"""


@query("q174_weighted_aggregates", oracle=_Q174_ORACLE)
def q174(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``quantileExactWeighted`` / ``topKWeighted`` /
    ``groupArraySorted`` VERBATIM through the bridge
    (``chsql._rewrite_weighted_aggs``), per event type over a bounded
    slice: the weighted median and p90 of value (user-bucket weights),
    the 3 heaviest user buckets by total value (CH's approximate
    Filtered Space-Saving upgraded to the exact answer, weight desc /
    value asc — the topK trade), and the 5 smallest snapped values.

    Exactness: CH's QuantileExactWeighted pick rule — sorted values,
    integer cumulative weights, first value whose cumulative weight
    reaches p * total (one IEEE multiply; exact-integer comparison
    operands, so the pick is engine-independent). The oracle replays
    the pick via a relational cumulative-weight window, the top-k via
    weight-sum sort — two computation paths, one exact answer.

    Scale: one event_type exchange; collected pair-list state (the
    behavioral-aggregate contract); the oracle's window spelling is
    the unbounded path.

    Output shape: heavy_buckets/low5 are RENDERED to comma-joined
    integer strings (the q07 list-cell rule — scalar cells only)."""
    from ..functions.chsql import ch_sql
    from .relational import vsort

    register_views(spark, sf_dir)
    out = ch_sql(spark, _Q174_CLICKHOUSE_SQL).select(
        "event_type",
        "wmed",
        "wp90",
        F.concat_ws(
            ",", F.expr("transform(heavy_buckets, x -> CAST(x AS STRING))")
        ).alias("heavy_buckets"),
        F.concat_ws(
            ",", F.expr("transform(low5, x -> CAST(x AS STRING))")
        ).alias("low5"),
    )
    return vsort(out, "event_type")


# ---------------------------------------------------------------------------
# Q175 bit aggregates + value mapping + array folds
# ---------------------------------------------------------------------------
_Q175_CLICKHOUSE_SQL = """
    SELECT event_type,
           groupBitAnd(user_id % 256) AS band,
           groupBitOr(user_id % 256) AS bor,
           groupBitXor(user_id % 256) AS bxor,
           bitCount(groupBitOr(user_id % 256)) AS or_bits,
           transformCH(CAST(user_id % 4 AS STRING),
                       array('0', '1', '2'),
                       array('north', 'south', 'east'), 'other') AS region4,
           arrayFold((acc, x) -> acc + x,
                     array(user_id % 7, user_id % 11, user_id % 13),
                     CAST(0 AS BIGINT)) AS fold_sum,
           arrayReduce('max', array(user_id % 7, user_id % 11,
                                    user_id % 13)) AS red_max,
           arrayReduce('uniqExact', array(user_id % 7, user_id % 11,
                                          user_id % 13)) AS red_uniq
    FROM events
    WHERE user_id % 19 = 2
    GROUP BY event_type, region4, fold_sum, red_max, red_uniq
"""

_Q175_ORACLE = """
    WITH e AS (
      SELECT event_type, user_id % 256 AS m,
             CASE CAST(user_id % 4 AS VARCHAR)
               WHEN '0' THEN 'north' WHEN '1' THEN 'south'
               WHEN '2' THEN 'east' ELSE 'other' END AS region4,
             (user_id % 7) + (user_id % 11) + (user_id % 13) AS fold_sum,
             GREATEST(user_id % 7, user_id % 11, user_id % 13) AS red_max,
             CAST(len(list_distinct([user_id % 7, user_id % 11,
                                     user_id % 13])) AS INT) AS red_uniq
      FROM events WHERE user_id % 19 = 2
    )
    SELECT event_type,
           CAST(BIT_AND(m) AS BIGINT) AS band,
           CAST(BIT_OR(m) AS BIGINT) AS bor,
           CAST(BIT_XOR(m) AS BIGINT) AS bxor,
           CAST(bit_count(CAST(BIT_OR(m) AS BIGINT)) AS INT) AS or_bits,
           region4,
           fold_sum, red_max, red_uniq
    FROM e
    GROUP BY event_type, region4, fold_sum, red_max, red_uniq
    ORDER BY event_type, region4, fold_sum, red_max, red_uniq
"""


@query("q175_bit_and_mapping", oracle=_Q175_ORACLE)
def q175(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``groupBitAnd/Or/Xor`` + ``bitCount`` (exact renames
    onto Spark's bit_and/bit_or/bit_xor/bit_count), the ``transform``
    value-mapper (as ``transformCH`` — the verbatim name IS Spark's
    array HOF, DIALECT_NOTES warns), ``arrayFold`` (argument-order
    rewrite onto aggregate()), and ``arrayReduce`` for the order-free
    members (sum/min/max/count/avg/uniqExact; others raise with the
    explode spelling) — grouped per (event type, mapped region).

    Exactness: pure integer bit algebra and integer folds; the mapped
    region is a literal CASE in the oracle (same map). Wait — fold_sum
    / red_max / red_uniq are per-ROW deterministic functions of
    user_id and join the GROUP BY key set (CH allows grouping by any
    scalar expression; both engines see identical keys because every
    input is exact integer algebra).

    Scale: one exchange on the composite key; all aggregates are
    constant-state partial folds."""
    from ..functions.chsql import ch_sql
    from .relational import vsort

    register_views(spark, sf_dir)
    return vsort(
        ch_sql(spark, _Q175_CLICKHOUSE_SQL),
        "event_type", "region4", "fold_sum", "red_max", "red_uniq",
    )


# ---------------------------------------------------------------------------
# Q176 ROC AUC: per-row planted arrays + per-group paired collect
# ---------------------------------------------------------------------------
_Q176_CLICKHOUSE_SQL = """
    WITH per_row AS (
      SELECT event_id,
             array(CAST(event_id % 17 AS DOUBLE) / 17.0,
                   CAST(event_id % 13 AS DOUBLE) / 13.0,
                   CAST(event_id % 11 AS DOUBLE) / 11.0,
                   CAST(event_id % 7 AS DOUBLE) / 7.0,
                   CAST(event_id % 5 AS DOUBLE) / 5.0) AS s,
             array(CAST(event_id % 2 AS INT), CAST(event_id % 3 % 2 AS INT),
                   CAST(event_id % 5 % 2 AS INT), CAST(event_id % 7 % 2 AS INT),
                   CAST(event_id % 11 % 2 AS INT)) AS l
      FROM events WHERE event_id % 41 = 9
    )
    SELECT event_id, arrayAUC(s, l) AS auc
    FROM per_row
"""

_Q176_GROUP_CH = """
    WITH pairs AS (
      SELECT event_type,
             groupArray((CAST(CAST(value AS DECIMAL(18,4)) AS DOUBLE),
                         CAST(user_id % 2 AS INT))) AS ps
      FROM events WHERE user_id % 43 = 11
      GROUP BY event_type
    )
    SELECT event_type,
           arrayAUC(arrayMap(p -> p.col1, ps),
                    arrayMap(p -> p.col2, ps)) AS auc
    FROM pairs
"""

_Q176_ORACLE = """
    WITH per_row AS (
      SELECT event_id,
             [CAST(event_id % 17 AS DOUBLE) / 17.0,
              CAST(event_id % 13 AS DOUBLE) / 13.0,
              CAST(event_id % 11 AS DOUBLE) / 11.0,
              CAST(event_id % 7 AS DOUBLE) / 7.0,
              CAST(event_id % 5 AS DOUBLE) / 5.0] AS s,
             [CAST(event_id % 2 AS INT), CAST(event_id % 3 % 2 AS INT),
              CAST(event_id % 5 % 2 AS INT), CAST(event_id % 7 % 2 AS INT),
              CAST(event_id % 11 % 2 AS INT)] AS l
      FROM events WHERE event_id % 41 = 9
    ),
    parts AS (
      SELECT event_id,
        list_transform(generate_series(1, len(s)),
          i -> CASE WHEN l[i] = 1 THEN s[i] END) AS pos_scores,
        CAST(len(list_filter(l, x -> x = 1)) AS DOUBLE) AS np,
        CAST(len(list_filter(l, x -> x <> 1)) AS DOUBLE) AS nn,
        s
      FROM per_row
    )
    SELECT event_id,
      CASE WHEN np >= 1 AND nn >= 1 THEN
        (list_sum(list_transform(list_filter(pos_scores, p -> p IS NOT NULL),
           p -> CAST(len(list_filter(s, q -> q < p)) AS DOUBLE) +
                (CAST(len(list_filter(s, q -> q = p)) AS DOUBLE) + 1.0)
                / 2.0))
         - np * (np + 1.0) / 2.0) / (np * nn) END AS auc
    FROM parts
    ORDER BY event_id
"""


@query("q176_array_auc", oracle=_Q176_ORACLE)
def q176(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``arrayAUC`` VERBATIM as a registered scalar — ROC
    AUC over paired (score, label) arrays, the ML-evaluation member of
    the array vocabulary (the quality-classifier stack's natural
    metric: q109's scores against planted labels).

    Exactness: the rank formulation — AUC = (R_pos - nPos(nPos+1)/2) /
    (nPos*nNeg) with AVERAGE ranks — is exact half-integer arithmetic
    below 2^53 plus ONE IEEE division, and is independent of array
    order (why it also composes safely with groupArray's arbitrary
    collect order — the paired-collect spelling in the docstring
    example needs no sort). Known answers pinned against sklearn's
    roc_auc_score in pytest; degenerate single-class arrays -> NULL
    (CH: nan). The oracle replays the identical rank counts with
    DuckDB list lambdas (no folds — the q162 list_reduce rule).

    Scale: pure scan-speed projection; O(n^2) per array is the per-row
    contract (bounded arrays), the per-group path collects pairs (the
    behavioral contract) and a window-rank relational spelling is the
    unbounded lever (same machinery as q165's Mann-Whitney — AUC IS
    U/(n0*n1))."""
    from ..functions.chsql import ch_sql
    from .relational import vsort

    register_views(spark, sf_dir)
    return vsort(ch_sql(spark, _Q176_CLICKHOUSE_SQL), "event_id")


# ---------------------------------------------------------------------------
# Q177 sequenceNextNode — the funnel-path explorer
# ---------------------------------------------------------------------------
_Q177_CLICKHOUSE_SQL = """
    SELECT user_id,
           sequenceNextNode('forward', 'head')(
             ts, event_type, event_type = 'view',
             event_type = 'view', event_type = 'click') AS after_head_vc,
           sequenceNextNode('forward', 'first_match')(
             ts, event_type, event_type = 'click',
             event_type = 'click', event_type = 'purchase') AS after_cp,
           sequenceNextNode('backward', 'tail')(
             ts, event_type, event_type = 'error',
             event_type = 'error') AS before_tail_err
    FROM events
    WHERE user_id % 37 = 5
    GROUP BY user_id
"""

_Q177_ORACLE = """
    WITH g AS (
      SELECT user_id, list(event_type ORDER BY ts, event_type) AS evs
      FROM events WHERE user_id % 37 = 5 GROUP BY user_id
    ),
    fm AS (
      SELECT user_id, evs,
        list_filter(generate_series(1, len(evs) - 1),
          i -> evs[i] = 'click' AND evs[i+1] = 'purchase') AS cp_starts
      FROM g
    )
    SELECT user_id,
      CASE WHEN len(evs) >= 3 AND evs[1] = 'view' AND evs[2] = 'click'
           THEN evs[3] END AS after_head_vc,
      CASE WHEN len(cp_starts) > 0 AND cp_starts[1] + 2 <= len(evs)
           THEN evs[cp_starts[1] + 2] END AS after_cp,
      CASE WHEN len(evs) >= 2 AND evs[len(evs)] = 'error'
           THEN evs[len(evs) - 1] END AS before_tail_err
    FROM fm
    ORDER BY user_id
"""


@query("q177_sequence_next_node", oracle=_Q177_ORACLE)
def q177(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``sequenceNextNode`` VERBATIM through the bridge
    (``chsql._rewrite_sequence_next_node``) — the funnel-path explorer
    ("after users view then click, what do they do NEXT?"): forward/
    head (chain anchored at the user's first events), forward/
    first_match (chain anywhere, first occurrence), backward/tail
    (what PRECEDED the final event) — per user over a bounded slice.

    Exactness: pure string/position algebra over the (t, event)-sorted
    sequence (CH leaves same-timestamp order undefined; the bridge pins
    the event value as tiebreak — the sequence-aggregate discipline).
    Condition flags evaluate per row BEFORE collection (the q136
    automaton contract); the oracle replays the search with ordered
    lists and generate_series position scans (fold-free — the q162
    rule).

    Scale: one user_id exchange; per-group state is the collected
    event list, search O(n * chain_len) — the behavioral contract,
    probed linear on hot entities (SURVEY.md's round-8 16x probe)."""
    from ..functions.chsql import ch_sql
    from .relational import vsort

    register_views(spark, sf_dir)
    return vsort(ch_sql(spark, _Q177_CLICKHOUSE_SQL), "user_id")


# ---------------------------------------------------------------------------
# Q178 JSON extraction over the events props column + planted documents
# ---------------------------------------------------------------------------
_Q178_CLICKHOUSE_SQL = """
    WITH j AS (
      SELECT event_id, props,
             concat('{"id": ', CAST(event_id % 100 AS STRING),
                    ', "tags": ["a", "b"], "meta": {"ok": ',
                    CASE WHEN event_id % 3 = 0 THEN 'true' ELSE 'false' END,
                    '}, "name": "ev-', CAST(event_id % 7 AS STRING),
                    '"}') AS doc
      FROM events WHERE event_id % 53 = 17
    )
    SELECT event_id,
           JSONExtractInt(props, 'k') AS k_int,
           JSONHas(props, 'k') AS has_k,
           JSONHas(props, 'missing') AS has_missing,
           JSONExtractInt(doc, 'id') AS doc_id_field,
           JSONExtractString(doc, 'name') AS doc_name,
           JSONExtractBool(JSONExtractRaw(doc, 'meta'), 'ok') AS meta_ok,
           JSONLength(JSONExtractRaw(doc, 'tags')) AS n_tags
    FROM j
"""

_Q178_ORACLE = """
    WITH j AS (
      SELECT event_id, props,
             '{{"id": ' || CAST(event_id % 100 AS VARCHAR) ||
             ', "tags": ["a", "b"], "meta": {{"ok": ' ||
             (CASE WHEN event_id % 3 = 0 THEN 'true' ELSE 'false' END) ||
             '}}, "name": "ev-' || CAST(event_id % 7 AS VARCHAR) ||
             '"}}' AS doc
      FROM events WHERE event_id % 53 = 17
    )
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_int,
           json_extract(props, '$.k') IS NOT NULL AS has_k,
           json_extract(props, '$.missing') IS NOT NULL AS has_missing,
           CAST(json_extract(doc, '$.id') AS BIGINT) AS doc_id_field,
           json_extract_string(doc, '$.name') AS doc_name,
           CAST(json_extract(doc, '$.meta.ok') AS BOOLEAN) AS meta_ok,
           CAST(json_array_length(json_extract(doc, '$.tags')) AS INT)
             AS n_tags
    FROM j
    ORDER BY event_id
"""


@query("q178_json_extraction", oracle=_Q178_ORACLE)
def q178(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse's JSON extraction family VERBATIM as registered
    scalars: JSONExtractInt/Float/String/Bool, JSONHas, JSONExtractRaw,
    JSONLength — over the fixture's REAL JSON column (events.props)
    plus planted richer documents (nested objects, arrays, booleans,
    string fields). Nested access composes Raw+typed extraction
    exactly as CH composes key paths; the bridge registers the
    single-key form, and CH's variadic key paths map onto
    get_json_object's JSONPath directly (DIALECT_NOTES).

    Exactness: both engines parse the same JSON text; numeric/boolean
    members cast from the same lexical token (try_cast -> NULL on type
    mismatch, CH's OrNull-style contract — CH's unsuffixed returns the
    type default 0, documented divergence).

    Scale: pure scan-speed projection (Jackson-backed get_json_object,
    whole-stage codegen) — no exchange; the JSON-heavy training-data
    path (metadata sidecars on document/image corpora) runs at scan
    speed."""
    from ..functions.chsql import ch_sql
    from .relational import vsort

    register_views(spark, sf_dir)
    return vsort(ch_sql(spark, _Q178_CLICKHOUSE_SQL), "event_id")


# ---------------------------------------------------------------------------
# Q179 geo: exact integer point-in-polygon + snapped haversine
# ---------------------------------------------------------------------------
_Q179_POLY_CH = (
    "array(named_struct('x', 0L, 'y', 0L), "
    "named_struct('x', 200000L, 'y', 0L), "
    "named_struct('x', 200000L, 'y', 200000L), "
    "named_struct('x', 120000L, 'y', 80000L), "
    "named_struct('x', 50000L, 'y', 180000L), "
    "named_struct('x', 0L, 'y', 100000L))"
)

_Q179_CLICKHOUSE_SQL = f"""
    WITH pts AS (
      SELECT event_id,
             (event_id * 48271) % 240000 - 20000 AS px,
             (event_id * 69621) % 240000 - 20000 AS py,
             CAST((event_id % 360) - 180 AS DOUBLE) + 0.5 AS lon1,
             CAST((event_id % 170) - 85 AS DOUBLE) + 0.25 AS lat1
      FROM events WHERE event_id % 47 = 21
    )
    SELECT event_id, px, py,
           pointInPolygon(px, py, {_Q179_POLY_CH}) AS inside,
           greatCircleDistance(lon1, lat1, 2.3522, 48.8566) AS to_paris_m
    FROM pts
"""

_Q179_ORACLE = """
    WITH poly AS (
      SELECT [struct_pack(x := 0, y := 0),
              struct_pack(x := 200000, y := 0),
              struct_pack(x := 200000, y := 200000),
              struct_pack(x := 120000, y := 80000),
              struct_pack(x := 50000, y := 180000),
              struct_pack(x := 0, y := 100000)] AS p
    ),
    pts AS (
      SELECT event_id,
             (event_id * 48271) % 240000 - 20000 AS px,
             (event_id * 69621) % 240000 - 20000 AS py,
             CAST((event_id % 360) - 180 AS DOUBLE) + 0.5 AS lon1,
             CAST((event_id % 170) - 85 AS DOUBLE) + 0.25 AS lat1
      FROM events WHERE event_id % 47 = 21
    )
    SELECT event_id, px, py,
      len(list_filter(generate_series(1, len(p)), i ->
        (p[i].y > py) <> (p[CAST(i % len(p) AS INT) + 1].y > py) AND
        ((p[CAST(i % len(p) AS INT) + 1].x - p[i].x) * (py - p[i].y) -
         (px - p[i].x) * (p[CAST(i % len(p) AS INT) + 1].y - p[i].y)) *
        (CASE WHEN p[CAST(i % len(p) AS INT) + 1].y > p[i].y
              THEN 1 ELSE -1 END) > 0)) % 2 = 1 AS inside,
      CAST(CAST(2.0 * 6371000.0 * asin(sqrt(
        pow(sin(radians(48.8566 - lat1) / 2.0), 2) +
        cos(radians(lat1)) * cos(radians(48.8566)) *
        pow(sin(radians(2.3522 - lon1) / 2.0), 2)))
        AS DECIMAL(18,4)) AS DOUBLE) AS to_paris_m
    FROM pts, poly
    ORDER BY event_id
"""


@query("q179_geo_membership", oracle=_Q179_ORACLE)
def q179(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``pointInPolygon`` + ``greatCircleDistance`` VERBATIM
    as registered scalars: planted points against a fixed CONCAVE
    six-vertex polygon (scaled-integer coordinates), plus haversine
    distances to a fixed anchor.

    Exactness: membership is even-odd ray casting where every
    comparison is an exact integer cross-product sign test — no
    division, no floats, bit-deterministic in any engine (the toggle
    FOLD on the Spark side equals the crossing-COUNT PARITY the oracle
    computes: toggling false->... n times is n % 2 — two computation
    paths, one exact answer; property-tested against a Python ray
    caster on random points). The haversine lives in libm trig, so its
    output snaps to 1e-4 m (the entropy device; trig ulp error ~1e-9
    of the distance). Boundary points follow the even-odd half-open
    convention (CH leaves grid-variant boundaries unspecified —
    documented).

    Scale: pure scan-speed projection (polygon is a plan literal —
    the broadcast-rules posture of q150's robots matcher); O(edges)
    per point."""
    from ..functions.chsql import ch_sql
    from .relational import vsort

    register_views(spark, sf_dir)
    return vsort(ch_sql(spark, _Q179_CLICKHOUSE_SQL), "event_id")


# ---------------------------------------------------------------------------
# Q180 -Array combinators + argMaxIf/argMinIf
# ---------------------------------------------------------------------------
_Q180_CLICKHOUSE_SQL = """
    WITH src AS (
      SELECT event_type, user_id, event_id,
             array(CAST(event_id % 7 AS DOUBLE),
                   CAST(event_id % 11 AS DOUBLE),
                   CAST(event_id % 13 AS DOUBLE)) AS xs,
             CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS v
      FROM events WHERE user_id % 13 = 8
    )
    SELECT event_type,
           sumArray(xs) AS sarr,
           avgArray(xs) AS aarr,
           minArray(xs) AS mnarr,
           maxArray(xs) AS mxarr,
           countArray(xs) AS carr,
           uniqExactArray(xs) AS uarr,
           argMaxIf(event_id, v, user_id % 2 = 0) AS heaviest_even,
           argMinIf(event_id, v, user_id % 2 = 1) AS lightest_odd
    FROM src
    GROUP BY event_type
"""

_Q180_ORACLE = """
    WITH src AS (
      SELECT event_type, user_id, event_id,
             [CAST(event_id % 7 AS DOUBLE), CAST(event_id % 11 AS DOUBLE),
              CAST(event_id % 13 AS DOUBLE)] AS xs,
             CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS v
      FROM events WHERE user_id % 13 = 8
    ),
    flat AS (
      SELECT event_type, unnest(xs) AS x FROM src
    ),
    agg AS (
      SELECT event_type,
             CAST(SUM(x) AS DOUBLE) AS sarr,
             CAST(SUM(x) AS DOUBLE) / CAST(COUNT(x) AS DOUBLE) AS aarr,
             MIN(x) AS mnarr, MAX(x) AS mxarr,
             CAST(COUNT(x) AS BIGINT) AS carr,
             CAST(COUNT(DISTINCT x) AS INT) AS uarr
      FROM flat GROUP BY event_type
    ),
    am AS (
      SELECT event_type,
             arg_max(CASE WHEN user_id % 2 = 0 THEN event_id END,
                     CASE WHEN user_id % 2 = 0 THEN v END)
               AS heaviest_even,
             arg_min(CASE WHEN user_id % 2 = 1 THEN event_id END,
                     CASE WHEN user_id % 2 = 1 THEN v END)
               AS lightest_odd
      FROM src GROUP BY event_type
    )
    SELECT agg.*, am.heaviest_even, am.lightest_odd
    FROM agg JOIN am USING (event_type)
    ORDER BY event_type
"""


@query("q180_array_combinators", oracle=_Q180_ORACLE)
def q180(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse's ``-Array`` aggregate combinator family VERBATIM
    (sumArray/avgArray/minArray/maxArray/countArray/uniqExactArray —
    the aggregate applied across every ELEMENT of the row arrays) plus
    ``argMaxIf``/``argMinIf`` (gated max_by/min_by).

    Exactness: array elements are integer-valued doubles (exact below
    2^53, so the per-row folds and cross-row sums are order-free);
    argMax/MinIf tie-break hazard avoided by construction (v values
    distinct per group to the snap grid — and CH's tie choice is
    undefined anyway, the q11 max_by rule). The oracle spells the
    combinators relationally (unnest + plain aggregates) — the
    flatten-vs-explode equivalence IS what the hash pins.

    Scale: sum/min/max/count combinators are constant-state partial
    folds (scan-speed, map-side combined); uniqExactArray collects per
    group (bounded contract; approx_count_distinct over an exploded
    stream is the unbounded spelling)."""
    from ..functions.chsql import ch_sql
    from .relational import vsort

    register_views(spark, sf_dir)
    return vsort(ch_sql(spark, _Q180_CLICKHOUSE_SQL), "event_type")


# ---------------------------------------------------------------------------
# Q181 scalar WITH constants — the CH dashboard parameterization idiom
# ---------------------------------------------------------------------------
_Q181_CLICKHOUSE_SQL = """
    WITH 900 AS bucket_s,
         (SELECT CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) /
                 CAST(count() AS DOUBLE)
          FROM events) AS global_avg
    SELECT intDiv(toUnixTimestamp(ts), bucket_s) AS bucket,
           count() AS n,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) /
             CAST(count() AS DOUBLE) - global_avg AS delta_vs_global
    FROM events
    WHERE user_id % 31 = 9
    GROUP BY bucket
"""

_Q181_ORACLE = """
    WITH g AS (
      SELECT CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) /
             CAST(COUNT(*) AS DOUBLE) AS global_avg FROM events
    )
    SELECT CAST(floor(epoch(ts)) AS BIGINT) // 900 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) /
             CAST(COUNT(*) AS DOUBLE) - g.global_avg AS delta_vs_global
    FROM events, g
    WHERE user_id % 31 = 9
    GROUP BY bucket, g.global_avg
    ORDER BY bucket
"""


@query("q181_with_constants", oracle=_Q181_ORACLE)
def q181(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse's scalar ``WITH`` forms VERBATIM — ``WITH 900 AS
    bucket_s`` (expression-first constant, not ANSI; Spark's WITH only
    takes CTEs) and ``WITH (SELECT ...) AS name`` (scalar subquery) —
    the parameterization idiom every CH dashboard uses for bucket
    widths and corpus baselines. The bridge substitutes standalone
    references string-literal-aware (``_rewrite_with_constants``),
    leaving genuine CTEs in place.

    Exactness: bucket arithmetic is exact integers; means are spelled
    sum/count EXPLICITLY (exact decimal sums, one IEEE division) —
    avg(DECIMAL) is NOT portable: Spark computes it in widened decimal
    arithmetic, DuckDB in floating point, and the two diverge in final
    ulps at sf0.1 (caught by the gate; the delta subtraction amplified
    it). The scalar subquery becomes a
    Spark scalar subquery at each site — Catalyst plans it ONCE as a
    subquery broadcast (plan-verified: one extra scan, not one per
    row); the oracle carries it as a CTE cross join.

    Scale: the constant substitution is free; one group-by exchange;
    the global average is one tiny auxiliary aggregate."""
    from ..functions.chsql import ch_sql
    from .relational import vsort

    register_views(spark, sf_dir)
    return vsort(ch_sql(spark, _Q181_CLICKHOUSE_SQL), "bucket")


# ---------------------------------------------------------------------------
# Q182 array set-similarity: Jaccard + contiguous containment + rotations
# ---------------------------------------------------------------------------
_Q182_CLICKHOUSE_SQL = """
    WITH t AS (
      SELECT doc_id,
             arraySlice(splitByChar(' ', text), 1, 10) AS a,
             arraySlice(splitByChar(' ', text), 3, 10) AS b
      FROM documents WHERE doc_id % 3 = 1
    )
    SELECT doc_id,
           arrayJaccardIndex(a, b) AS jac,
           hasSubstr(a, arraySlice(a, 4, 3)) AS contains_mid,
           hasSubstr(a, array('table', 'row')) AS contains_tr,
           arrayRotateLeft(a, 3) AS rot_l,
           arrayRotateRight(a, CAST(doc_id % 7 AS INT)) AS rot_r
    FROM t
"""

_Q182_ORACLE = """
    WITH t AS (
      SELECT doc_id,
             list_slice(string_split(text, ' '), 1, 10) AS a,
             list_slice(string_split(text, ' '), 3, 12) AS b
      FROM documents WHERE doc_id % 3 = 1
    ),
    r AS (
      SELECT doc_id, a, b,
             list_slice(a, 4, 6) AS mid,
             CAST(doc_id % 7 AS INT) % GREATEST(len(a), 1) AS nr
      FROM t
    )
    SELECT doc_id,
      CAST(len(list_distinct(list_filter(a, x -> list_contains(b, x))))
           AS DOUBLE) /
        nullif(CAST(len(list_distinct(a || b)) AS DOUBLE), 0.0) AS jac,
      len(mid) = 0 OR len(list_filter(
        generate_series(1, len(a) - len(mid) + 1),
        i -> len(list_filter(generate_series(1, len(mid)),
                             j -> a[i + j - 1] = mid[j])) = len(mid)
      )) > 0 AS contains_mid,
      len(a) >= 2 AND len(list_filter(
        generate_series(1, len(a) - 1),
        i -> a[i] = 'table' AND a[i + 1] = 'row')) > 0 AS contains_tr,
      COALESCE(array_to_string(
        CASE WHEN len(a) = 0 THEN a
             ELSE a[(3 % len(a)) + 1:] || a[1:(3 % len(a))] END,
        chr(31)), '') AS rot_l,
      COALESCE(array_to_string(
        CASE WHEN len(a) = 0 THEN a
             ELSE a[len(a) - nr + 1:] || a[1:len(a) - nr] END,
        chr(31)), '') AS rot_r
    FROM r
    ORDER BY doc_id
"""


@query("q182_array_similarity", oracle=_Q182_ORACLE)
def q182(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``arrayJaccardIndex`` / ``hasSubstr`` /
    ``arrayRotateLeft/Right`` VERBATIM — the set-similarity scalar
    (the n-gram Jaccard near-dup primitive, ``operators/dedup.py``'s
    per-pair sibling), contiguous-subsequence containment (an n-gram
    phrase test), and the rotation pair — over document token windows.

    Exactness: Jaccard is |distinct intersection| / |distinct union| —
    one IEEE division of exact integers (both engines count the same
    sets); containment and rotations are pure position algebra. The
    oracle replays containment with generate_series position scans
    (fold-free, the q162 rule) and rotations with the same pmod slice
    arithmetic.

    Scale: pure scan-speed projection; O(|a|*|b|) per row on bounded
    token windows — the per-row contract (corpus-scale Jaccard dedup
    is q41/q45's banded MinHash machinery, never per-pair).

    Output shape: rot_l/rot_r are RENDERED to chr(31)-joined string
    cells (the q07 list-cell rule — scalar cells only)."""
    from ..functions.chsql import ch_sql
    from .relational import vsort

    register_views(spark, sf_dir)
    out = ch_sql(spark, _Q182_CLICKHOUSE_SQL).select(
        "doc_id",
        "jac",
        "contains_mid",
        "contains_tr",
        _arr_str("rot_l"),
        _arr_str("rot_r"),
    )
    return vsort(out, "doc_id")


# ---------------------------------------------------------------------------
# Q183 vector distances over embeddings vs a fixed anchor
# ---------------------------------------------------------------------------
_Q183_CLICKHOUSE_SQL = """
    WITH v AS (
      SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS e
      FROM embeddings WHERE vec_id % 5 = 2
    ),
    anc AS (
      SELECT CAST(embedding AS ARRAY<DOUBLE>) AS q
      FROM embeddings WHERE vec_id = 7
    )
    SELECT vec_id,
           dotProduct(e, q) AS dp,
           L1Distance(e, q) AS l1,
           L2Distance(e, q) AS l2,
           L2SquaredDistance(e, q) AS l2sq,
           LinfDistance(e, q) AS linf,
           cosineDistance(e, q) AS cosd
    FROM v CROSS JOIN anc
"""

_Q183_ORACLE = """
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
      FROM embeddings WHERE vec_id % 5 = 2
    ),
    anc AS (
      SELECT CAST(embedding AS DOUBLE[]) AS q
      FROM embeddings WHERE vec_id = 7
    )
    SELECT vec_id,
      list_sum(list_transform(generate_series(1, len(e)),
        i -> e[i] * q[i])) AS dp,
      list_sum(list_transform(generate_series(1, len(e)),
        i -> abs(e[i] - q[i]))) AS l1,
      sqrt(list_sum(list_transform(generate_series(1, len(e)),
        i -> (e[i] - q[i]) * (e[i] - q[i])))) AS l2,
      list_sum(list_transform(generate_series(1, len(e)),
        i -> (e[i] - q[i]) * (e[i] - q[i]))) AS l2sq,
      list_max(list_transform(generate_series(1, len(e)),
        i -> abs(e[i] - q[i]))) AS linf,
      1.0 - list_sum(list_transform(generate_series(1, len(e)),
        i -> e[i] * q[i])) /
        nullif(sqrt(list_sum(list_transform(generate_series(1, len(e)),
          i -> e[i] * e[i]))) * sqrt(list_sum(list_transform(
          generate_series(1, len(q)), i -> q[i] * q[i]))), 0.0) AS cosd
    FROM v CROSS JOIN anc
    ORDER BY vec_id
"""


@query("q183_vector_distances", oracle=_Q183_ORACLE)
def q183(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse's vector-distance vocabulary VERBATIM as registered
    scalars — dotProduct / L1Distance / L2Distance / L2SquaredDistance
    / LinfDistance / cosineDistance — every corpus vector against a
    fixed anchor embedding (the brute-force scoring kernel under
    q43's ANN top-k, spelled in CH's dialect names).

    Exactness: all six are LEFT FOLDS over zip_with pairs (the q34/q85
    order-pinned contract) — the oracle replays the identical
    sequential sums with list_transform over generate_series, so every
    IEEE partial sum matches bit-for-bit; sqrt/abs/division are
    correctly rounded single ops. Degenerate zero-norm vectors -> NULL
    cosine (CH: nan).

    Scale: scan-speed projection with a 1-row broadcast anchor (the
    standard query-vector contract); the interpreted-lambda fold cost
    is the documented HOF constant — the Arrow matmul path
    (similarity.py) is the bulk lever when millions of pairs score at
    once (probed at 16x; SURVEY.md's round-8 PQ probe reading)."""
    from ..functions.chsql import ch_sql
    from .relational import vsort

    register_views(spark, sf_dir)
    return vsort(ch_sql(spark, _Q183_CLICKHOUSE_SQL), "vec_id")


# ---------------------------------------------------------------------------
# Q184 dialect capstone — one statement composing the round-8 bridges
# ---------------------------------------------------------------------------
_Q184_CLICKHOUSE_SQL = """
    WITH 900 AS bucket_s
    SELECT event_type,
           quantileExactWeighted(0.5)(value, 1 + user_id % 5) AS wmed,
           skewPop(value) AS sk,
           deltaSum(value, event_id) AS ds,
           CAST(entropy(user_id % 6) AS DOUBLE) AS ent,
           topKWeighted(2)(intDiv(toUnixTimestamp(ts), bucket_s) % 24,
                           CAST(CAST(value AS DECIMAL(18,4)) * 100
                                AS BIGINT)) AS heavy_buckets,
           uniqExactIf(user_id, JSONExtractInt(props, 'k') > 50)
             AS rich_users
    FROM events
    WHERE user_id % 41 = 3
    GROUP BY event_type
"""


def _q184_oracle() -> str:
    sk = stats_agg_sql("skewPop", ["value"], **_DUCK)
    ent = entropy_tail(
        "SUM(cnt)", "SUM(CAST(cnt AS DOUBLE) * log2(CAST(cnt AS DOUBLE)))"
    )
    return f"""
    WITH e AS (
      SELECT event_type AS g, event_id, user_id, value, props,
             CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS v,
             CAST(1 + user_id % 5 AS BIGINT) AS w,
             (CAST(floor(epoch(ts)) AS BIGINT) // 900) % 24 AS bkt,
             CAST(CAST(value AS DECIMAL(18,4)) * 100 AS BIGINT) AS bw
      FROM events WHERE user_id % 41 = 3
    ),
    base AS (SELECT g, {sk} AS sk,
               CAST(COUNT(DISTINCT CASE WHEN
                 CAST(json_extract(props, '$.k') AS BIGINT) > 50
                 THEN user_id END) AS BIGINT) AS rich_users
             FROM e GROUP BY g),
    tot AS (SELECT g, CAST(SUM(w) AS BIGINT) AS tw FROM e GROUP BY g),
    cum AS (
      SELECT g, v, CAST(SUM(w) OVER (PARTITION BY g ORDER BY v, w
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw FROM e
    ),
    med AS (
      SELECT cum.g, CAST(MIN(CASE WHEN CAST(cw AS DOUBLE) >=
             CAST(0.5 AS DOUBLE) * CAST(tw AS DOUBLE) THEN v END)
             AS DOUBLE) / 10000.0 AS wmed
      FROM cum JOIN tot ON cum.g = tot.g GROUP BY cum.g
    ),
    dpre AS (
      SELECT g, GREATEST(v - lag(v) OVER
             (PARTITION BY g ORDER BY event_id, v), 0) AS dstep FROM e
    ),
    dlt AS (
      SELECT g, CAST(SUM(dstep) AS BIGINT) AS dsn FROM dpre GROUP BY g
    ),
    entr AS (
      SELECT g, CAST({ent} AS DOUBLE) AS ent FROM (
        SELECT g, CAST(user_id % 6 AS VARCHAR) AS xv, COUNT(*) AS cnt
        FROM e GROUP BY g, xv
      ) GROUP BY g
    ),
    bwsum AS (
      SELECT g, bkt, CAST(SUM(bw) AS BIGINT) AS wsum FROM e GROUP BY g, bkt
    ),
    topk AS (
      SELECT g, COALESCE(array_to_string(
               list(bkt ORDER BY wsum DESC, bkt)[1:2], ','), '')
               AS heavy_buckets
      FROM bwsum GROUP BY g
    )
    SELECT base.g AS event_type, med.wmed, base.sk,
           CAST(dlt.dsn AS DOUBLE) / 10000.0 AS ds, entr.ent,
           topk.heavy_buckets, base.rich_users
    FROM base JOIN med ON base.g = med.g
    JOIN dlt ON base.g = dlt.g
    JOIN entr ON base.g = entr.g
    JOIN topk ON base.g = topk.g
    ORDER BY base.g
    """


@query("q184_dialect_capstone", oracle=_q184_oracle())
def q184(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-8 DIALECT CAPSTONE: one verbatim ClickHouse statement
    composing a scalar WITH constant, quantileExactWeighted, skewPop,
    deltaSum, entropy, topKWeighted, an -If combinator over a JSON
    extraction, and toUnixTimestamp/intDiv — seven rewrite families
    plus the scalar registry in a single SELECT, exercising the
    pre-rewriter PIPELINE composition (rewrites run in sequence on one
    statement; the q156 capstone idea applied to the dialect bridge
    instead of the crawl stack).

    Exactness: every member keeps its family's contract (exact scaled
    moments, exact weighted-quantile pick, exact delta folds, snapped
    entropy, exact weighted top-k, exact JSON-gated distinct count) —
    the oracle recomputes each relationally and the hash pins the
    whole composition.

    Scale: one event_type exchange; the WITH constant is free, every
    aggregate is the family's documented shape.

    Output shape: heavy_buckets is RENDERED to a comma-joined integer
    string (the q07 list-cell rule — scalar cells only)."""
    from ..functions.chsql import ch_sql
    from .relational import vsort

    register_views(spark, sf_dir)
    out = ch_sql(spark, _Q184_CLICKHOUSE_SQL).select(
        "event_type",
        "wmed",
        "sk",
        "ds",
        "ent",
        F.concat_ws(
            ",", F.expr("transform(heavy_buckets, x -> CAST(x AS STRING))")
        ).alias("heavy_buckets"),
        "rich_users",
    )
    return vsort(out, "event_type")


# ---------------------------------------------------------------------------
# Q185 relational Mann-Whitney + KS over the UNBOUNDED corpus
# ---------------------------------------------------------------------------
_Q185_ORACLE = """
    WITH e AS (
      SELECT event_type AS g,
             CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS v,
             CAST(user_id % 2 AS INT) AS s
      FROM events
    ),
    tot AS (
      SELECT g, CAST(SUM(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n0i,
             CAST(SUM(CASE WHEN s <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1i,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM e GROUP BY g
    ),
    r AS (
      SELECT g, s, v,
             RANK() OVER (PARTITION BY g ORDER BY v) AS rk,
             COUNT(*) OVER (PARTITION BY g, v) AS teq
      FROM e
    ),
    mwin AS (
      SELECT g,
             SUM(CASE WHEN s = 0 THEN CAST(rk AS DOUBLE) +
                 (CAST(teq AS DOUBLE) - 1.0) / 2.0 END) AS r0
      FROM r GROUP BY g
    ),
    ties AS (
      SELECT g, SUM(tc * tc * tc - tc) AS tsum FROM (
        SELECT g, v, CAST(COUNT(*) AS BIGINT) AS tc FROM e GROUP BY g, v
      ) GROUP BY g
    ),
    pv AS (
      SELECT g, v, CAST(SUM(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS c0,
             CAST(SUM(CASE WHEN s <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1
      FROM e GROUP BY g, v
    ),
    cum AS (
      SELECT g, v,
             CAST(SUM(c0) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS k0,
             CAST(SUM(c1) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS k1
      FROM pv
    ),
    ks AS (
      SELECT cum.g, CAST(MAX(ABS(tot.n1i * cum.k0 - tot.n0i * cum.k1))
             AS BIGINT) AS dnum
      FROM cum JOIN tot ON cum.g = tot.g GROUP BY cum.g
    )
    SELECT tot.g AS event_type,
      ({MW}).u0 AS u0, ({MW}).u1 AS u1, ({MW}).z AS z,
      ({KS}).d AS ks_d
    FROM tot
    JOIN mwin ON tot.g = mwin.g
    JOIN ties ON tot.g = ties.g
    JOIN ks ON tot.g = ks.g
    ORDER BY tot.g
"""


def _q185_oracle() -> str:
    mw = mw_tail(
        "mwin.r0", "CAST(tot.n0i AS DOUBLE)", "CAST(tot.n1i AS DOUBLE)",
        "tot.n", "ties.tsum", dialect="duck",
    )
    ks = ks_tail(
        "ks.dnum", "CAST(tot.n0i AS DOUBLE)", "CAST(tot.n1i AS DOUBLE)",
        dialect="duck",
    )
    return _Q185_ORACLE.replace("{MW}", mw).replace("{KS}", ks)


@query("q185_relational_twosample", oracle=_q185_oracle())
def q185(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNBOUNDED two-sample path, driver-verified: Mann-Whitney U
    and Kolmogorov-Smirnov D over the FULL events corpus (no slice —
    tens of thousands of rows per group at sf0.1, where the q165/q173
    collect-fold bridges are out of contract by design), computed by
    ``operators/stats.py`` — window ranks and cumulative-count
    windows, no collected state, no Python.

    Exactness: identical statistics to the bridge forms (shared IEEE
    tail emitters, exact half-integer rank sums, exact integer ECDF
    numerators); the oracle replays the same relational spelling.

    Scale: two keyed window exchanges (rank + cumulative) sharing the
    event_type partitioning plus partial-aggregated rollups — the
    shape survives any group cardinality; this query IS the
    relational lever of SURVEY.md's round-8 stats probe as a
    first-class registry entry."""
    from ..operators.stats import ks_test, mann_whitney_u
    from .relational import vsort
    from ..tables import load_tables

    ev = load_tables(spark, sf_dir)["events"].withColumn(
        "par", (F.col("user_id") % 2).cast("int")
    )
    mw = mann_whitney_u(ev, "value", "par", "event_type")
    ks = ks_test(ev, "value", "par", "event_type")
    out = mw.join(ks, "event_type").select(
        "event_type", "u0", "u1", "z", F.col("d").alias("ks_d")
    )
    return vsort(out, "event_type")


# ---------------------------------------------------------------------------
# Q186 window capstone: WITH constant + derivative + lagInFrame + WITH TIES
# ---------------------------------------------------------------------------
_Q186_CLICKHOUSE_SQL = """
    WITH 50 AS top_n
    SELECT event_id, user_id,
           lagInFrame(value) OVER
             (PARTITION BY user_id ORDER BY event_id) AS prev_v,
           nonNegativeDerivative(value, toUnixTimestamp(ts)) OVER
             (PARTITION BY user_id ORDER BY event_id) AS rate,
           CAST(CAST(value AS DECIMAL(18,4)) AS DOUBLE) AS v
    FROM events
    WHERE user_id % 13 = 4
    ORDER BY v DESC, event_id
    LIMIT 50 WITH TIES
"""

_Q186_ORACLE = """
    WITH e AS (
      SELECT event_id, user_id, value,
             CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
             CAST(CAST(value AS DECIMAL(18,4)) AS DOUBLE) AS v
      FROM events WHERE user_id % 13 = 4
    ),
    w AS (
      SELECT event_id, user_id,
             lag(value) OVER
               (PARTITION BY user_id ORDER BY event_id) AS prev_v,
             (CASE WHEN (CAST(value AS DOUBLE) - lag(CAST(value AS DOUBLE))
                    OVER (PARTITION BY user_id ORDER BY event_id)) IS NULL
                    OR (CAST(tsec AS DOUBLE) - lag(CAST(tsec AS DOUBLE))
                    OVER (PARTITION BY user_id ORDER BY event_id)) IS NULL
                    OR (CAST(tsec AS DOUBLE) - lag(CAST(tsec AS DOUBLE))
                    OVER (PARTITION BY user_id ORDER BY event_id)) = 0.0
               THEN CAST(NULL AS DOUBLE)
               WHEN (CAST(value AS DOUBLE) - lag(CAST(value AS DOUBLE))
                    OVER (PARTITION BY user_id ORDER BY event_id)) /
                    (CAST(tsec AS DOUBLE) - lag(CAST(tsec AS DOUBLE))
                    OVER (PARTITION BY user_id ORDER BY event_id)) < 0.0
               THEN 0.0
               ELSE (CAST(value AS DOUBLE) - lag(CAST(value AS DOUBLE))
                    OVER (PARTITION BY user_id ORDER BY event_id)) /
                    (CAST(tsec AS DOUBLE) - lag(CAST(tsec AS DOUBLE))
                    OVER (PARTITION BY user_id ORDER BY event_id)) END)
               AS rate,
             v
      FROM e
    ),
    rk AS (
      SELECT *, RANK() OVER (ORDER BY v DESC, event_id) AS r FROM w
    )
    SELECT event_id, user_id, prev_v, rate, v
    FROM rk WHERE r <= 50
    ORDER BY v DESC, event_id
"""


@query("q186_window_capstone", oracle=_Q186_ORACLE)
def q186(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function pipeline composition in one verbatim statement:
    a scalar WITH constant, ``lagInFrame``, ``nonNegativeDerivative``
    (both over the same per-user window — Catalyst collapses them into
    ONE Window operator), a DECIMAL sort key, and ``LIMIT 50 WITH
    TIES`` — the top-values dashboard slice where tie groups straddling
    the cut must survive whole (the deterministic (v, event_id)
    tiebreak makes the tie set exact and the hash meaningful).

    Exactness: the derivative's division tree is mirrored in the
    oracle (q168's contract); the WITH TIES cut is rank() algebra over
    exact decimal keys.

    Scale: one user_id window exchange + the global top-k rank (the
    q57-class exchange — bounded output); the WITH constant is free."""
    from ..functions.chsql import ch_sql
    from .relational import vsort

    register_views(spark, sf_dir)
    return vsort(ch_sql(spark, _Q186_CLICKHOUSE_SQL), "event_id")


# ---------------------------------------------------------------------------
# Q187 MinHash-LSH recall/precision vs exact Jaccard (dedup sketch eval)
# ---------------------------------------------------------------------------
_Q187_ORACLE = """
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 200000 AS doc_id, text || ' zz' AS text
      FROM documents WHERE doc_id % 7 = 0
      UNION ALL
      SELECT doc_id + 300000 AS doc_id,
             substring(text, 1, CAST(n_chars // 2 AS INT)) AS text
      FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 400000 AS doc_id,
             substring(text, 1, CAST(n_chars // 3 AS INT)) AS text
      FROM documents WHERE doc_id % 5 = 0
    ),
    norm AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
      FROM corpus
    ),
    toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(w) - 2, 0)),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
      FROM toks
    ),
    e AS (SELECT doc_id AS id, unnest(shingles) AS s FROM sh),
    sizes AS (SELECT id, COUNT(*) AS n FROM e GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
      FROM e a JOIN e b ON a.s = b.s AND a.id < b.id
      GROUP BY a.id, b.id
    ),
    jac AS (
      SELECT id_a, id_b,
             CAST(n_common AS DOUBLE) /
               (sa.n + sb.n - n_common) AS j
      FROM inter
      JOIN sizes sa ON inter.id_a = sa.id
      JOIN sizes sb ON inter.id_b = sb.id
    ),
    mh AS (
      SELECT id, i, min(md5(s || ':' || i)) AS h
      FROM e, range(12) t(i) GROUP BY id, i
    ),
    bands AS (
      SELECT id, (i // 3) AS band,
             md5(string_agg(h, ',' ORDER BY i)) AS key
      FROM mh GROUP BY id, (i // 3)
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.id < b.id
    ),
    thr AS (SELECT * FROM (VALUES (0.3), (0.5), (0.7)) t(t)),
    truth AS (
      SELECT thr.t, jac.id_a, jac.id_b FROM jac JOIN thr ON jac.j >= thr.t
    ),
    hit AS (
      SELECT truth.t, COUNT(*) AS n_hit
      FROM truth JOIN cand
        ON truth.id_a = cand.id_a AND truth.id_b = cand.id_b
      GROUP BY truth.t
    ),
    tot AS (SELECT t, COUNT(*) AS n_truth FROM truth GROUP BY t)
    SELECT tot.t AS threshold,
           CAST(tot.n_truth AS BIGINT) AS n_truth,
           CAST(coalesce(hit.n_hit, 0) AS BIGINT) AS n_hit,
           CAST(coalesce(hit.n_hit, 0) AS DOUBLE) /
             CAST(tot.n_truth AS DOUBLE) AS recall,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates
    FROM tot LEFT JOIN hit ON tot.t = hit.t
    ORDER BY threshold
"""


@query("q187_minhash_recall", oracle=_Q187_ORACLE)
def q187(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH recall evaluation — what the dedup SKETCH gives up,
    measured (the q154 PQ-recall discipline applied to the near-dup
    stack): exact word-trigram Jaccard pairs at thresholds 0.3/0.5/0.7
    (the q41 verifier) vs the MinHash(12)+LSH(4x3) candidate pairs
    (the q40 production path), reporting per-threshold truth counts,
    hits, recall, and the candidate-set size the banding pays for it.

    Exactness: truth and candidate sets are both exact relational
    objects (the md5 minhash family is engine-portable by
    construction); recall is one IEEE division of exact counts. At the
    classic (12, 4x3) setting the S-curve gives high recall at j >=
    0.7 and deliberately low recall at j ~ 0.3 — the measured numbers
    ARE the tuning table a deployment reads before picking bands.

    Scale: truth is the exact all-pairs verifier — bounded corpus by
    contract (at 100 TB you run it on LSH candidates only, q41's
    note); candidates and minhash signatures are the linear q40 path."""
    from ..operators import dedup
    from .relational import vsort

    docs = load_tables(spark, sf_dir)["documents"]
    # graded-similarity plant: near-identical (+' zz', j ~ 0.97),
    # half-document (j ~ 0.5) and third-document (j ~ 0.33) variants —
    # the jaccard SPECTRUM the S-curve is evaluated against (a single
    # near-1 plant would make every threshold read recall 1.0)
    halves = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.expr("substring(text, 1, CAST(n_chars DIV 2 AS INT))")
        .alias("text"),
    )
    thirds = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 400000).alias("doc_id"),
        F.expr("substring(text, 1, CAST(n_chars DIV 3 AS INT))")
        .alias("text"),
    )
    corpus = (
        docs.select("doc_id", "text")
        .unionAll(
            docs.filter(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + 200000).alias("doc_id"),
                F.concat("text", F.lit(" zz")).alias("text"),
            )
        )
        .unionAll(halves)
        .unionAll(thirds)
    )
    jac = dedup.ngram_jaccard_pairs(corpus, shingle_n=3, threshold=0.3)
    # the candidate set feeds TWO consumers (the hit join and the
    # n_candidates count) and the truth set feeds two more (tot and
    # hit); Spark re-executes an un-materialized subtree per consumer —
    # measured: the exact all-pairs verifier ran twice (round 12,
    # VERDICT r11 #3, 9.6 s -> the checkpointed run). Same lazy
    # checkpoint contract as ngram_jaccard_pairs' shingle set.
    from ..session import truncate_lineage

    cand = truncate_lineage(
        dedup.minhash_lsh_candidates(
            corpus, shingle_n=3, k=12, bands=4, max_bucket=10_000
        ),
        eager=False,
    )
    thr = spark.createDataFrame([(0.3,), (0.5,), (0.7,)], "t double")
    truth = truncate_lineage(
        jac.join(F.broadcast(thr), F.col("jaccard") >= F.col("t")).select(
            "t", "id_a", "id_b"
        ),
        eager=False,
    )
    tot = truth.groupBy("t").agg(F.count("*").alias("n_truth"))
    hit = (
        truth.join(cand, ["id_a", "id_b"])
        .groupBy("t")
        .agg(F.count("*").alias("n_hit"))
    )
    n_cand = cand.count()  # bounded scalar (the pagerank N contract)
    out = (
        tot.join(hit, "t", "left")
        .select(
            F.col("t").alias("threshold"),
            F.col("n_truth").cast("bigint").alias("n_truth"),
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("bigint")
            .alias("n_hit"),
            (
                F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
                / F.col("n_truth").cast("double")
            ).alias("recall"),
            F.lit(n_cand).cast("bigint").alias("n_candidates"),
        )
    )
    return vsort(out, "threshold")


# ---------------------------------------------------------------------------
# Q189 limb-split moment lever driver-verified over the FULL corpus
# ---------------------------------------------------------------------------
def _q189_oracle() -> str:
    cols = {
        "skew_pop": stats_agg_sql("skewPop", ["value"], **_DUCK),
        "skew_samp": stats_agg_sql("skewSamp", ["value"], **_DUCK),
        "kurt_pop": stats_agg_sql("kurtPop", ["value"], **_DUCK),
        "kurt_samp": stats_agg_sql("kurtSamp", ["value"], **_DUCK),
    }
    agg = ", ".join(f"{v} AS {k}" for k, v in cols.items())
    return f"""
    SELECT event_type, {agg}
    FROM events GROUP BY event_type ORDER BY event_type
    """


@query("q189_moment_lever", oracle=_q189_oracle())
def q189(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-9 LIMB-SPLIT BIGINT moment lever driver-verified over
    the FULL events corpus — the q185 discipline (the scale path as a
    registry entry, not prose): ``operators/stats.skew_kurt(method=
    "limb")`` computes the q164 skew/kurt family from TEN pure-BIGINT
    base-2^30 digit sums per group (every power decomposed per row
    with explicit carries, all inside whole-stage codegen) plus one
    DECIMAL(38,0) Horner recombination — ~2.7x the DECIMAL(38,0)
    lane's throughput on moment-dense scans (10M rows, SURVEY.md).

    Exactness: the digit sums rebuild the IDENTICAL exact integer
    moment sums the decimal lane produces (pytest-pinned equal), and
    both lanes feed the SAME IEEE tail emitter
    (``chsql.moment_tails_from_sums``) — so this query is bit-identical
    to q164's bridge spelling and to the oracle's HUGEINT replay of
    the same tails. The hash therefore pins the whole limb algebra:
    digit decomposition, carries, recombination, and tails.

    Domain/audit: |value| <= 1.8e5 per row (fixture values are O(100));
    overflow is LOUD both modes — ANSI raises natively, non-ANSI trips
    the in-plan count*max audit (tests/test_stats_operators.py).

    Scale: one event_type exchange with map-side partial aggregation
    of ten longs (vs four boxed BigDecimals) — strictly lighter than
    the q164 shape at any scale; the audit columns (count, max) ride
    the same exchange."""
    from ..operators.stats import skew_kurt
    from .relational import vsort

    ev = load_tables(spark, sf_dir)["events"]
    out = skew_kurt(ev, "value", "event_type", method="limb")
    return vsort(out, "event_type")


# ---------------------------------------------------------------------------
# Q190 round-10 dialect capstone — stacked combinators, composite IN,
# tuples, toDecimal*, and the round-10 scalar batch in ONE statement
# ---------------------------------------------------------------------------
_Q190_CLICKHOUSE_SQL = """
    SELECT event_type,
           CAST(CAST(sumIfOrNull(value, user_id % 7 = 3)
                AS DECIMAL(18,4)) AS DOUBLE) AS s_if,
           countIfOrNull(user_id % 997 = 1) AS c_rare,
           CAST(CAST(avgIfOrDefault(value, user_id % 7 = 3)
                AS DECIMAL(18,4)) AS DOUBLE) AS a_if,
           countDistinctIf(user_id % 13, value > 100) AS cd_if,
           CAST(CAST(sumArrayIf([value, value * 2], user_id % 7 = 3)
                AS DECIMAL(18,4)) AS DOUBLE) AS sa_if,
           CAST(toDecimal64(minIf(value, user_id % 7 = 3), 3)
                AS DOUBLE) AS mn3,
           tupleElement(tuple(min(user_id), max(user_id)), 2) AS mx_uid,
           monthName(min(ts)) AS mn_name,
           max(toUnixTimestamp(timeSlot(ts))) AS slot_max
    FROM events
    WHERE (user_id % 5, user_id % 3) NOT IN ((0, 0), (4, 2))
    GROUP BY event_type
    ORDER BY event_type
"""

_Q190_ORACLE = """
    SELECT event_type,
           CAST(CAST(SUM(CASE WHEN user_id % 7 = 3 THEN value END)
                AS DECIMAL(18,4)) AS DOUBLE) AS s_if,
           nullif(COUNT(CASE WHEN user_id % 997 = 1 THEN 1 END), 0)
               AS c_rare,
           CAST(CAST(COALESCE(AVG(CASE WHEN user_id % 7 = 3
                THEN value END), 0.0) AS DECIMAL(18,4)) AS DOUBLE)
               AS a_if,
           COUNT(DISTINCT CASE WHEN value > 100 THEN user_id % 13 END)
               AS cd_if,
           CAST(CAST(SUM(CASE WHEN user_id % 7 = 3
                THEN value + value * 2 END) AS DECIMAL(18,4))
                AS DOUBLE) AS sa_if,
           CAST(CAST(MIN(CASE WHEN user_id % 7 = 3 THEN value END)
                AS DECIMAL(18,3)) AS DOUBLE) AS mn3,
           MAX(user_id) AS mx_uid,
           monthname(MIN(ts)) AS mn_name,
           MAX(CAST(floor(epoch(ts)) AS BIGINT)
               - CAST(floor(epoch(ts)) AS BIGINT) % 1800) AS slot_max
    FROM events
    WHERE NOT ((user_id % 5 = 0 AND user_id % 3 = 0)
               OR (user_id % 5 = 4 AND user_id % 3 = 2))
    GROUP BY event_type
    ORDER BY event_type
"""


@query("q190_dialect_round10", oracle=_Q190_ORACLE)
def q190(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-10 DIALECT CAPSTONE: the round's bridge additions composed
    in ONE verbatim ClickHouse statement, driver-hash-verified — the
    q184 device applied to the round-10 surface:

    - STACKED combinators ``sumIfOrNull`` / ``countIfOrNull`` /
      ``avgIfOrDefault`` / ``countDistinctIf`` / ``sumArrayIf``
      (``chsql._rewrite_combinators``'s round-10 pre-passes: the -If
      leg peels into the CASE gate, the -OrNull/-OrDefault leg lands
      on Spark's native empty-set NULL / coalesce);
    - composite-key ``(a, b) NOT IN ((..), (..))`` in the WHERE
      (``chsql._rewrite_tuple_in`` — both sides become POSITIONAL
      named_structs, since Spark compares struct field names);
    - ``tuple()`` / ``tupleElement`` (positional ``_N`` element
      names) and ``toDecimal64(x, scale)`` (CAST at CH's precision
      tier);
    - the round-10 scalar batch: ``monthName`` (full-name template —
      Spark 4's builtin returns the abbreviation and cannot be
      replaced), ``timeSlot`` (half-hour floor) via
      ``toUnixTimestamp`` so the output is an engine-neutral BIGINT.

    Exactness: counts/distinct-counts/min/max are exact; the double
    group sums snap to DECIMAL(18,4) and surface as DOUBLE
    (decimal trailing-zero rendering differs across engines) (order-noise ~1e-7 absolute vs
    the 1e-4 grid — the entropy-snap device); sumArrayIf's per-row
    fold ``(0 + v) + 2v`` is the identical IEEE sequence both engines
    evaluate. The oracle spells every stacked combinator in its
    expanded ANSI form — two independent spellings, one hash.

    Scale: one map-side-combined exchange on event_type; the tuple-IN
    filter is a per-row predicate pushed at the scan."""
    from ..functions.chsql import ch_sql
    from .relational import vsort

    register_views(spark, sf_dir)
    return vsort(ch_sql(spark, _Q190_CLICKHOUSE_SQL), "event_type")


# ---------------------------------------------------------------------------
# Q191 round-12 dialect capstone — the round's grammar wave (tail-shard
# SAMPLE OFFSET, bare-table IN, untuple, MySQL-form LIMIT) in ONE
# statement
# ---------------------------------------------------------------------------
_Q191_CLICKHOUSE_SQL = """
WITH hot AS (
    SELECT DISTINCT event_type FROM events WHERE value > 180
)
SELECT event_type, untuple(t)
FROM (
    SELECT event_type,
           tuple(count(),
                 CAST(CAST(sum(value) AS DECIMAL(18,4)) AS DOUBLE)) AS t
    FROM events SAMPLE 1/2 OFFSET 1/2
    WHERE event_type IN hot
    GROUP BY event_type
) g
ORDER BY event_type
LIMIT 1, 3
"""

_Q191_ORACLE = """
    WITH hot AS (
        SELECT DISTINCT event_type FROM events WHERE value > 180
    )
    SELECT event_type,
           COUNT(*) AS "_1",
           CAST(CAST(SUM(value) AS DECIMAL(18,4)) AS DOUBLE) AS "_2"
    FROM events
    WHERE substr(md5(CAST(event_id AS STRING)), 1, 8) >= '80000000'
      AND event_type IN (SELECT event_type FROM hot)
    GROUP BY event_type
    ORDER BY event_type
    LIMIT 3 OFFSET 1
"""


@query("q191_dialect_round12", oracle=_Q191_ORACLE)
def q191(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-12 DIALECT CAPSTONE: this round's grammar-probe wave
    composed in ONE verbatim ClickHouse statement, driver-hash-verified
    (the q184/q190 device applied to the round-12 surface):

    - ``SAMPLE 1/2 OFFSET 1/2`` — the canonical DISJOINT-TAIL-SHARD
      sampling window whose upper edge lands on 1.0 exactly; before
      this round's ADVICE-r11 fix the emitted hash window compared an
      8-char md5 prefix against the NINE-char bound '100000000' and
      silently matched ~nothing (``chsql._rewrite_sample``: the tail
      shard now emits only the lower bound). The md5-prefix contract
      is replay-stable and engine-portable, so the oracle spells the
      IDENTICAL filter and the hash pins the member set;
    - ``event_type IN hot`` — CH's bare-table IN shorthand against a
      CTE (``_rewrite_misc_grammar`` -> ``IN (SELECT * FROM hot)``);
    - ``untuple(t)`` over a positional ``tuple()`` column -> Spark's
      ``t.*`` star expansion, surfacing CH's positional element names
      ``_1``/``_2`` (the oracle aliases to the same names);
    - ``LIMIT 1, 3`` — the MySQL-form offset grammar -> ``LIMIT 3
      OFFSET 1`` (deterministic: applied over distinct, fully-ordered
      group keys).

    Exactness: count is exact over the pinned md5 member set; the
    double group sum snaps to the DECIMAL(18,4) grid (the entropy-snap
    device — absorbs summation-order noise ~1e-7 vs the 1e-4 grid).

    Scale: the SAMPLE filter is a per-row scan predicate (no shuffle);
    the CTE's distinct and the semi-join IN both exchange only the
    ~5-row event_type domain; one map-side-combined aggregate exchange.

    Reference parity: §2.E dialect surface (the reference's consumers
    sample rollup shards with exactly this SAMPLE/OFFSET split,
    `tables.sql:5-30`)."""
    from ..functions.chsql import ch_sql

    register_views(spark, sf_dir)
    return ch_sql(
        spark, _Q191_CLICKHOUSE_SQL, sample_by={"events": "event_id"}
    )


# ---------------------------------------------------------------------------
# Q192 round-12 wave-3 capstone — date/cast/pad/round scalar bridges
# driver-verified in ONE verbatim CH statement
# ---------------------------------------------------------------------------
_Q192_CLICKHOUSE_SQL = """
    SELECT event_type,
           dateDiff('day', min(ts), max(ts)) AS span_days,
           date_diff('hour', min(ts), max(ts)) AS span_hours,
           age('minute', min(ts), max(ts)) AS age_min,
           accurateCastOrNull(max(user_id), 'UInt8') AS uid8,
           accurateCastOrNull(max(user_id) % 200, 'UInt8') AS uid8m,
           leftPad(event_type, 12) AS padded,
           CAST(CAST(roundBankers(min(value), 1) AS DECIMAL(18,4))
                AS DOUBLE) AS rb,
           ifNotFinite(max(value), -1.0) AS fin,
           roundToExp2(count()) AS pot
    FROM events
    GROUP BY event_type
    ORDER BY event_type
"""

_Q192_ORACLE = """
    SELECT event_type,
           date_diff('day', min(ts), max(ts)) AS span_days,
           date_diff('hour', min(ts), max(ts)) AS span_hours,
           CAST(floor(epoch(max(ts) - min(ts)) / 60) AS BIGINT)
               AS age_min,
           CASE WHEN max(user_id) BETWEEN 0 AND 255
                THEN CAST(max(user_id) AS SMALLINT) END AS uid8,
           CASE WHEN max(user_id) % 200 BETWEEN 0 AND 255
                THEN CAST(max(user_id) % 200 AS SMALLINT) END AS uid8m,
           lpad(event_type, 12, ' ') AS padded,
           CAST(CAST(round_even(min(value), 1) AS DECIMAL(18,4))
                AS DOUBLE) AS rb,
           max(value) AS fin,
           CASE WHEN count(*) < 1 THEN 0
                ELSE CAST(2 ** floor(log2(count(*))) AS BIGINT)
           END AS pot
    FROM events
    GROUP BY event_type
    ORDER BY event_type
"""


@query("q192_dialect_wave3", oracle=_Q192_ORACLE)
def q192(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-12 WAVE-3 CAPSTONE: the date/cast/pad/round scalar bridges
    composed in ONE verbatim ClickHouse statement, driver-hash-verified
    (the q184/q190/q191 device):

    - ``dateDiff`` + its ``date_diff`` ALIAS (boundary-crossing count —
      DuckDB's date_diff shares the truncate-then-diff contract, so the
      oracle spells it natively; Spark's own 2-arg date_diff builtin is
      left untouched by the alias pass);
    - ``age('minute', a, b)`` — COMPLETE elapsed units, no truncation
      (bridged to Spark's timestampdiff, whose probed contract matches;
      the oracle replays it as floor(epoch-delta / 60); month-class
      units reject on CH's month-end clamping);
    - ``accurateCastOrNull(x, 'UInt8')`` — NULL-on-out-of-domain via
      the range-gated to<T>OrNull family (one in-range arm, one
      out-of-range arm whose NULL the hash pins);
    - ``leftPad`` 2-arg form (CH's default space pad);
    - ``roundBankers(x, 1)`` -> Spark bround vs DuckDB round_even —
      two independent half-to-even implementations, snapped on the
      DECIMAL(18,4) grid;
    - ``ifNotFinite`` (identity arm over finite data);
    - ``roundToExp2(count())`` — power-of-two floor, exponent-clamped.

    Scale: one map-side-combined exchange on event_type, scalar tails
    on 5 group rows."""
    from ..functions.chsql import ch_sql

    register_views(spark, sf_dir)
    return ch_sql(spark, _Q192_CLICKHOUSE_SQL)
