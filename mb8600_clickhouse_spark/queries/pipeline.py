"""Q61-Q65: corpus-curation queries a large-scale training-data pipeline
runs beyond dedup/similarity — deterministic hash sampling, vocabulary
statistics, benchmark decontamination, per-domain quotas — plus the
Spark SQL API surface (every earlier query uses the DataFrame API; a
ClickHouse user migrating SQL needs ``spark.sql`` to be first-class).

All five are fully oracle-verified. Portability devices: md5-hex string
ordering for deterministic pseudo-random choices (identical in Spark and
DuckDB), the shared whitespace-split dialect from q35/q45, and the q40/41
trigram-shingle dialect for decontamination.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators import dedup
from ..tables import load_tables, register_views
from . import query


def _cleanup_tmp(prefix: str) -> None:
    """Best-effort removal of PRIOR runs' temp tables under /tmp
    (age-gated: a dir older than an hour cannot back any still-lazy
    DataFrame of the current driver/bench process)."""
    import glob
    import os
    import shutil
    import tempfile
    import time

    for old in glob.glob(f"{tempfile.gettempdir()}/{prefix}*"):
        try:
            if time.time() - os.path.getmtime(old) > 3600:
                shutil.rmtree(old, ignore_errors=True)
        except OSError:
            pass

# ---------------------------------------------------------------------------
# Q61 Spark SQL API surface (GROUP BY + HAVING via spark.sql)
# ---------------------------------------------------------------------------
_Q61_SQL = """
    SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY o_orderpriority, o_orderstatus
    HAVING COUNT(*) >= 10
    ORDER BY o_orderpriority, o_orderstatus
"""


@query("q61_sql_api", oracle=_Q61_SQL)
def q61(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front door: the IDENTICAL ANSI text runs through
    ``spark.sql`` over registered views and through the DuckDB oracle —
    dialect-shared SQL is the migration path for ClickHouse SQL users.
    Also covers HAVING (post-aggregation filter), which no DataFrame
    query exercises explicitly."""
    register_views(spark, sf_dir)
    return spark.sql(_Q61_SQL)


# ---------------------------------------------------------------------------
# Q62 deterministic hash sampling (Bernoulli by content-stable key)
# ---------------------------------------------------------------------------
@query(
    "q62_hash_sample",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
    ORDER BY doc_id
    """,
)
def q62(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% corpus sample ('1a' = 26/256 of the first md5 byte space),
    deterministic and replay-stable — the pipeline spelling of
    ``TABLESAMPLE`` when reproducibility across runs/engines matters
    (``rand()`` samples differ per execution; a hash of the stable key
    never does). Pure per-row filter: pushes to the scan, zero shuffle."""
    docs = load_tables(spark, sf_dir)["documents"]
    return (
        docs.filter(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "1a"
        )
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Q63 vocabulary statistics: token document frequency
# ---------------------------------------------------------------------------
@query(
    "q63_token_df",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_distinct(string_split_regex(trim(lower(text)), '\\s+'))) AS token
      FROM documents
    )
    SELECT token, COUNT(*) AS df
    FROM toks WHERE token <> ''
    GROUP BY token ORDER BY df DESC, token LIMIT 100
    """,
)
def q63(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 vocabulary by document frequency (distinct tokens per doc,
    then one hash aggregate on token). The vocab/IDF building block:
    shuffle carries (token, partial count) after map-side combine —
    hot stopwords are absorbed by partial aggregation, not a hot
    reducer. TakeOrdered handles the limit (no full sort)."""
    docs = load_tables(spark, sf_dir)["documents"]
    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
        ).alias("token"),
    ).filter(F.col("token") != "")
    return (
        toks.groupBy("token")
        .agg(F.count("*").alias("df"))
        .orderBy(F.col("df").desc(), "token")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Q64 benchmark decontamination (n-gram overlap flagging)
# ---------------------------------------------------------------------------
_BENCH_PRED = "doc_id % 97 = 0"

@query(
    "q64_contamination",
    oracle=f"""
    WITH bench_docs AS (SELECT doc_id, text FROM documents WHERE {_BENCH_PRED}),
    train_docs AS (
      SELECT doc_id, text FROM documents WHERE NOT ({_BENCH_PRED})
      UNION ALL
      SELECT doc_id + 500000, text || ' extra' FROM bench_docs
    ),
    allsh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(w) - 2, 0)),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
      FROM (
        SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
        FROM (SELECT doc_id, text FROM bench_docs UNION ALL SELECT doc_id, text FROM train_docs)
      )
    ),
    bench AS (SELECT DISTINCT s FROM allsh WHERE doc_id < 500000 AND {_BENCH_PRED}),
    train AS (SELECT doc_id, s FROM allsh WHERE NOT ({_BENCH_PRED}) OR doc_id >= 500000)
    SELECT doc_id, COUNT(*) AS n_shared
    FROM train WHERE s IN (SELECT s FROM bench)
    GROUP BY doc_id HAVING COUNT(*) >= 5
    ORDER BY doc_id
    """,
)
def q64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing >= 5
    distinct word-trigrams with any held-out benchmark doc (every 97th
    doc; contaminated copies are planted deterministically so the flag
    fires).

    Scale shape (round-5 rework; wall time at sf0.1 is FLAT vs the
    round-4 checkpoint shape — A/B medians 1.34 s vs 1.29 s, fixture
    scale is fixed-cost-dominated — but the structure changes from
    one full-corpus wide op to zero):

    - the benchmark filter is pushed BEFORE shingling, so the bench
      side tokenizes only its 1/97 of the docs; its distinct shingle
      hashes are BROADCAST (benchmark suites are thousands of docs
      while the train side is the 100 TB corpus);
    - the train side is shingled in ONE map-only pass (no
      dropDuplicates, no checkpoint): within-doc duplicate shingles
      survive to the broadcast semi-join, which filters them map-side,
      and per-doc DISTINCTness is settled by count_distinct in the
      final aggregation — deduplication work happens only on the tiny
      set of semi-join SURVIVORS (shingles actually shared with the
      benchmark), not on the whole corpus. The round-4 shape shuffled
      every (id, hash) row once for dropDuplicates; this shape's only
      exchange carries survivors.

    Never shuffles text; hash collisions at |shingles|^2/2^64 are
    negligible (same trade as q41)."""
    docs = load_tables(spark, sf_dir)["documents"]

    def _sh(df: DataFrame) -> DataFrame:
        return dedup.shingle_rows(df, "doc_id", "text", 3, distinct=False).select(
            "id", F.xxhash64("s").alias("h")
        )

    bench_sh = F.broadcast(
        _sh(docs.filter(F.col("doc_id") % 97 == 0).select("doc_id", "text"))
        .select("h")
        .distinct()
    )
    planted = docs.filter(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.concat("text", F.lit(" extra")).alias("text"),
    )
    train_sh = _sh(
        docs.filter(F.col("doc_id") % 97 != 0).select("doc_id", "text")
    ).unionAll(_sh(planted))
    return (
        train_sh.join(bench_sh, "h", "leftsemi")
        .groupBy("id")
        .agg(F.count_distinct("h").alias("n_shared"))
        .filter(F.col("n_shared") >= 5)
        .select(F.col("id").alias("doc_id"), "n_shared")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Q65 per-domain quota sampling
# ---------------------------------------------------------------------------
@query(
    "q65_domain_quota",
    oracle="""
    SELECT lang, doc_id FROM (
      SELECT lang, doc_id,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    ) WHERE rn <= 20
    ORDER BY lang, doc_id
    """,
)
def q65(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain (language) quota: a deterministic pseudo-random 20
    docs per lang via md5-ordered row_number — the data-mixture
    rebalancing step of corpus curation. One hash-shuffle on the domain
    key; the window is a per-group top-k (rank truncates early)."""
    docs = load_tables(spark, sf_dir)["documents"]
    w = W.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    )


# ---------------------------------------------------------------------------
# Q70 TTL rollup demotion (ClickHouse `TTL ... GROUP BY` across tables)
# ---------------------------------------------------------------------------
@query(
    "q70_ttl_demote",
    oracle="""
    WITH src AS (
      SELECT user_id % 10 AS cohort, ts,
             CAST(value AS DECIMAL(18,4)) AS v
      FROM events WHERE event_type = 'purchase'
    )
    SELECT cohort,
           CAST(SUM(CASE WHEN ts <  TIMESTAMP '2024-01-15 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS n_demoted,
           CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN v END) AS DOUBLE) AS total_demoted,
           CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS n_remaining
    FROM src GROUP BY cohort
    HAVING SUM(CASE WHEN ts <  TIMESTAMP '2024-01-15 00:00:00' THEN 1 ELSE 0 END) > 0
       AND SUM(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00' THEN 1 ELSE 0 END) > 0
    ORDER BY cohort
    """,
)
def q70(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``TTL ... GROUP BY`` across tables, end-to-end on the
    engine's own table format: purchase events land in a ManifestTable
    (three time-ordered file chunks), then ``demote_expired`` folds the
    pre-cutoff rows into a per-cohort rollup table and expires them from
    the source — wholly-dead chunks drop metadata-only via manifest
    stats, the straddler rewrites. The result joins the rollup contents
    (what was demoted) with the surviving source counts (what expire
    kept), so ONE hash check verifies both halves of the cross-table
    contract against plain SQL over the original fixture.

    Determinism: a fresh temp table is built per call from the fixture
    rows (tiny — one event type), the demoted sum is an exact decimal,
    and the cutoff is fixed. The 10-row result is materialized EAGERLY
    before returning (``collect`` + ``createDataFrame``) so the caller's
    evaluation count and timing cannot interact with the per-run /tmp
    manifest state — the returned frame is a pure local relation."""
    import datetime as dt
    import tempfile

    from ..plans import ManifestTable
    from ..streaming import incremental

    _cleanup_tmp("q70_demote_")
    ev = load_tables(spark, sf_dir)["events"]
    src_rows = ev.filter(F.col("event_type") == "purchase").select(
        (F.col("user_id") % 10).alias("cohort"),
        "ts",
        F.col("value").cast("decimal(18,4)").alias("v"),
    )
    root = tempfile.mkdtemp(prefix="q70_demote_")
    src = ManifestTable(f"{root}/src")
    cutoff = dt.datetime(2024, 1, 15)
    # three time-ordered chunks: wholly-dead / straddling / wholly-live.
    # First and last chunks are OPEN-ENDED so the source table contains
    # exactly the fixture's purchase rows no matter what time span a
    # regenerated fixture covers (a closed [2024-01-01, 2024-02-01)
    # window would silently drop out-of-range events while the oracle
    # still aggregates them).
    m1, m2 = "2024-01-10", "2024-01-20"
    for cond in (
        F.col("ts") < F.lit(m1),
        (F.col("ts") >= F.lit(m1)) & (F.col("ts") < F.lit(m2)),
        F.col("ts") >= F.lit(m2),
    ):
        src.append(src_rows.filter(cond).coalesce(1))
    incremental.demote_expired(
        spark, f"{root}/src", f"{root}/roll", "ts", cutoff,
        keys=["cohort"],
        aggs={"n_demoted": ("count", "*"), "total_demoted": ("sum", "v")},
    )
    roll = ManifestTable(f"{root}/roll").read(spark).select(
        "cohort", "n_demoted",
        F.col("total_demoted").cast("double").alias("total_demoted"),
    )
    remaining = (
        ManifestTable(f"{root}/src").read(spark)
        .groupBy("cohort").agg(F.count("*").alias("n_remaining"))
    )
    out = roll.join(remaining, "cohort").orderBy("cohort")
    # eager materialization: see docstring (lazy frames over per-run
    # /tmp manifest state are re-evaluation hazards for the caller)
    return spark.createDataFrame(out.collect(), out.schema)


# ---------------------------------------------------------------------------
# Q73 incremental MV maintenance over a manifest STREAM (end-to-end)
# ---------------------------------------------------------------------------
@query(
    "q73_stream_rollup",
    oracle="""
    SELECT user_id % 8 AS cohort,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events WHERE event_type = 'click'
    GROUP BY cohort ORDER BY cohort
    """,
)
def q73(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance, driven END-TO-END by
    Structured Streaming in the verified set (q36-q39 verify streaming
    semantics via batch parity; this query runs the REAL machinery):
    click events land in a ManifestTable in three commits, a
    ``format("manifest")`` stream with an ``availableNow`` trigger folds
    each micro-batch's additive partials into a rollup table through the
    exactly-once epoch sink, and the rollup contents hash-match a plain
    GROUP BY over the original fixture — correct regardless of how the
    engine batches the three commits, because the aggregates are
    additive and the sums are exact decimals."""
    import tempfile

    from ..plans import ManifestTable
    from ..streaming import incremental

    _cleanup_tmp("q73_stream_")
    ev = load_tables(spark, sf_dir)["events"]
    rows = ev.filter(F.col("event_type") == "click").select(
        (F.col("user_id") % 8).alias("cohort"),
        F.col("event_id"),
        F.col("value").cast("decimal(18,4)").alias("v"),
    )
    root = tempfile.mkdtemp(prefix="q73_stream_")
    src = ManifestTable(f"{root}/src")
    for part in range(3):
        src.append(rows.filter(F.col("event_id") % 3 == part).coalesce(1))
    q = incremental.maintain_rollup(
        spark,
        f"{root}/src",
        f"{root}/roll",
        keys=["cohort"],
        aggs={"n_events": ("count", "*"), "total_value": ("sum", "v")},
        checkpoint_dir=f"{root}/ck",
        available_now=True,
    )
    if not q.awaitTermination(180):
        # never fall through to reading a PARTIAL rollup: a timeout must
        # be a loud failure, not a silent wrong answer
        q.stop()
        raise TimeoutError("q73 availableNow stream did not finish in 180s")
    out = (
        ManifestTable(f"{root}/roll")
        .read(spark)
        .select(
            "cohort",
            "n_events",
            F.col("total_value").cast("double").alias("total_value"),
        )
        .orderBy("cohort")
    )
    # eager materialization, same rationale as q70: the result must not
    # stay a lazy view over this run's /tmp rollup state
    return spark.createDataFrame(out.collect(), out.schema)


# ---------------------------------------------------------------------------
# Q157 REAL streaming session windows (F6, round 8)
# ---------------------------------------------------------------------------
@query(
    "q157_stream_session_window",
    oracle="""
    WITH src AS (
      SELECT user_id, ts, value FROM events WHERE user_id < 40
    ),
    flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS boundary
      FROM src
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT user_id, ts, value,
             SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM sess GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
)
def q157(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming session windows (F6's one window shape q38 only
    verified in batch): events land as parquet files, a watermarked
    ``session_window`` stream aggregates them under ``availableNow``,
    and a per-user SENTINEL event far past the horizon (written as a
    SECOND file so it arrives in its own micro-batch) advances the
    end-of-stream watermark past every real session's close — Spark's
    no-data flush batch then emits them ALL, so the memory sink holds
    exactly the batch sessionization (probe-verified: 622/622 at
    sf0.001) and the result hash-matches the q38 lag-based oracle
    deterministically. Sentinel-born sessions are excluded by their
    start time.

    Scale: session_window state is per-user bounded and watermark-
    expired; the sentinel trick is the standard batch-replay device —
    a live deployment's watermark advances from real traffic
    instead."""
    import tempfile

    from .relational import vsort

    _cleanup_tmp("q157_sess_")
    ev = load_tables(spark, sf_dir)["events"].filter(F.col("user_id") < 40)
    real = ev.select("user_id", "ts", "value")
    mx = real.agg(F.max("ts")).first()[0]
    root = tempfile.mkdtemp(prefix="q157_sess_")
    src_dir = f"{root}/src"
    real.coalesce(1).write.parquet(src_dir)
    (
        real.select("user_id").distinct()
        .select(
            "user_id",
            (F.lit(mx) + F.expr("INTERVAL 100 DAYS")).alias("ts"),
            F.lit(0.0).alias("value"),
        )
        .coalesce(1)
        .write.mode("append")
        .parquet(src_dir)
    )
    stream = spark.readStream.schema(real.schema).parquet(src_dir)
    agg = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("tv"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            F.col("tv").cast("double").alias("total_value"),
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("q157_sess_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{root}/ck")
        .start()
    )
    if not q.awaitTermination(240):
        q.stop()
        raise TimeoutError("q157 availableNow stream did not finish in 240s")
    out = (
        spark.table("q157_sess_out")
        .where(F.col("session_start") <= F.lit(mx))
        .select(
            "user_id",
            "session_start",
            "session_end",
            F.col("n_events").cast("bigint").alias("n_events"),
            "total_value",
        )
    )
    out = vsort(out, "user_id", "session_start")
    return spark.createDataFrame(out.collect(), out.schema)


# ---------------------------------------------------------------------------
# Q74 ClickHouse-dialect SQL through the bridge (functions/clickhouse.py)
# ---------------------------------------------------------------------------
_Q74_CLICKHOUSE_SQL = """
    SELECT toStartOfHour(ts) AS h,
           toYYYYMM(ts) AS ym,
           toDayOfWeek(ts) AS dow,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM events
    GROUP BY 1, 2, 3, 4
    ORDER BY h, event_type
"""


@query(
    "q74_clickhouse_sql",
    oracle="""
    SELECT date_trunc('hour', ts) AS h,
           year(ts) * 100 + month(ts) AS ym,
           isodow(ts) AS dow,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM events
    GROUP BY 1, 2, 3, 4
    ORDER BY h, event_type
    """,
)
def q74(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The migration path, driver-verified: a dashboard rollup written
    in CLICKHOUSE spelling (`toStartOfHour`, `toYYYYMM`, `toDayOfWeek`)
    runs verbatim through ``spark.sql`` after
    ``register_clickhouse_functions``, and hash-matches the DuckDB
    oracle written in portable SQL (`isodow` = ClickHouse's Monday=1
    numbering, which the bridge's `toDayOfWeek` remaps Spark onto).
    The aliases are Catalyst-inlined SQL UDFs — the GROUP BY runs as
    ordinary codegen expressions, no python, no overhead."""
    from ..functions.clickhouse import register_clickhouse_functions

    register_clickhouse_functions(spark, _Q74_CLICKHOUSE_SQL)
    register_views(spark, sf_dir)
    return spark.sql(_Q74_CLICKHOUSE_SQL)


# ---------------------------------------------------------------------------
# Q75 skew-salted join + two-phase aggregation (operators/skew.py)
# ---------------------------------------------------------------------------
@query(
    "q75_skew_salted",
    oracle="""
    WITH fact AS (
      SELECT CASE WHEN event_id % 10 < 7 THEN 'hot' ELSE event_type END AS k,
             event_id, CAST(value AS DECIMAL(18,4)) AS v
      FROM events
    ),
    dim AS (SELECT DISTINCT k, 'dim_' || k AS label FROM fact)
    SELECT f.k AS k, d.label AS label, COUNT(*) AS n,
           CAST(SUM(f.v) AS DOUBLE) AS total
    FROM fact f LEFT JOIN dim d ON d.k = f.k
    GROUP BY 1, 2 ORDER BY f.k
    """,
)
def q75(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key handling, driver-verified as semantics-preserving: 70% of
    events collapse onto one 'hot' key, then the pipeline runs the TWO
    explicit skew levers — ``salted_join`` (fact side salted by
    event_id, dimension exploded per salt) and ``salted_agg``
    (two-phase: per-(key, salt) partials, then an n_salts-row merge per
    key) — and the result hash-matches the plain join + GROUP BY the
    oracle runs. At 100 TB the hot key spreads over n_salts reducers
    instead of one; here the gate proves the rewrite changes the
    PLAN, never the answer (sums stay exact decimals through both
    phases)."""
    from ..operators import skew

    ev = load_tables(spark, sf_dir)["events"]
    fact = ev.select(
        F.when(F.col("event_id") % 10 < 7, F.lit("hot"))
        .otherwise(F.col("event_type"))
        .alias("k"),
        "event_id",
        F.col("value").cast("decimal(18,4)").alias("v"),
    )
    dim = fact.select("k").distinct().select(
        "k", F.concat(F.lit("dim_"), F.col("k")).alias("label")
    )
    joined = skew.salted_join(
        fact, dim, "k", n_salts=8, how="left", salt_from="event_id"
    )
    out = skew.salted_agg(
        joined,
        ["k", "label"],
        [("n", "event_id", F.count, F.sum), ("total", "v", F.sum, F.sum)],
        salt_from="event_id",
        n_salts=8,
    )
    return out.select(
        "k", "label", "n", F.col("total").cast("double").alias("total")
    ).orderBy("k")


# ---------------------------------------------------------------------------
# Q68 sequence packing (capacity-constrained training-batch assembly)
# ---------------------------------------------------------------------------
@query(
    "q68_sequence_packing",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id, lang,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n_tokens
      FROM documents
    ),
    ord AS (
      SELECT doc_id, lang, n_tokens,
             row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM toks
    ),
    packs AS (
      SELECT doc_id, lang, n_tokens, rn,
             CAST(0 AS BIGINT) AS pack_id, n_tokens AS acc
      FROM ord WHERE rn = 1
      UNION ALL
      SELECT o.doc_id, o.lang, o.n_tokens, o.rn,
             CASE WHEN p.acc + o.n_tokens > 512 THEN p.pack_id + 1 ELSE p.pack_id END,
             CASE WHEN p.acc + o.n_tokens > 512 THEN o.n_tokens ELSE p.acc + o.n_tokens END
      FROM packs p JOIN ord o ON o.lang = p.lang AND o.rn = p.rn + 1
    )
    SELECT doc_id, lang, n_tokens, pack_id
    FROM packs ORDER BY lang, doc_id
    """,
)
def q68(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequential sample packing: per language, docs in doc_id
    order fill 512-token packs (a doc that would overflow starts the
    next pack). Stateful-by-construction, so the Spark side is the
    documented ``applyInPandas`` escape hatch over (id, size) pairs and
    the oracle is a recursive CTE — the determinism of the greedy rule
    makes a custom stateful operator exactly differential-testable."""
    from ..operators import text as text_ops
    from ..operators.packing import pack_sequences

    docs = load_tables(spark, sf_dir)["documents"]
    toks = docs.select(
        "doc_id",
        "lang",
        text_ops.token_count(F.col("text")).cast("int").alias("n_tokens"),
    )
    return pack_sequences(toks, ["lang"], "doc_id", "n_tokens", 512).select(
        "doc_id", "lang", "n_tokens", "pack_id"
    ).orderBy("lang", "doc_id")


# ---------------------------------------------------------------------------
# Q76 non-scalar ClickHouse dialect through the pre-rewriter (chsql.py)
# ---------------------------------------------------------------------------
_Q76_CLICKHOUSE_SQL = """
    SELECT lang,
           arrayJoin(splitByChar(' ', text)) AS tok,
           count() AS n,
           uniqExact(doc_id) AS n_docs
    FROM documents
    GROUP BY lang, tok
    ORDER BY lang, n DESC, tok
    LIMIT 3 BY lang
"""


@query(
    "q76_clickhouse_rewrite",
    oracle="""
    SELECT lang, tok, n, n_docs FROM (
      SELECT lang, tok, count(*) AS n, count(DISTINCT doc_id) AS n_docs,
             row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, tok) AS rn
      FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
            FROM documents) u
      GROUP BY lang, tok
    ) t WHERE rn <= 3
    ORDER BY lang, n DESC, tok
    """,
)
def q76(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NON-scalar ClickHouse dialect running VERBATIM: a top-tokens
    dashboard query spelled with ``arrayJoin`` (row unrolling),
    ``LIMIT 3 BY lang`` (per-group top-n), bare ``count()`` and the
    ``uniqExact`` combinator goes through
    ``chsql.rewrite_clickhouse_sql`` — arrayJoin becomes a LATERAL
    VIEW explode with the splitByChar alias body inlined (Spark forbids
    SQL UDFs inside a Generate), LIMIT BY becomes a row_number window
    filter ordered by the query's own ORDER BY — and hash-matches the
    DuckDB oracle written with unnest + row_number directly. Where q74
    proves the SCALAR vocabulary runs verbatim, this proves the syntax
    forms the reference deployment's Grafana dashboards rely on
    (reference ``tables.sql:5-30`` workload) need zero hand-rewriting."""
    from ..functions.chsql import ch_sql

    register_views(spark, sf_dir)
    return ch_sql(spark, _Q76_CLICKHOUSE_SQL)


# ---------------------------------------------------------------------------
# Q79 ClickHouse FROM ... FINAL through the pre-rewriter
# ---------------------------------------------------------------------------
_Q79_CLICKHOUSE_SQL = """
    SELECT event_type,
           count() AS n_current,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_current
    FROM events FINAL
    GROUP BY event_type
    ORDER BY event_type
"""


@query(
    "q79_clickhouse_final",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_current,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_current
    FROM (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    GROUP BY event_type ORDER BY event_type
    """,
)
def q79(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``SELECT ... FROM events FINAL`` running VERBATIM:
    the ReplacingMergeTree read-time collapse (latest row per sorting
    key) that dashboard queries lean on. The DDL knowledge ClickHouse
    resolves FINAL with lives outside the SQL text, so the bridge takes
    it explicitly — ``final_tables={'events': (['user_id',
    'event_type'], 'event_id')}`` — and rewrites to a row_number
    latest-per-key subquery. ``event_id`` is unique, so the surviving
    row is deterministic (a tied version column is arbitrary in
    ClickHouse too). Exact decimal sums; oracle spells the same
    collapse directly."""
    from ..functions.chsql import ch_sql

    register_views(spark, sf_dir)
    return ch_sql(
        spark,
        _Q79_CLICKHOUSE_SQL,
        final_tables={"events": (["user_id", "event_type"], "event_id")},
    )


# ---------------------------------------------------------------------------
# Q82 ClickHouse GROUP BY ... WITH TOTALS through the pre-rewriter
# ---------------------------------------------------------------------------
_Q82_CLICKHOUSE_SQL = """
    SELECT event_type,
           count() AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM events
    GROUP BY event_type WITH TOTALS
    ORDER BY event_type NULLS LAST
"""


@query(
    "q82_clickhouse_totals",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM events
    GROUP BY GROUPING SETS ((event_type), ())
    ORDER BY event_type NULLS LAST
    """,
)
def q82(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``GROUP BY ... WITH TOTALS`` running VERBATIM: the
    dashboard footer-row idiom rewrites to
    ``GROUP BY GROUPING SETS ((keys), ())`` — an EXACT mapping (the
    totals row carries NULL group keys in both engines), verified
    against DuckDB spelling the grouping sets directly. Exact decimal
    sums make the totals row hash-stable."""
    from ..functions.chsql import ch_sql

    register_views(spark, sf_dir)
    return ch_sql(spark, _Q82_CLICKHOUSE_SQL)


# ---------------------------------------------------------------------------
# Q84 stream-stream interval join (REAL Structured Streaming machinery)
# ---------------------------------------------------------------------------
@query(
    "q84_stream_stream_join",
    oracle="""
    SELECT c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.user_id AS user_id,
           CAST(CAST(p.value AS DECIMAL(18,4)) AS DOUBLE) AS purchase_value
    FROM events c JOIN events p
      ON p.user_id = c.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    ORDER BY click_id, purchase_id
    """,
)
def q84(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM interval join through the REAL machinery (the
    q73 pattern): click and purchase events land in two ManifestTables,
    two ``format("manifest")`` streams with event-time watermarks join
    on user within a [0, 30 min] attribution window
    (``streaming/joins.interval_join`` — the state-bounded shape), an
    ``availableNow`` trigger drains them into a memory sink, and the
    emitted pairs hash-match a plain batch join over the fixture.

    Determinism: each side is ONE commit → one micro-batch per side, so
    the watermark never drops a row mid-run (it only bounds state); the
    join output is a set, returned fully materialized and totally
    ordered. At scale the same plan runs continuously with state
    bounded by watermark-window x input rate — that bounding, not this
    fixture's size, is what the operator buys."""
    import tempfile

    from ..plans import ManifestTable
    from ..sources import manifest_datasource
    from ..streaming.joins import interval_join

    manifest_datasource.register(spark)
    _cleanup_tmp("q84_ssj_")
    ev = load_tables(spark, sf_dir)["events"]
    root = tempfile.mkdtemp(prefix="q84_ssj_")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("c_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
        F.col("value").cast("decimal(18,4)").alias("purchase_value"),
    )
    ManifestTable(f"{root}/clicks").append(clicks.coalesce(1))
    ManifestTable(f"{root}/purchases").append(purchases.coalesce(1))

    cs = (
        spark.readStream.format("manifest")
        .option("path", f"{root}/clicks")
        .load()
        .withWatermark("c_ts", "1 hour")
    )
    ps = (
        spark.readStream.format("manifest")
        .option("path", f"{root}/purchases")
        .load()
        .withWatermark("p_ts", "1 hour")
    )
    joined = interval_join(
        cs, ps, "user_id", "c_ts", "p_ts", lower_s=0, upper_s=1800
    )
    name = "q84_pairs"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{root}/ck")
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError("q84 availableNow stream did not finish in 180s")
    out = (
        spark.table(name)
        .select(
            "click_id",
            "purchase_id",
            "user_id",
            F.col("purchase_value").cast("double").alias("purchase_value"),
        )
        .orderBy("click_id", "purchase_id")
    )
    # eager materialization (q70/q73 hazard class: memory-sink tables
    # are session state, not a stable relation)
    return spark.createDataFrame(out.collect(), out.schema)


# ---------------------------------------------------------------------------
# Q87 JSONL ingest round-trip (training-corpus interchange format)
# ---------------------------------------------------------------------------
@query(
    "q87_jsonl_ingest",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS min_id,
           MAX(doc_id) AS max_id
    FROM read_json('{docsis}_q87_jsonl/*.json',
                   columns = {{doc_id: 'BIGINT', lang: 'VARCHAR',
                               n_chars: 'BIGINT', text: 'VARCHAR'}})
    GROUP BY lang ORDER BY lang
    """,
)
def q87(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL round-trip — the interchange format training corpora
    actually ship in: the documents table is written as JSON Lines
    (executor-parallel ``df.write.json``; text fields carry newlines
    and quotes, exercising real JSON escaping), read BACK with an
    explicit schema (no sampling inference — deterministic and
    scan-cheap at scale), and aggregated. The DuckDB oracle parses the
    SAME part files independently with ``read_json``, so one hash
    check verifies Spark's JSON writer and reader against a second
    engine's parser — correct regardless of how rows split across part
    files.

    The JSONL directory derives from the docsis fixture path (the one
    per-sf writable location the oracle template can reference), and
    is rewritten deterministically on every call."""
    from ..datagen import docsis_path_for

    docs = load_tables(spark, sf_dir)["documents"]
    out_dir = f"{docsis_path_for(sf_dir)}_q87_jsonl"
    docs.select("doc_id", "lang", "n_chars", "text").coalesce(4).write.mode(
        "overwrite"
    ).json(out_dir)
    back = (
        spark.read.schema("doc_id BIGINT, lang STRING, n_chars BIGINT, text STRING")
        .json(out_dir)
    )
    return (
        back.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Q93 ClickHouse topK through the pre-rewriter
# ---------------------------------------------------------------------------
_Q93_CLICKHOUSE_SQL = """
    SELECT event_type,
           count() AS n,
           topK(3)(user_id % 5) AS top_cohorts
    FROM events
    GROUP BY event_type
    ORDER BY event_type
"""


@query(
    "q93_clickhouse_topk",
    oracle="""
    WITH freq AS (
      SELECT event_type, user_id % 5 AS x, COUNT(*) AS cnt
      FROM events GROUP BY event_type, x
    ),
    ranked AS (
      SELECT event_type, x,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY cnt DESC, x) AS rn
      FROM freq
    ),
    tk AS (
      SELECT event_type,
             string_agg(CAST(x AS VARCHAR), ',' ORDER BY rn) AS top_cohorts
      FROM ranked WHERE rn <= 3 GROUP BY event_type
    )
    SELECT e.event_type, COUNT(*) AS n, MIN(tk.top_cohorts) AS top_cohorts
    FROM events e JOIN tk ON tk.event_type = e.event_type
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
)
def q93(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``topK(3)(x)`` running VERBATIM through the
    structural rewrite: the frequency-subquery join assembling the k
    most frequent values per group, count desc then value asc —
    DETERMINISTIC and EXACT, a documented upgrade over ClickHouse's
    approximate Filtered-Space-Saving sketch (the quantileExact
    precedent). The driver contract needs scalar sortable columns, so
    the top-k array flattens to a comma-joined string; the oracle
    recomputes the ranking with row_number + string_agg."""
    from ..functions.chsql import ch_sql

    register_views(spark, sf_dir)
    df = ch_sql(spark, _Q93_CLICKHOUSE_SQL)
    return df.select(
        "event_type",
        "n",
        F.array_join(F.col("top_cohorts"), ",").alias("top_cohorts"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Q94 CSV ingest round-trip (quoting/escaping differential)
# ---------------------------------------------------------------------------
@query(
    "q94_csv_ingest",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(length(text)) AS BIGINT) AS total_len
    FROM read_csv('{docsis}_q94_csv/*.csv',
                  columns = {{'doc_id': 'BIGINT', 'lang': 'VARCHAR',
                              'n_chars': 'BIGINT', 'text': 'VARCHAR'}},
                  header = true, quote = '"', escape = '"')
    GROUP BY lang ORDER BY lang
    """,
)
def q94(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV round-trip with ADVERSARIAL content: every text field is
    decorated with commas, double quotes and embedded newlines before
    writing, so the quoting/escaping path is genuinely exercised —
    Spark writes RFC-4180 CSV (quote-doubling escape, multiLine
    fields), reads it back with an explicit schema + multiLine, and
    the oracle parses the SAME part files with DuckDB's read_csv.
    total_len (post-decoration length) only matches if both parsers
    reconstruct the decorated text byte-for-byte through the quoting."""
    from ..datagen import docsis_path_for

    docs = load_tables(spark, sf_dir)["documents"]
    gnarly = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.concat(
            F.lit('a,"b"\n'), F.col("text"), F.lit('","tail')
        ).alias("text"),
    )
    out_dir = f"{docsis_path_for(sf_dir)}_q94_csv"
    # escape = '"' selects RFC-4180 quote-doubling (Spark's default is
    # backslash-escape, which DuckDB's reader does not sniff)
    gnarly.coalesce(2).write.mode("overwrite").option("header", True).option(
        "quoteAll", True
    ).option("escape", '"').csv(out_dir)
    back = (
        spark.read.schema("doc_id BIGINT, lang STRING, n_chars BIGINT, text STRING")
        .option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .csv(out_dir)
    )
    return (
        back.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.length("text")).alias("total_len"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Q95 NESTED ClickHouse dialect through the recursive pre-rewriter (round 6)
# ---------------------------------------------------------------------------
_Q95_CLICKHOUSE_SQL = """
    SELECT lang,
           quantileExact(0.5)(n_tok) AS med_tokens,
           countIf(n_tok >= 20) AS long_docs
    FROM (
        SELECT lang, doc_id, count() AS n_tok
        FROM (SELECT lang, doc_id, arrayJoin(splitByChar(' ', text)) AS tok
              FROM documents) u
        GROUP BY lang, doc_id
        SETTINGS max_threads = 8
    ) d
    GROUP BY lang WITH TOTALS
    ORDER BY lang NULLS LAST
"""


@query(
    "q95_clickhouse_nested",
    oracle="""
    WITH toks AS (
      SELECT lang, doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    cnt AS (
      SELECT lang, doc_id, count(*) AS n_tok FROM toks GROUP BY lang, doc_id
    )
    SELECT lang,
           quantile_cont(n_tok, 0.5) AS med_tokens,
           count(*) FILTER (WHERE n_tok >= 20) AS long_docs
    FROM cnt
    GROUP BY GROUPING SETS ((lang), ())
    ORDER BY lang NULLS LAST
    """,
)
def q95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A NESTED ClickHouse dashboard query running VERBATIM — the shape
    the r05 verdict listed as the rewriter's one real gap ("a migrating
    dashboard whose dialect forms sit inside a subquery still
    hand-rewrites"). Three nesting levels, dialect at every one:

    - innermost: ``arrayJoin(splitByChar(' ', text))`` row unrolling;
    - middle: bare ``count()`` plus a per-subquery ``SETTINGS`` clause
      (stripped at ITS level, not the statement's);
    - outer: the ``quantileExact(0.5)(x)`` combinator, ``countIf``, and
      ``GROUP BY ... WITH TOTALS`` — which must anchor on the OUTER
      GROUP BY even though the subquery has its own (the r05 advisory's
      mangled-SQL repro, now exercised end-to-end).

    ``rewrite_clickhouse_sql`` recurses into each parenthesized SELECT
    (``chsql._mask_subselects``), so the whole statement needs zero
    hand-rewriting; the oracle spells the same pipeline in ANSI with
    unnest + FILTER + GROUPING SETS. Median over integer token counts
    interpolates exactly in both engines (sums of small ints in binary64)."""
    from ..functions.chsql import ch_sql

    register_views(spark, sf_dir)
    return ch_sql(spark, _Q95_CLICKHOUSE_SQL)


# ---------------------------------------------------------------------------
# Q96 ORC round-trip ingest (round 6: the third interchange format)
# ---------------------------------------------------------------------------
@query(
    "q96_orc_ingest",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_ids,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(length(text)) AS BIGINT) AS total_len,
           MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
    FROM documents
    GROUP BY lang ORDER BY lang
    """,
)
def q96(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip — the third columnar interchange surface next to
    parquet (native tables) and JSONL/CSV (q87/q94): the documents
    table is written as ORC (executor-parallel, zlib default) and read
    back with an explicit schema, then aggregated over ids, counts AND
    text lengths. DuckDB has no ORC reader, so unlike q87/q94 the
    oracle aggregates the ORIGINAL parquet table — the hash check
    verifies the ORC writer+reader preserved every row and value
    (count, id set bounds, distinct ids, char sums) rather than
    cross-validating a second engine's parser; documented as the
    honest scope of this check. Round-trips through the same
    per-sf writable location as the other ingest queries."""
    from ..datagen import docsis_path_for

    docs = load_tables(spark, sf_dir)["documents"]
    out_dir = f"{docsis_path_for(sf_dir)}_q96_orc"
    docs.select("doc_id", "lang", "n_chars", "text").coalesce(4).write.mode(
        "overwrite"
    ).orc(out_dir)
    back = spark.read.schema(
        "doc_id BIGINT, lang STRING, n_chars BIGINT, text STRING"
    ).orc(out_dir)
    return (
        back.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("doc_id").alias("n_ids"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.length("text")).alias("total_len"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Q100 deterministic stratified train/val/test split (round 6)
# ---------------------------------------------------------------------------
@query(
    "q100_dataset_split",
    oracle="""
    WITH s AS (
      SELECT lang, n_chars,
             CASE WHEN substr(md5('split-v1:' || CAST(doc_id AS VARCHAR)), 1, 4) < 'cccd'
                    THEN 'train'
                  WHEN substr(md5('split-v1:' || CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
                    THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT lang, split, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars_sum
    FROM s GROUP BY lang, split ORDER BY lang, split
    """,
)
def q100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment as a pure function of the record key
    (``operators/sampling.hash_split``): 80/10/10 at md5 cut points
    'cccd'/'e666' over the first 4 hex chars. Replay-stable across
    runs, engines, and re-ingestion (q62's determinism argument,
    extended from one Bernoulli gate to a full partition of the
    corpus); per-(lang, split) counts + size sums verify both the
    assignment and its stratification in one aggregate. The label is a
    narrow per-row expression — no shuffle before the single
    reporting aggregate; at 100 TB the split column is FREE at scan
    time (computed in the same stage as the read)."""
    from ..operators.sampling import hash_split

    docs = load_tables(spark, sf_dir)["documents"]
    return (
        docs.select(
            "lang",
            "n_chars",
            hash_split(F.col("doc_id")).alias("split"),
        )
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("n_chars_sum"),
        )
        .orderBy("lang", "split")
    )


# ---------------------------------------------------------------------------
# Q101 streaming ingest dedup (dropDuplicatesWithinWatermark, round 6)
# ---------------------------------------------------------------------------
@query(
    "q101_stream_dedup",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           MIN(event_id) AS min_id,
           MAX(event_id) AS max_id
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q101(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once ingest made exactly-once INSIDE the stream: every
    fixture event arrives TWICE in one manifest commit (the classic
    redelivery shape — a reconnecting poller re-sends its last window,
    reference behavior spec mb8600.py:329-345's retry path), and
    ``dropDuplicatesWithinWatermark`` on the event key collapses the
    duplicates with state BOUNDED by the watermark delay — unlike a
    plain streaming ``dropDuplicates``, whose key state grows without
    bound for the life of the query. The deduped stream drains via
    availableNow into a parquet file sink (executor-parallel — round 13
    replaced the memory sink, whose batches collect to the driver);
    per-type aggregates over the landed files hash-match plain SQL over
    the ORIGINAL (undoubled) fixture — the dedup provably restored the
    exactly-once set.

    Determinism: duplicates ride in the SAME commit → same micro-batch,
    so the watermark can never expire a key between a row and its
    duplicate (state-retention is a scale property here, not a
    correctness precondition). At 100 TB the same plan bounds dedup
    state at (watermark delay x key arrival rate) regardless of stream
    lifetime."""
    import tempfile

    from ..plans import ManifestTable
    from ..sources import manifest_datasource

    manifest_datasource.register(spark)
    _cleanup_tmp("q101_sdd_")
    ev = load_tables(spark, sf_dir)["events"].select(
        "event_id", "ts", "user_id", "event_type"
    )
    root = tempfile.mkdtemp(prefix="q101_sdd_")
    ManifestTable(f"{root}/ev").append(ev.unionAll(ev).coalesce(2))

    s = (
        spark.readStream.format("manifest")
        .option("path", f"{root}/ev")
        .load()
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    # file sink, not memory sink (round 13): the deduped stream is
    # ~1M rows at sf0.1 — a memory sink collects every batch to the
    # DRIVER (guide §5: the driver should do no data work) and the
    # verification rollup then aggregates a driver-local table
    # single-threaded (measured 2.2 s of the q101 total; the whole
    # memory-sink drain+agg path 10.1 s vs 6.9 s with the file
    # sink). The parquet sink keeps batches executor-parallel and
    # the rollup is a parallel scan; at 100 TB a memory sink here
    # would be an OOM, so the file sink is also the honest shape.
    q = (
        s.writeStream.format("parquet")
        .option("path", f"{root}/out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{root}/ck")
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError("q101 availableNow stream did not finish in 180s")
    out = (
        spark.read.schema(s.schema).parquet(f"{root}/out")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
        .orderBy("event_type")
    )
    # eager materialization (q70/q73 hazard class: memory-sink tables
    # are session state, not a stable relation)
    return spark.createDataFrame(out.collect(), out.schema)


# ---------------------------------------------------------------------------
# Q102 ClickHouse ARRAY JOIN clause, verbatim (round 6)
# ---------------------------------------------------------------------------
_Q102_CLICKHOUSE_SQL = """
    SELECT modem_name,
           ch.channel_id AS channel_id,
           count() AS n_scrapes,
           CAST(CAST(avg(ch.snr) AS DECIMAL(38,4)) AS DOUBLE) AS avg_snr,
           CAST(sum(ch.corrected_errors) AS BIGINT) AS corrected
    FROM docsis ARRAY JOIN downstream_channels AS ch
    GROUP BY modem_name, channel_id
    ORDER BY modem_name, channel_id
"""


@query(
    "q102_clickhouse_array_join",
    oracle="""
    SELECT modem_name, ch.channel_id AS channel_id,
           COUNT(*) AS n_scrapes,
           CAST(CAST(AVG(ch.snr) AS DECIMAL(38,4)) AS DOUBLE) AS avg_snr,
           CAST(SUM(ch.corrected_errors) AS BIGINT) AS corrected
    FROM (SELECT modem_name, unnest(downstream_channels) AS ch
          FROM read_parquet('{docsis}'))
    GROUP BY modem_name, channel_id
    ORDER BY modem_name, channel_id
    """,
)
def q102(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The clause-form ``ARRAY JOIN`` — ClickHouse's canonical spelling
    for unrolling the reference schema's channel arrays
    (tables.sql:8-27 stores per-scrape channel metrics as parallel
    arrays; every dashboard chart over them starts with ``ARRAY
    JOIN``) — runs VERBATIM through ``rewrite_clickhouse_sql``:
    per-channel SNR/error rollup across scrapes, rewritten to a
    LATERAL VIEW explode Catalyst plans as generate + partial hash
    aggregate (explode feeds the aggregate in the SAME stage; only
    (modem, channel) groups shuffle)."""
    from ..functions.chsql import ch_sql

    register_views(spark, sf_dir)
    return ch_sql(spark, _Q102_CLICKHOUSE_SQL)


# ---------------------------------------------------------------------------
# Q103 context-window chunking (round 6)
# ---------------------------------------------------------------------------
@query(
    "q103_doc_chunking",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
      FROM documents
    ),
    chunks AS (
      SELECT doc_id, s.i // 48 AS chunk_id, list_slice(w, s.i + 1, s.i + 64) AS c
      FROM t, unnest(generate_series(0, greatest(len(w) - 1, 0), 48)) s(i)
    )
    SELECT doc_id, chunk_id,
           CAST(len(c) AS BIGINT) AS n_tokens,
           md5(array_to_string(c, ' ')) AS chunk_md5
    FROM chunks WHERE array_to_string(c, ' ') <> ''
    ORDER BY doc_id, chunk_id
    """,
)
def q103(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (64-token windows, 16-token
    overlap → stride 48) via ``operators/text.chunk_tokens`` — the
    step between raw documents and q68's sequence packing. Each chunk
    row carries its token count and the md5 of the window text, so the
    oracle (list_slice over generate_series strides) pins both the
    window BOUNDARIES and the window CONTENT. Pure per-row HOFs + one
    explode: chunking runs in the scan stage, zero shuffle."""
    from ..operators.text import chunk_tokens

    docs = load_tables(spark, sf_dir)["documents"]
    return (
        chunk_tokens(docs, size=64, overlap=16)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "chunk_id")
    )


# ---------------------------------------------------------------------------
# Q104 BM25 lexical retrieval (round 6)
# ---------------------------------------------------------------------------
@query(
    "q104_bm25_topk",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
      FROM documents
    ),
    stats AS (
      SELECT COUNT(*) AS n_docs, AVG(len(w)) AS avgdl FROM base
    ),
    tf AS (
      SELECT doc_id, dl, t, COUNT(*) AS tf FROM (
        SELECT doc_id, len(w) AS dl, unnest(w) AS t FROM base
      ) WHERE t IN ('hash', 'merge', 'vector')
      GROUP BY doc_id, dl, t
    ),
    dft AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
    contribs AS (
      SELECT tf.doc_id, tf.t,
             ln(1 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
             * tf.tf * 2.2
             / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / s.avgdl)) AS c
      FROM tf JOIN dft ON tf.t = dft.t CROSS JOIN stats s
    ),
    scored AS (
      SELECT doc_id,
             COALESCE(SUM(CASE WHEN t = 'hash'   THEN c END), 0.0)
           + COALESCE(SUM(CASE WHEN t = 'merge'  THEN c END), 0.0)
           + COALESCE(SUM(CASE WHEN t = 'vector' THEN c END), 0.0) AS raw
      FROM contribs GROUP BY doc_id
    )
    SELECT doc_id, round(raw, 4) AS bm25
    FROM scored ORDER BY bm25 DESC, doc_id LIMIT 50
    """,
)
def q104(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-50 for the fixed query {hash, merge, vector}
    (``operators/text.bm25_topk``) — lexical retrieval over the corpus,
    the sparse counterpart to q43's dense ANN top-k. The oracle
    recomputes tf, per-term df, corpus stats, and the Lucene-form IDF
    independently; scores match to 4 decimals under the shared
    fold-order contract (per-term conditional sums added in sorted
    term order — each inner sum folds at most ONE value per doc, so
    float addition order is pinned by the expression tree in both
    engines)."""
    from ..operators.text import bm25_topk

    docs = load_tables(spark, sf_dir)["documents"]
    # prepared_stats=True: the q104 perf contract — corpus stats are
    # index-time constants collected at prepare (one 1-row collect),
    # so the per-execution plan is tokenize + TakeOrdered only
    return bm25_topk(
        docs, ["hash", "merge", "vector"], k=50, prepared_stats=True
    )


# ---------------------------------------------------------------------------
# Q112 Bloom-index point lookup over a manifest table (round 6)
# ---------------------------------------------------------------------------
@query(
    "q112_bloom_scan",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events
    WHERE user_id = 7
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q112(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup through BLOOM-FILTER file skipping
    (``ManifestTable.build_bloom``): the events fixture lands in four
    manifest files whose user_id ranges fully interleave (event_id % 4
    chunking), so min/max stats cannot prune a ``user_id = 7`` probe at
    all — the per-file Bloom filters (built distributedly, bit_or
    aggregates, only files x 16 words collected) are what drop the
    non-matching files before Spark plans a single scan task. The
    result is the plain filtered aggregate, so the oracle is engine
    semantics only; a pytest on the same construction asserts the
    pruning itself. Sum snapped to DECIMAL(18,4) (fold-order-free).
    """
    import tempfile

    from ..plans import ManifestTable

    _cleanup_tmp("q112_bloom_")
    ev = load_tables(spark, sf_dir)["events"].select(
        "event_id", "user_id", "event_type", F.col("value").cast("decimal(18,4)").alias("value")
    )
    root = tempfile.mkdtemp(prefix="q112_bloom_")
    t = ManifestTable(f"{root}/ev")
    for i in range(4):
        t.append(ev.filter(F.col("event_id") % 4 == i).coalesce(1))
    t.build_bloom(spark, ["user_id"])
    out = (
        t.scan(spark, [("user_id", "=", 7)])
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("value").cast("double").alias("total_value"),
        )
        .orderBy("event_type")
    )
    # eager materialization (the q70 rule: lazy frames over per-run /tmp
    # manifest state are re-evaluation hazards for the caller)
    return spark.createDataFrame(out.collect(), out.schema)


# ---------------------------------------------------------------------------
# Q116 in-STREAM curation: redelivery dedup + PII scrub + quality gate
# ---------------------------------------------------------------------------
@query(
    "q116_stream_curation",
    oracle="""
    WITH c AS (
      SELECT doc_id, lang,
             CASE WHEN doc_id % 4 = 0 THEN
               text || ' contact u' || CAST(doc_id AS VARCHAR)
                    || '@example.com or 555-123-4567 now'
             ELSE text END AS text
      FROM documents
    ),
    e AS (
      SELECT doc_id, lang,
             len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}'))
           + len(regexp_extract_all(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}',
                 '[PII]', 'g'),
               '\\+?[0-9]{{3}}[-. ][0-9]{{3}}[-. ][0-9]{{4}}')) AS n_pii,
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}',
                 '[PII]', 'g'),
               '\\+?[0-9]{{3}}[-. ][0-9]{{3}}[-. ][0-9]{{4}}', '[PII]', 'g'
             ) AS clean
      FROM c
    ),
    g AS (
      SELECT doc_id, lang, n_pii,
             len(string_split_regex(trim(clean), '\\s+')) AS n_tokens
      FROM e
      WHERE len(string_split_regex(trim(clean), '\\s+')) >= 5
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_pii) AS BIGINT) AS total_pii
    FROM g GROUP BY lang ORDER BY lang
    """,
)
def q116(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURATION INSIDE THE STREAM — the arrival-time form of q86's
    batch pass: documents (PII planted on doc_id % 4, every doc
    REDELIVERED twice in one manifest commit — the q101 retry shape)
    flow through ``dropDuplicatesWithinWatermark`` (exactly-once,
    watermark-bounded state), the q97 PII scrub chain, and the >= 5
    post-redaction-token quality gate as STREAMING narrow expressions —
    nothing lands un-scrubbed, the raw feed is never persisted. The
    availableNow drain's per-language rollup hash-matches the same
    rules run as plain SQL over the undoubled fixture.

    Scale: dedup state is (watermark delay x doc arrival rate); the
    scrub and gate are per-row expressions with zero state; the landing
    aggregate is the only exchange.

    The stream's curated output lands in a parquet file sink
    (executor-parallel — round 13 replaced the memory sink, whose
    batches collect to the driver), and the verification rollup runs
    over the landed files."""
    import tempfile

    from ..operators import text as text_ops
    from ..plans import ManifestTable
    from ..sources import manifest_datasource

    manifest_datasource.register(spark)
    _cleanup_tmp("q116_cur_")
    docs = load_tables(spark, sf_dir)["documents"].select(
        "doc_id",
        "lang",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                "text",
                F.lit(" contact u"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-123-4567 now"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")).alias("ts"),
    )
    root = tempfile.mkdtemp(prefix="q116_cur_")
    ManifestTable(f"{root}/docs").append(docs.unionAll(docs).coalesce(2))

    email, phone = (
        text_ops.PII_PATTERNS["email"],
        text_ops.PII_PATTERNS["phone"],
    )
    s = (
        spark.readStream.format("manifest")
        .option("path", f"{root}/docs")
        .load()
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["doc_id"])
        .withColumn(
            "n_pii",
            F.regexp_count("text", F.lit(email))
            + F.regexp_count(
                F.regexp_replace("text", email, "[PII]"), F.lit(phone)
            ),
        )
        .withColumn(
            "clean",
            F.regexp_replace(
                F.regexp_replace("text", email, "[PII]"), phone, "[PII]"
            ),
        )
        .withColumn("n_tokens", text_ops.token_count(F.col("clean")))
        .filter(F.col("n_tokens") >= 5)
        .select("doc_id", "lang", "n_pii", "n_tokens")
    )
    # file sink, not memory sink (round 13, the q101 finding): a memory
    # sink collects every curated batch to the DRIVER and the rollup
    # then scans a driver-local table; the parquet sink keeps the landed
    # rows executor-parallel — also the only shape that survives 100 TB.
    q = (
        s.writeStream.format("parquet")
        .option("path", f"{root}/out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{root}/ck")
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError("q116 availableNow stream did not finish in 180s")
    # eager materialization, same rationale as q70
    out = (
        spark.read.parquet(f"{root}/out")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum("n_pii").cast("bigint").alias("total_pii"),
        )
        .orderBy("lang")
    )
    return spark.createDataFrame(out.collect(), out.schema)


# ---------------------------------------------------------------------------
# Q121 snapshot time travel: version diff as a declared query (round 6)
# ---------------------------------------------------------------------------
@query(
    "q121_time_travel_diff",
    oracle="""
    WITH v0 AS (SELECT * FROM events WHERE event_id % 3 = 0),
    v1_added AS (SELECT * FROM events WHERE event_id % 3 <> 0)
    SELECT 'v0' AS snapshot, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(event_id) AS BIGINT) AS min_id
    FROM v0 GROUP BY event_type
    UNION ALL
    SELECT 'delta', event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(event_id) AS BIGINT) AS min_id
    FROM v1_added GROUP BY event_type
    ORDER BY snapshot, event_type
    """,
)
def q121(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL as a verified query: two manifest commits, then (a)
    the table AS OF version 0 and (b) the delta BETWEEN versions —
    derived purely from snapshot metadata (version 1's ``added`` file
    list), never by diffing data — aggregated side by side. The oracle
    recomputes both from the fixture's commit predicates, so the hash
    proves snapshot isolation (v0 reads see no later rows) AND the
    manifest's per-commit delta bookkeeping (the same `added` list the
    streaming source consumes as offsets).

    Scale: version reads and commit deltas are manifest METADATA
    lookups — cost is proportional to the files touched, never a scan
    of other snapshots."""
    import tempfile

    from ..plans import ManifestTable

    _cleanup_tmp("q121_tt_")
    ev = load_tables(spark, sf_dir)["events"].select(
        "event_id", "event_type", "user_id"
    )
    root = tempfile.mkdtemp(prefix="q121_tt_")
    t = ManifestTable(f"{root}/ev")
    t.append(ev.filter(F.col("event_id") % 3 == 0).coalesce(1))
    t.append(ev.filter(F.col("event_id") % 3 != 0).coalesce(1))

    def agg(df, label):
        return (
            df.groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.min("event_id").alias("min_id"),
            )
            .select(F.lit(label).alias("snapshot"), "event_type", "n", "min_id")
        )

    v0 = t.read(spark, version=0)
    added = t._read_manifest(1)["added"]
    st = t.table_schema(1)
    delta = (spark.read.schema(st) if st else spark.read).parquet(*added)
    out = (
        agg(v0, "v0")
        .unionAll(agg(delta, "delta"))
        .orderBy("snapshot", "event_type")
    )
    return spark.createDataFrame(out.collect(), out.schema)


# ---------------------------------------------------------------------------
# Q122 manifest interop: a FOREIGN reader consumes a committed snapshot
# ---------------------------------------------------------------------------
@query(
    "q122_manifest_interop",
    oracle="""
    WITH v0 AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
    per AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             CAST(MIN(doc_id) AS BIGINT) AS min_id,
             CAST(MAX(doc_id) AS BIGINT) AS max_id
      FROM v0 GROUP BY lang
    )
    SELECT reader, lang, n_docs, total_chars, min_id, max_id
    FROM per CROSS JOIN (VALUES ('duckdb_manifest'), ('engine')) AS r(reader)
    ORDER BY reader, lang
    """,
)
def q122(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TABLE-FORMAT INTEROP as a verified query (r06 verdict #6): the
    manifest contract must be consumable by readers that are not this
    engine, the way Delta/Iceberg manifests are. Two commits land
    ``documents`` in a ManifestTable (v0: even doc_ids; v1 appends the
    rest); then the SAME snapshot-0 aggregate is computed twice —

    - ``engine``: ``ManifestTable.read(version=0)`` (the engine's own
      snapshot read), and
    - ``duckdb_manifest``: an in-process DuckDB connection handed
      nothing but ``snapshot_files(0)`` — the manifest's public file
      list — via ``read_parquet([...])``; no engine code touches the
      bytes.

    The driver's oracle recomputes the aggregate from the fixture's
    commit predicate for BOTH reader labels, so the hash proves (a)
    snapshot isolation (neither reader sees v1 rows) and (b) that a
    foreign engine reproduces the engine's read bit-for-bit from the
    manifest metadata alone — the q87/q94 differential pattern applied
    to the table format itself.

    Scale: the interop surface is a metadata file list — cost for any
    reader is proportional to the snapshot's files; the verification
    aggregate here is bounded (per-lang rollup collected once).

    Reference parity: stands in for tables.sql:30,57's MergeTree
    durability contract being readable by any ClickHouse-protocol
    client, not just the writing server."""
    import tempfile

    import duckdb as _duckdb

    from ..plans import ManifestTable

    _cleanup_tmp("q122_interop_")
    docs = load_tables(spark, sf_dir)["documents"].select(
        "doc_id", "lang", "n_chars"
    )
    root = tempfile.mkdtemp(prefix="q122_interop_")
    t = ManifestTable(f"{root}/docs")
    t.append(docs.filter(F.col("doc_id") % 2 == 0).coalesce(1))
    t.append(docs.filter(F.col("doc_id") % 2 != 0).coalesce(1))

    # engine-side snapshot read
    eng = (
        t.read(spark, version=0)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .select(F.lit("engine").alias("reader"), "lang", "n_docs", "total_chars", "min_id", "max_id")
    )

    # foreign-reader snapshot read: DuckDB sees only the manifest's
    # version-0 file list (absolute parquet paths), never the engine
    files = t.snapshot_files(0)
    con = _duckdb.connect()
    try:
        flist = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
        rows = con.execute(
            f"""
            SELECT 'duckdb_manifest' AS reader, lang,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS total_chars,
                   CAST(MIN(doc_id) AS BIGINT) AS min_id,
                   CAST(MAX(doc_id) AS BIGINT) AS max_id
            FROM read_parquet([{flist}])
            GROUP BY lang
            """
        ).fetchall()
    finally:
        con.close()
    foreign = spark.createDataFrame(rows, schema=eng.schema)

    out = foreign.unionAll(eng).orderBy("reader", "lang")
    return spark.createDataFrame(out.collect(), out.schema)


# ---------------------------------------------------------------------------
# Q159 foreign-WRITE interop: DuckDB-written parquet ingested by add_files
# ---------------------------------------------------------------------------
@query(
    "q159_foreign_ingest",
    oracle="""
    WITH cut AS (SELECT CAST(MAX(doc_id) / 2 AS BIGINT) AS c FROM documents),
    lo AS (
      SELECT doc_id, lang, n_chars FROM documents, cut WHERE doc_id <= c
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(doc_id) AS BIGINT) AS min_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_id,
           1 AS files_pruned
    FROM lo GROUP BY lang ORDER BY lang
    """,
)
def q159(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTEROP, THE WRITE SIDE (r07 verdict #6 — the inverse of q122's
    foreign read): DuckDB WRITES two parquet files (its own footers,
    stats and encodings — no Spark writer involved) splitting
    ``documents`` at half the max doc_id; ``ManifestTable.add_files``
    registers them without rewriting a byte, collecting min/max/null
    stats from the FOREIGN footers through the same pyarrow pass native
    commits use. The verified claims:

    - the engine reads the foreign snapshot back correctly (the
      per-lang aggregate over ``scan`` hashes against the fixture
      recomputation), and
    - data SKIPPING holds on foreign footers: the scan predicate
      ``doc_id <= cut`` must prune exactly the high file —
      ``files_pruned`` carries the real manifest-level count
      (total files - pruned-list length) into the hashed output, so a
      silently broken stats pass (0 pruned) hash-fails against the
      oracle's literal 1.

    Scale: add_files is a metadata commit (cost ∝ file count, zero data
    movement) — the standard lakehouse migration path for petabytes of
    pre-existing engine-foreign parquet.

    Reference parity: tables.sql:30,57's MergeTree tables accept parts
    written by any ClickHouse-protocol writer; this is the equivalent
    open-format contract."""
    import tempfile

    import duckdb as _duckdb

    from ..plans import ManifestTable

    _cleanup_tmp("q159_ingest_")
    root = tempfile.mkdtemp(prefix="q159_ingest_")
    src = f"{sf_dir}/documents.parquet"
    con = _duckdb.connect()
    try:
        cut = con.execute(
            f"SELECT CAST(MAX(doc_id)/2 AS BIGINT) FROM read_parquet('{src}')"
        ).fetchone()[0]
        for name, pred in (("lo", f"doc_id <= {cut}"), ("hi", f"doc_id > {cut}")):
            con.execute(
                f"COPY (SELECT doc_id, lang, n_chars FROM read_parquet('{src}') "
                f"WHERE {pred} ORDER BY doc_id) "
                f"TO '{root}/{name}.parquet' (FORMAT PARQUET)"
            )
    finally:
        con.close()

    t = ManifestTable(f"{root}/docs")
    t.add_files(spark, [f"{root}/lo.parquet", f"{root}/hi.parquet"])
    preds = [("doc_id", "<=", cut)]
    n_pruned = len(t.snapshot_files()) - len(t.prune_files(preds))
    out = (
        t.scan(spark, preds)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .withColumn("files_pruned", F.lit(n_pruned).cast("int"))
        .orderBy("lang")
    )
    return spark.createDataFrame(out.collect(), out.schema)


# ---------------------------------------------------------------------------
# Q123 ORDER BY ... WITH FILL through the session-aware dialect bridge
# ---------------------------------------------------------------------------
_Q123_CLICKHOUSE_SQL = """
    SELECT intDiv(event_id, 500) AS bucket,
           count() AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM events
    WHERE event_type = 'error' AND user_id % 19 = 3
    GROUP BY bucket
    ORDER BY bucket WITH FILL FROM 0 TO 250 STEP 1
"""


@query(
    "q123_with_fill",
    oracle="""
    WITH src AS (
      SELECT CAST(event_id // 500 AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
      FROM events
      WHERE event_type = 'error' AND user_id % 19 = 3
      GROUP BY 1
    ),
    grid AS (SELECT CAST(range AS BIGINT) AS bucket FROM range(0, 250))
    SELECT g.bucket,
           COALESCE(s.n, 0) AS n,
           COALESCE(s.total, 0.0) AS total
    FROM grid g LEFT JOIN src s USING (bucket)
    ORDER BY bucket
    """,
)
def q123(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ORDER BY ... WITH FILL`` running end-to-end (r06 verdict #8 —
    the last dashboard-dialect gap): a sparse per-bucket error-rate
    series is zero-filled onto the [0, 250) grid by
    ``chsql.ch_sql`` — the session-aware front door that knows the
    SELECT's output schema and can therefore insert ClickHouse TYPE
    defaults (0 for the count and the decimal-snapped double) rather
    than NULLs. The oracle recomputes the fill as grid LEFT JOIN +
    COALESCE, so the hash pins grid bounds (TO exclusive), step
    arithmetic, retained-source-row semantics, and the per-type
    defaults at once.

    Scale: the fill grid is a generated column (no data shuffle) and
    the anti-join keys are the series axis — fill cost is O(grid +
    series), independent of the event stream behind the aggregate."""
    from ..functions.chsql import ch_sql

    register_views(spark, sf_dir)
    return ch_sql(spark, _Q123_CLICKHOUSE_SQL)


# ---------------------------------------------------------------------------
# Q124 neighbor / runningDifference through the window-anchor rewrite
# ---------------------------------------------------------------------------
_Q124_CLICKHOUSE_SQL = """
    SELECT bucket, n,
           runningDifference(n) AS dn,
           neighbor(n, -1, 0) AS prev_n,
           neighbor(n, 2, -1) AS n2
    FROM (SELECT intDiv(event_id, 500) AS bucket, count() AS n
          FROM events WHERE event_type = 'click' GROUP BY bucket)
    ORDER BY bucket
"""


@query(
    "q124_running_neighbor",
    oracle="""
    WITH src AS (
      SELECT CAST(event_id // 500 AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE event_type = 'click' GROUP BY 1
    )
    SELECT bucket, n,
           COALESCE(n - lag(n) OVER (ORDER BY bucket), 0) AS dn,
           COALESCE(lag(n) OVER (ORDER BY bucket), 0) AS prev_n,
           COALESCE(lead(n, 2) OVER (ORDER BY bucket), -1) AS n2
    FROM src ORDER BY bucket
    """,
)
def q124(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse's deprecated block-order family running DETERMINISTIC
    (r06 verdict #8): ``runningDifference`` and both ``neighbor``
    directions in one dashboard statement, rewritten by
    ``chsql._rewrite_running`` onto windows anchored to the statement's
    own top-level ORDER BY — the only reading of CH block order that is
    reproducible at all. The oracle spells the same query with explicit
    lag/lead windows; the hash pins the anchor choice, the
    first-row-0 contract, and the explicit-default neighbor mapping.

    Scale: one window over the aggregated series (not the raw stream);
    the rewrite itself is textual and type-blind — the 2-arg neighbor
    form (CH type-default fallback) rejects loudly instead of guessing."""
    from ..functions.chsql import ch_sql

    register_views(spark, sf_dir)
    return ch_sql(spark, _Q124_CLICKHOUSE_SQL)


# ---------------------------------------------------------------------------
# Q143 runningAccumulate through the -State-aware window rewrite
# ---------------------------------------------------------------------------
_Q143_CLICKHOUSE_SQL = """
    SELECT intDiv(event_id, 500) AS bucket,
           count() AS n,
           runningAccumulate(countState()) AS cum_n,
           CAST(runningAccumulate(sumState(CAST(value AS DECIMAL(18,4))))
                AS DOUBLE) AS cum_value,
           runningAccumulate(maxState(event_id)) AS cum_max_id,
           CAST(runningAccumulate(avgState(CAST(value AS DECIMAL(18,4))))
                AS DOUBLE) AS cum_avg
    FROM events WHERE event_type = 'click'
    GROUP BY bucket ORDER BY bucket
"""


@query(
    "q143_running_accumulate",
    oracle="""
    WITH src AS (
      SELECT CAST(event_id // 500 AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(value AS DECIMAL(18,4))) AS s,
             MAX(event_id) AS mx,
             COUNT(value) AS cv
      FROM events WHERE event_type = 'click' GROUP BY 1
    )
    SELECT bucket, n,
           CAST(SUM(n) OVER w AS BIGINT) AS cum_n,
           CAST(CAST(SUM(s) OVER w AS DECIMAL(38,4)) AS DOUBLE) AS cum_value,
           CAST(MAX(mx) OVER w AS BIGINT) AS cum_max_id,
           CAST(CAST(SUM(s) OVER w AS DOUBLE) / SUM(cv) OVER w AS DOUBLE)
             AS cum_avg
    FROM src
    WINDOW w AS (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW)
    ORDER BY bucket
    """,
)
def q143(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``runningAccumulate`` — the last reject-only row of ClickHouse's
    deprecated block-order family — bridged for the inline -State form
    (``chsql._rewrite_running_accumulate``, which runs BEFORE the
    -State combinator rewrite so the state's MERGE function is still
    recoverable): count/sum/max/avg states in one dashboard statement
    become their merge aggregates over a running window anchored to
    the statement's own ORDER BY. The oracle spells the same running
    totals with explicit windows over the aggregated series; decimal
    states keep the running sums order-independent, so cum_value and
    cum_avg hash exactly.

    Scale: one window over the aggregated buckets (not the raw
    stream); a global running total is inherently sequential at the
    final step — at 100 TB the bucket series is already tiny (one row
    per bucket) by the time it reaches the window."""
    from ..functions.chsql import ch_sql

    register_views(spark, sf_dir)
    return ch_sql(spark, _Q143_CLICKHOUSE_SQL)


# ---------------------------------------------------------------------------
# Q127 -State/-Merge combinators: the AggregatingMergeTree MV pattern
# ---------------------------------------------------------------------------
_Q127_CLICKHOUSE_SQL = """
    SELECT event_type,
           countMerge(cs) AS n,
           CAST(sumMerge(ss) AS DOUBLE) AS total,
           minMerge(mns) AS min_id,
           maxMerge(mxs) AS max_id,
           CAST(avgMerge(avs) AS DOUBLE) AS avg_value,
           uniqMerge(us) AS uniq_users_est
    FROM (
      SELECT event_type, intDiv(event_id, 2000) AS part,
             countState() AS cs,
             sumState(CAST(value AS DECIMAL(18,4))) AS ss,
             minState(event_id) AS mns,
             maxState(event_id) AS mxs,
             avgState(CAST(value AS DECIMAL(18,4))) AS avs,
             uniqState(user_id) AS us
      FROM events
      GROUP BY event_type, part
    )
    GROUP BY event_type
"""


@query(
    "q127_state_merge_rollup",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
           CAST(MIN(event_id) AS BIGINT) AS min_id,
           CAST(MAX(event_id) AS BIGINT) AS max_id,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                / COUNT(value) AS DOUBLE) AS avg_value,
           TRUE AS merge_consistent,
           TRUE AS uniq_within_5pct
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q127(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse's ``-State``/``-Merge`` combinator family — the
    AggregatingMergeTree materialized-view pattern (reference
    ``tables.sql``'s storage-side rollup idiom, §2.E/§4.2) — running on
    Spark: partial aggregate STATES per (event_type, part) in the inner
    SELECT, MERGED across parts in the outer, all via
    ``chsql._rewrite_combinators`` (count/sum/min/max states are their
    values, avg is a (sum,count) struct, uniq is the DataSketches HLL
    pair hll_sketch_agg / hll_union_agg + estimate — the same
    mergeable-sketch contract, different sketch constants).

    Exact columns (n/total/min/max/avg — the sum rides the DECIMAL
    snap so partial-then-merge is fold-order-free) hash against the
    oracle's direct recompute; the sketch column is verified by TWO
    booleans the oracle pins TRUE: ``merge_consistent`` (merged
    partial sketches estimate within 1% of one single-pass sketch —
    the mergeability invariant that makes pre-aggregation sound at
    100 TB; bit-equality holds only while sketches stay sparse, and
    the sf0.1 fixture's ~10k users densify them) and
    ``uniq_within_5pct`` (estimate vs exact distinct count).

    Scale: this IS the 100 TB pattern — states pre-aggregate per
    partition/day at ingest (map-side, small), queries merge states
    instead of rescanning raw events."""
    from ..functions.chsql import ch_sql
    from ..functions.clickhouse import register_clickhouse_functions

    register_views(spark, sf_dir)
    merged = ch_sql(spark, _Q127_CLICKHOUSE_SQL)
    direct_sql = (
        "SELECT event_type AS et,"
        " hll_sketch_estimate(hll_sketch_agg(user_id)) AS direct_est,"
        " count(DISTINCT user_id) AS exact_u"
        " FROM events GROUP BY event_type"
    )
    register_clickhouse_functions(spark, direct_sql)
    direct = spark.sql(direct_sql)
    return (
        merged.join(direct, merged["event_type"] == direct["et"])
        .select(
            "event_type",
            "n",
            "total",
            "min_id",
            "max_id",
            "avg_value",
            (
                F.abs(F.col("uniq_users_est") - F.col("direct_est"))
                / F.col("direct_est")
                <= 0.01
            ).alias("merge_consistent"),
            (
                F.abs(F.col("uniq_users_est") - F.col("exact_u"))
                / F.col("exact_u")
                <= 0.05
            ).alias("uniq_within_5pct"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Q128 ClickHouse ASOF JOIN through the session-aware bridge
# ---------------------------------------------------------------------------
_Q128_CLICKHOUSE_SQL = """
    SELECT v.user_id, v.event_id, v.ts AS view_ts,
           p.ts AS purchase_ts, p.value AS purchase_value
    FROM q128_views v ASOF LEFT JOIN q128_purchases p
      ON v.user_id = p.user_id AND v.ts >= p.ts
    ORDER BY v.user_id, v.event_id
"""


@query(
    "q128_asof_join_sql",
    oracle="""
    SELECT v.user_id, v.event_id, v.ts AS view_ts,
           p.ts AS purchase_ts, p.value AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id AND v.ts >= p.ts
    ORDER BY v.user_id, v.event_id
    """,
)
def q128(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``ASOF LEFT JOIN`` running as SQL (round 7 — the last
    loudly-rejected join form): ``chsql.ch_sql`` parses the FROM..ON
    segment, routes it through the DataFrame as-of operator
    (`operators/asof.py` — union + ONE key-partitioned window merge,
    no range explosion, the q51 engine), registers the merge as a view
    and remaps the statement's alias references onto it. Same query as
    q51, arriving via the dialect front door instead of the DataFrame
    API; DuckDB's native ASOF JOIN is the oracle. Strictness (`>` vs
    `>=`), INNER vs LEFT, and reversed-inequality spellings are parsed;
    subquery sides reject loudly (register a view first).

    Scale: identical plan to q51 — one shuffle per side on the join
    key, a single merged window pass, never an inequality-range
    explosion."""
    from ..functions.chsql import ch_sql

    ev = load_tables(spark, sf_dir)["events"]
    ev.filter(F.col("event_type") == "view").createOrReplaceTempView(
        "q128_views"
    )
    ev.filter(F.col("event_type") == "purchase").createOrReplaceTempView(
        "q128_purchases"
    )
    return ch_sql(spark, _Q128_CLICKHOUSE_SQL)


# ---------------------------------------------------------------------------
# Q129 ClickHouse ANY LEFT JOIN through the deterministic bridge
# ---------------------------------------------------------------------------
_Q129_CLICKHOUSE_SQL = """
    SELECT c.c_custkey, c.c_name, o.o_orderdate, o.o_totalprice
    FROM customer c ANY LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    ORDER BY c.c_custkey
"""


@query(
    "q129_any_join_sql",
    oracle="""
    WITH od AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY o_custkey
          ORDER BY o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                   o_orderdate, o_orderpriority
        ) AS rn FROM orders
      ) WHERE rn = 1
    )
    SELECT c.c_custkey, c.c_name, o.o_orderdate, o.o_totalprice
    FROM customer c LEFT JOIN od o ON c.c_custkey = o.o_custkey
    ORDER BY c.c_custkey
    """,
)
def q129(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``ANY LEFT JOIN`` running as SQL (round 7 — the last
    join-strictness gap): CH keeps ONE ARBITRARY match per key; the
    bridge (`chsql._apply_any_join`) refines that to the DETERMINISTIC
    lowest-full-row match (right side deduped per join key by
    row_number over all right columns in table order — a valid "any"
    that is replay-stable and oracle-expressible; the oracle spells
    the identical dedup). ``ALL`` strictness — CH's default, identical
    to plain JOIN — is stripped by the string rewriter with no bridge
    needed.

    Scale: the dedup is one window over the RIGHT side only (rank
    within key, no pair blow-up); the join itself is then whatever
    Catalyst picks (broadcast here — customer/orders fixture sizes)."""
    from ..functions.chsql import ch_sql

    register_views(spark, sf_dir)
    return ch_sql(spark, _Q129_CLICKHOUSE_SQL)


# ---------------------------------------------------------------------------
# Q133 multi-series WITH FILL (per-group time axis, round 7)
# ---------------------------------------------------------------------------
_Q133_CLICKHOUSE_SQL = """
    SELECT event_type, intDiv(event_id, 500) AS bucket, count() AS n
    FROM events
    WHERE user_id % 11 = 3
    GROUP BY event_type, bucket
    ORDER BY event_type, bucket WITH FILL STEP 1
"""


@query(
    "q133_with_fill_series",
    oracle="""
    WITH src AS (
      SELECT event_type, CAST(event_id // 500 AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE user_id % 11 = 3
      GROUP BY 1, 2
    ),
    bounds AS (
      SELECT event_type, MIN(bucket) AS lo, MAX(bucket) AS hi
      FROM src GROUP BY event_type
    ),
    grid AS (
      SELECT event_type,
             CAST(unnest(generate_series(lo, hi)) AS BIGINT) AS bucket
      FROM bounds
    )
    SELECT g.event_type, g.bucket, COALESCE(s.n, 0) AS n
    FROM grid g LEFT JOIN src s USING (event_type, bucket)
    ORDER BY g.event_type, g.bucket
    """,
)
def q133(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-SERIES ``WITH FILL`` (round 7, the real dashboard shape):
    ``ORDER BY event_type, bucket WITH FILL`` fills the bucket axis PER
    event_type group — ClickHouse's restart-on-prefix-change semantics
    — with bounds from each group's own min/max (one partial-aggregated
    exchange on the series key, grid exploded per group, anti-join and
    final order on (series, axis)). The oracle recomputes the per-group
    grids with generate_series + LEFT JOIN + COALESCE.

    Scale: everything partitions by the series key — bounds, grid,
    anti-join, and (when used) the INTERPOLATE carry-forward window;
    nothing is global, unlike the single-series q123 path whose
    verification-scale global window is documented."""
    from ..functions.chsql import ch_sql

    register_views(spark, sf_dir)
    return ch_sql(spark, _Q133_CLICKHOUSE_SQL)


# ---------------------------------------------------------------------------
# Q134-Q136 ClickHouse behavioral-analytics aggregates through the bridge
# (functions/chsql.py 2a2 — retention / windowFunnel / sequenceMatch)
# ---------------------------------------------------------------------------
_Q134_CLICKHOUSE_SQL = """
    SELECT user_id,
           retention(event_type = 'view', event_type = 'click',
                     event_type = 'purchase') AS r
    FROM events
    GROUP BY user_id
    ORDER BY user_id
"""


@query(
    "q134_ch_retention",
    oracle="""
    SELECT user_id,
           CAST(max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS INT)
             AS r_view,
           CAST(max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              * max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS INT)
             AS r_click,
           CAST(max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              * max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS INT)
             AS r_purchase
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def q134(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``retention()`` run VERBATIM through the dialect
    bridge: each condition ORs across the group, r[1] = cond1 seen,
    r[i] = cond1 AND cond_i seen — rewritten to exact max(CASE) algebra
    (chsql._rewrite_retention), bit-identical to CH, order-free. The
    returned UInt8 array is unpacked to INT columns for the driver's
    canonicalizer (the q07 list-cell rule). Pure hash aggregation —
    one exchange on user_id, map-side combined, no state machine."""
    from ..functions.chsql import ch_sql

    register_views(spark, sf_dir)
    return ch_sql(spark, _Q134_CLICKHOUSE_SQL).selectExpr(
        "user_id",
        "r[0] AS r_view",
        "r[1] AS r_click",
        "r[2] AS r_purchase",
    )


_Q135_CLICKHOUSE_SQL = """
    SELECT user_id,
           windowFunnel(900)(ts, event_type = 'view', event_type = 'click',
                             event_type = 'purchase') AS lvl
    FROM events
    GROUP BY user_id
"""


@query(
    "q135_ch_window_funnel",
    oracle="""
    WITH ev AS (
      SELECT user_id,
             list_sort(list([epoch(ts),
               CASE WHEN event_type = 'view' THEN 1.0 ELSE 0.0 END,
               CASE WHEN event_type = 'click' THEN 1.0 ELSE 0.0 END,
               CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END]))
               AS evs
      FROM events
      WHERE event_type IN ('view', 'click', 'purchase')
      GROUP BY user_id
    ),
    dp AS (
      SELECT user_id,
             list_reduce(
               list_prepend([NULL, NULL, NULL]::DOUBLE[], evs),
               (acc, e) -> [
                 CASE WHEN e[2] = 1
                      THEN greatest(coalesce(acc[1], e[1]), e[1])
                      ELSE acc[1] END,
                 CASE WHEN e[3] = 1 AND acc[1] IS NOT NULL
                           AND e[1] - acc[1] <= 900
                      THEN greatest(coalesce(acc[2], acc[1]), acc[1])
                      ELSE acc[2] END,
                 CASE WHEN e[4] = 1 AND acc[2] IS NOT NULL
                           AND e[1] - acc[2] <= 900
                      THEN greatest(coalesce(acc[3], acc[2]), acc[2])
                      ELSE acc[3] END
               ]) AS st
      FROM ev
    )
    SELECT u.user_id,
           COALESCE(CAST(len(list_filter(d.st, s -> s IS NOT NULL)) AS INT), 0)
             AS lvl
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN dp d USING (user_id)
    ORDER BY u.user_id
    """,
)
def q135(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``windowFunnel(900)(ts, ...)`` VERBATIM through the
    dialect bridge: deepest conversion level view→click→purchase within
    15 minutes of the chain's first event. The rewrite
    (chsql._rewrite_window_funnel) folds each user's time-sorted,
    condition-relevant events through a max-chain-start DP — one pass,
    no joins, no window functions; the oracle recomputes the SAME DP
    with DuckDB list lambdas, so the hash pins fold semantics
    (restart-on-later-start, window-vs-first-event, old-state chaining)
    across engines.

    Scale: one exchange on user_id; per-group state is the filtered
    event list (bounded per entity — the same assumption ClickHouse's
    implementation makes when it materializes the group's events).
    Conditions here are disjoint (event_type equality); for OVERLAPPING
    conditions CH's per-(event, condition) entries can chain a single
    row onto itself at equal timestamps, which the bridge's old-state
    fold deliberately does not — documented divergence."""
    from ..functions.chsql import ch_sql

    register_views(spark, sf_dir)
    from .relational import vsort

    # vsort, not in-statement ORDER BY (range-sampler re-execution)
    return vsort(ch_sql(spark, _Q135_CLICKHOUSE_SQL), "user_id")


_Q136_CLICKHOUSE_SQL = """
    SELECT user_id,
           sequenceMatch('(?1)(?2)')(ts, event_type = 'view',
                                     event_type = 'click') AS m_adj,
           sequenceMatch('(?1).*(?2)')(ts, event_type = 'error',
                                       event_type = 'purchase') AS m_gap
    FROM events
    GROUP BY user_id
"""


@query(
    "q136_ch_sequence_match",
    oracle="""
    WITH ev1 AS (
      SELECT user_id,
             list_sort(list([epoch(ts),
               CASE WHEN event_type = 'view' THEN 1.0 ELSE 0.0 END,
               CASE WHEN event_type = 'click' THEN 1.0 ELSE 0.0 END]))
               AS evs
      FROM events WHERE event_type IN ('view', 'click')
      GROUP BY user_id
    ),
    m1 AS (
      SELECT user_id,
             list_reduce(
               list_prepend([0, 0]::DOUBLE[], evs),
               (acc, e) -> [
                 CASE WHEN e[2] = 1 THEN 1 ELSE 0 END
                   + CASE WHEN acc[1] > 0 THEN 2 ELSE 0 END,
                 CASE WHEN e[3] = 1 AND acc[1] % 2 = 1 THEN 1 ELSE 0 END
                   + CASE WHEN acc[2] > 0 THEN 2 ELSE 0 END
               ]) AS st
      FROM ev1
    ),
    ev2 AS (
      SELECT user_id,
             list_sort(list([epoch(ts),
               CASE WHEN event_type = 'error' THEN 1.0 ELSE 0.0 END,
               CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END]))
               AS evs
      FROM events WHERE event_type IN ('error', 'purchase')
      GROUP BY user_id
    ),
    m2 AS (
      SELECT user_id,
             list_reduce(
               list_prepend([0, 0]::DOUBLE[], evs),
               (acc, e) -> [
                 CASE WHEN e[2] = 1 THEN 1 ELSE 0 END
                   + CASE WHEN acc[1] > 0 THEN 2 ELSE 0 END,
                 CASE WHEN e[3] = 1 AND acc[1] > 0 THEN 1 ELSE 0 END
                   + CASE WHEN acc[2] > 0 THEN 2 ELSE 0 END
               ]) AS st
      FROM ev2
    )
    SELECT u.user_id,
           COALESCE(CAST(m1.st[2] > 0 AS INT), 0) AS m_adj,
           COALESCE(CAST(m2.st[2] > 0 AS INT), 0) AS m_gap
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN m1 USING (user_id)
    LEFT JOIN m2 USING (user_id)
    ORDER BY u.user_id
    """,
)
def q136(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``sequenceMatch`` VERBATIM through the dialect bridge,
    both pattern classes: ``(?1)(?2)`` (a click IMMEDIATELY after a view
    among condition-relevant events — CH's visibility rule: events
    matching no condition are invisible to adjacency) and
    ``(?1).*(?2)`` (a purchase any time after an error). The rewrite
    (chsql._rewrite_sequence_match) folds a 2-bit-per-pattern-position
    regex state machine over each user's visible, time-sorted events;
    the oracle replays the SAME automaton with DuckDB list lambdas —
    the hash pins adjacency, gap, and visibility semantics (the CH docs'
    own n=1,n=3,n=2 example is the pytest unit case).

    Scale: same shape as q135 — one user_id exchange, per-group state
    bounded by condition-relevant events, no joins in the Spark plan
    (each sequenceMatch is an independent aggregate expression)."""
    from ..functions.chsql import ch_sql

    register_views(spark, sf_dir)
    from .relational import vsort

    # vsort, not in-statement ORDER BY (range-sampler re-execution)
    return vsort(ch_sql(spark, _Q136_CLICKHOUSE_SQL), "user_id")


_Q147_CLICKHOUSE_SQL = """
    SELECT user_id,
           sequenceMatch('(?1)(?t<=14400)(?2)')(ts, event_type = 'view',
                                                event_type = 'click')
             AS m_within,
           sequenceMatch('(?1).*(?t>2200000)(?2)')(ts, event_type = 'view',
                                                 event_type = 'click')
             AS m_late_follow
    FROM events
    GROUP BY user_id
"""


@query(
    "q147_ch_sequence_match_time",
    oracle="""
    WITH ev AS (
      SELECT user_id,
             list_sort(list([epoch(ts),
               CASE WHEN event_type = 'view' THEN 1.0 ELSE 0.0 END,
               CASE WHEN event_type = 'click' THEN 1.0 ELSE 0.0 END]))
               AS evs
      FROM events WHERE event_type IN ('view', 'click')
      GROUP BY user_id
    ),
    m1 AS (
      SELECT user_id,
             list_reduce(
               list_prepend([NULL, NULL, NULL, NULL]::DOUBLE[], evs),
               (acc, e) -> [
                 CASE WHEN e[2] = 1 THEN e[1] END,
                 CASE WHEN e[3] = 1 AND e[1] - acc[1] <= 14400
                      THEN e[1] END,
                 greatest(acc[3], acc[1]),
                 greatest(acc[4], acc[2])
               ]) AS st
      FROM ev
    ),
    m2 AS (
      SELECT user_id,
             list_reduce(
               list_prepend([NULL, NULL, NULL, NULL]::DOUBLE[], evs),
               (acc, e) -> [
                 CASE WHEN e[2] = 1 THEN e[1] END,
                 CASE WHEN e[3] = 1
                      AND e[1] - least(acc[1], acc[3]) > 2200000
                      THEN e[1] END,
                 least(acc[3], acc[1]),
                 greatest(acc[4], acc[2])
               ]) AS st
      FROM ev
    )
    SELECT u.user_id,
           COALESCE(CAST((m1.st[2] IS NOT NULL OR m1.st[4] IS NOT NULL)
                    AS INT), 0) AS m_within,
           COALESCE(CAST((m2.st[2] IS NOT NULL OR m2.st[4] IS NOT NULL)
                    AS INT), 0) AS m_late_follow
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN m1 USING (user_id)
    LEFT JOIN m2 USING (user_id)
    ORDER BY u.user_id
    """,
)
def q147(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``sequenceMatch`` TIME CONSTRAINTS verbatim through the bridge
    (round 8 — closes the documented-unsupported row): adjacent
    view→click within 4 hours (``(?1)(?t<=14400)(?2)``) and a click
    more than ~25 days after SOME earlier view
    (``(?1).*(?t>2200000)(?2)`` — chosen to split the fixture).
    The rewrite (chsql._timed_seq_match) upgrades the q136 bit
    automaton to a timestamped one — per pattern position the END TIME
    of a match ending exactly at the previous event (A) and the BEST
    end over earlier matches (B, max for <=/< bounds, min for >=/> —
    each transition depends only on the previous position's end, so
    the per-position relaxation is exact). The oracle replays the SAME
    timed fold with DuckDB list lambdas (greatest/least skip NULLs in
    both engines — pinned by the hash).

    Scale: identical shape to q136 — one user_id exchange, per-group
    state bounded by condition-relevant events, O(pattern) doubles of
    fold state."""
    from ..functions.chsql import ch_sql

    register_views(spark, sf_dir)
    from .relational import vsort

    # vsort, not in-statement ORDER BY (range-sampler re-execution)
    return vsort(ch_sql(spark, _Q147_CLICKHOUSE_SQL), "user_id")


_Q148_CLICKHOUSE_SQL = """
    SELECT user_id,
           windowFunnel(86400)(toStartOfDay(ts),
                               event_type IN ('view', 'click'),
                               event_type = 'click',
                               event_type = 'purchase') AS lvl_default,
           windowFunnel(86400, 'strict_increase')(toStartOfDay(ts),
                               event_type IN ('view', 'click'),
                               event_type = 'click',
                               event_type = 'purchase') AS lvl_strict
    FROM events
    GROUP BY user_id
"""


@query(
    "q148_ch_funnel_strict_increase",
    oracle="""
    WITH ev AS (
      SELECT user_id,
             list_sort(list([epoch(date_trunc('day', ts)),
               CASE WHEN event_type IN ('view', 'click') THEN 1.0
                    ELSE 0.0 END,
               CASE WHEN event_type = 'click' THEN 1.0 ELSE 0.0 END,
               CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END]))
               AS evs
      FROM events WHERE event_type IN ('view', 'click', 'purchase')
      GROUP BY user_id
    ),
    dflt AS (
      SELECT user_id,
             list_reduce(
               list_prepend([NULL, NULL, NULL]::DOUBLE[], evs),
               (acc, e) -> [
                 CASE WHEN e[2] = 1 THEN greatest(acc[1], e[1])
                      ELSE acc[1] END,
                 CASE WHEN e[3] = 1 AND e[1] - acc[1] <= 86400
                      THEN greatest(acc[2], acc[1]) ELSE acc[2] END,
                 CASE WHEN e[4] = 1 AND e[1] - acc[2] <= 86400
                      THEN greatest(acc[3], acc[2]) ELSE acc[3] END
               ]) AS st
      FROM ev
    ),
    strict AS (
      SELECT user_id,
             list_reduce(
               list_prepend([NULL, NULL, NULL, NULL, NULL, NULL]::DOUBLE[],
                            evs),
               (acc, e) -> [
                 CASE WHEN e[2] = 1 THEN e[1] ELSE acc[1] END,
                 CASE WHEN e[3] = 1 AND e[1] - acc[1] <= 86400
                      AND acc[4] < e[1] THEN acc[1] ELSE acc[2] END,
                 CASE WHEN e[4] = 1 AND e[1] - acc[2] <= 86400
                      AND acc[5] < e[1] THEN acc[2] ELSE acc[3] END,
                 CASE WHEN e[2] = 1 THEN e[1] ELSE acc[4] END,
                 CASE WHEN e[3] = 1 AND e[1] - acc[1] <= 86400
                      AND acc[4] < e[1] THEN e[1] ELSE acc[5] END,
                 CASE WHEN e[4] = 1 AND e[1] - acc[2] <= 86400
                      AND acc[5] < e[1] THEN e[1] ELSE acc[6] END
               ]) AS st
      FROM ev
    )
    SELECT u.user_id,
           COALESCE(CAST(len(list_filter(dflt.st,
                    x -> x IS NOT NULL)) AS INT), 0) AS lvl_default,
           COALESCE(CAST(len(list_filter(strict.st[1:3],
                    x -> x IS NOT NULL)) AS INT), 0) AS lvl_strict
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN dflt USING (user_id)
    LEFT JOIN strict USING (user_id)
    ORDER BY u.user_id
    """,
)
def q148(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``windowFunnel`` STRICT_INCREASE verbatim through the bridge
    (round 8): the default max-start DP upgraded to per-level chain
    (first, last) timestamp pairs (chsql._strict_increase_funnel —
    ClickHouse's events_timestamp pair), gating every extension on
    the previous chain event's time being STRICTLY before the new
    event. Timestamps are day-truncated (``toStartOfDay`` through the
    scalar bridge) and the FIRST condition overlaps the second
    (view-or-click, then click): at equal truncated times the engine's
    deterministic flag-array tiebreak sorts the broader-flag event
    first, so the default mode CAN step within one day bucket while
    strict cannot — the fixture genuinely splits (both (3,1) and (3,2)
    rows exist at sf0.01). The oracle replays both folds with DuckDB
    list lambdas; the default column doubles as a q135 regression
    anchor on a second timestamp/condition shape.

    strict_order / strict_deduplication stay rejected: their CH
    early-exit corner semantics are version-dependent — the reject
    message says so (documented-failure contract).

    Scale: the q135/q136 shape — one user_id exchange, fold state
    2 x levels doubles."""
    from ..functions.chsql import ch_sql

    register_views(spark, sf_dir)
    # vsort, not an in-statement ORDER BY: a global sort's range
    # sampler RE-EXECUTES the fold subtree (the q03/q48/q57 device)
    from .relational import vsort

    return vsort(ch_sql(spark, _Q148_CLICKHOUSE_SQL), "user_id")


_Q137_CLICKHOUSE_SQL = """
    SELECT user_id,
           sequenceCount('(?1).*(?2)')(ts, event_type = 'error',
                                       event_type = 'purchase') AS n_chains
    FROM events
    GROUP BY user_id
"""


@query(
    "q137_ch_sequence_count",
    oracle="""
    WITH ev AS (
      SELECT user_id,
             list_sort(list([epoch(ts),
               CASE WHEN event_type = 'error' THEN 1.0 ELSE 0.0 END,
               CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END]))
               AS evs
      FROM events WHERE event_type IN ('error', 'purchase')
      GROUP BY user_id
    ),
    dp AS (
      SELECT user_id,
             list_reduce(
               list_prepend([0, 0]::DOUBLE[], evs),
               (acc, e) -> CASE
                 WHEN e[3] = 1 AND acc[1] > 0 THEN [0, acc[2] + 1]
                 ELSE [CASE WHEN e[2] = 1 THEN 1 ELSE 0 END
                         + CASE WHEN acc[1] > 0 THEN 2 ELSE 0 END,
                       acc[2]]
               END) AS st
      FROM ev
    )
    SELECT u.user_id,
           COALESCE(CAST(d.st[2] AS BIGINT), 0) AS n_chains
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN dp d USING (user_id)
    ORDER BY u.user_id
    """,
)
def q137(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``sequenceCount`` VERBATIM through the bridge: greedy
    NON-OVERLAPPING error→purchase chains per user — the q136 automaton
    plus a count slot; a completing match resets every position, so the
    next chain must start strictly after it (exactly CH's resume-after-
    match search). The oracle replays the same reset-on-completion fold
    (slot algebra reduced to the live position + count for P=2), so the
    hash pins the GREEDY semantics, not just existence. Same scale
    shape as q135/q136: one user exchange, per-group state bounded by
    condition-relevant events."""
    from ..functions.chsql import ch_sql

    register_views(spark, sf_dir)
    from .relational import vsort

    # vsort, not in-statement ORDER BY (range-sampler re-execution)
    return vsort(ch_sql(spark, _Q137_CLICKHOUSE_SQL), "user_id")


# ---------------------------------------------------------------------------
# Q160 groupArrayMovingSum / groupArrayMovingAvg through the bridge (round 8)
# ---------------------------------------------------------------------------
_Q160_CLICKHOUSE_SQL = """
    SELECT user_id,
           groupArrayMovingSum(value, event_id) AS run_sum,
           groupArrayMovingSum(5)(value, event_id) AS msum5,
           groupArrayMovingAvg(5)(value, event_id) AS mavg5,
           groupArrayMovingAvg(value, event_id) AS mavg_all,
           uniqUpTo(3)(event_type) AS types_upto3
    FROM events
    WHERE user_id % 23 = 7
    GROUP BY user_id
"""


@query(
    "q160_moving_aggregates",
    oracle="""
    WITH src AS (
      SELECT user_id, event_id,
             CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS v
      FROM events WHERE user_id % 23 = 7
    ),
    g AS (
      SELECT user_id, list(v ORDER BY event_id) AS xs FROM src GROUP BY user_id
    ),
    r AS (
      SELECT user_id, len(xs) AS n,
             list_transform(generate_series(1, len(xs)),
                            i -> list_sum(list_slice(xs, 1, i))) AS run
      FROM g
    ),
    ex AS (
      SELECT user_id, n, run, unnest(generate_series(1, n)) AS i FROM r
    )
    SELECT user_id,
           CAST(i AS INT) AS idx,
           CAST(run[i] AS DOUBLE) / 10000.0 AS run_sum,
           CAST(run[i] - CASE WHEN i > 5 THEN run[i-5] ELSE 0 END
                AS DOUBLE) / 10000.0 AS msum5,
           CAST(run[i] - CASE WHEN i > 5 THEN run[i-5] ELSE 0 END
                AS DOUBLE) / 10000.0 / 5 AS mavg5,
           CAST(run[i] AS DOUBLE) / 10000.0 / n AS mavg_all,
           u.types_upto3
    FROM ex
    JOIN (SELECT user_id,
                 LEAST(COUNT(DISTINCT event_type), 4) AS types_upto3
          FROM events WHERE user_id % 23 = 7 GROUP BY user_id) u
      USING (user_id)
    ORDER BY user_id, idx
    """,
)
def q160(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``groupArrayMovingSum`` / ``groupArrayMovingAvg``
    VERBATIM through the bridge (``chsql._rewrite_moving``): per-user
    arrays of running and 5-row-window sums/averages of ``value`` —
    CH's moving-aggregate family (AggregateFunctionMovingSum/Avg),
    including its counter-intuitive Avg contract (every element divides
    by the WINDOW size, leading elements included; the unbounded form
    divides by the group's row count). CH folds in non-deterministic
    block order, so the bridge requires the explicit sort-key second
    argument (event_id) — the same pinned-order extension the sequence
    aggregates use for same-second events. ``uniqUpTo(3)(event_type)``
    rides along — CH's bounded-cardinality counter, bridged to
    least(count(DISTINCT x), N+1).

    Exactness: values snap to DECIMAL(18,4) and fold as scaled BIGINTs
    (the dsum4 device), so the prefix sums and windowed differences
    run[i] - run[i-w] are integer-exact; the oracle replays the same
    scaled fold and the hash pins every array element bit-for-bit.

    Output shape: the moving-aggregate arrays are POSEXPLODED to one
    row per (user_id, idx) with scalar DOUBLE columns — the driver's
    canonicalizer sorts raw pandas cells and list cells are unhashable
    (the q07 list-cell rule, enforced registry-wide by
    tests/test_output_contract.py since round 9).

    Scale: one user_id exchange; per-group state is the collected
    (event_id, value) list — the behavioral-aggregate contract
    (q135-q148), probed linear on hot entities.

    Reference parity: extends the §2.E ClickHouse aggregate surface
    (tables.sql's docsis rollups are this family's natural consumer)."""
    from ..functions.chsql import ch_sql
    from .relational import vsort

    register_views(spark, sf_dir)
    out = ch_sql(spark, _Q160_CLICKHOUSE_SQL)
    out = out.select(
        "user_id",
        "types_upto3",
        F.posexplode(F.arrays_zip("run_sum", "msum5", "mavg5", "mavg_all")).alias("i", "z"),
    ).select(
        "user_id",
        (F.col("i") + 1).cast("int").alias("idx"),
        F.col("z.run_sum").alias("run_sum"),
        F.col("z.msum5").alias("msum5"),
        F.col("z.mavg5").alias("mavg5"),
        F.col("z.mavg_all").alias("mavg_all"),
        "types_upto3",
    )
    return vsort(out, "user_id", "idx")


# ---------------------------------------------------------------------------
# Q161 sumMap / minMap / maxMap through the bridge (round 8)
# ---------------------------------------------------------------------------
_Q161_CLICKHOUSE_SQL = """
    SELECT user_id,
           sumMap(array(event_type), array(value)).k AS type_keys,
           sumMap(array(event_type), array(value)).v AS totals,
           minMap(array(event_type), array(value)).v AS mins,
           maxMap(array(event_type), array(value)).v AS maxs
    FROM events
    WHERE user_id % 29 = 3
    GROUP BY user_id
"""


@query(
    "q161_map_aggregates",
    oracle="""
    WITH src AS (
      SELECT user_id, event_type AS k,
             CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS v
      FROM events WHERE user_id % 29 = 3
    ),
    per AS (
      SELECT user_id, k, SUM(v) AS s, MIN(v) AS mn, MAX(v) AS mx
      FROM src GROUP BY user_id, k
    )
    SELECT user_id,
           k AS type_key,
           CAST(s AS DOUBLE) / 10000.0 AS total,
           CAST(mn AS DOUBLE) / 10000.0 AS mn,
           CAST(mx AS DOUBLE) / 10000.0 AS mx
    FROM per ORDER BY user_id, type_key
    """,
)
def q161(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``sumMap``/``minMap``/``maxMap`` VERBATIM through the
    bridge (``chsql._rewrite_map_aggs``): per-user, per-event-type
    value totals/minima/maxima as sorted parallel key/value arrays —
    CH's map-aggregate family (the canonical per-dimension-rollup
    idiom its docs demo on metric maps; bridge divergence: named
    struct fields k/v instead of tuple positions). Values snap to
    DECIMAL(18,4) and fold as scaled BIGINTs, so every per-key sum is
    integer-exact regardless of collect order and the oracle replays
    the identical arithmetic — the hash pins keys, order, and every
    value bit. The declared output flattens the struct into parallel
    array COLUMNS (type_keys/totals/mins/maxs) — struct cells render
    differently between Arrow and non-Arrow sessions in pandas
    interchange, and the registry's outputs stay interchange-neutral.

    Scale: one user_id exchange; per-group state is the (key, value)
    pair list — the behavioral-aggregate collect contract (bounded by
    per-entity event counts, the q135-q148 assumption).

    Output shape: the parallel k/v arrays are POSEXPLODED to one row
    per (user_id, type_key) with scalar columns — the driver's
    canonicalizer sorts raw pandas cells and list cells are unhashable
    (the q07 list-cell rule, enforced registry-wide since round 9).

    Reference parity: extends §2.E's ClickHouse aggregate surface
    (tables.sql's per-channel metric maps are this family's natural
    consumer)."""
    from ..functions.chsql import ch_sql
    from .relational import vsort

    register_views(spark, sf_dir)
    out = ch_sql(spark, _Q161_CLICKHOUSE_SQL)
    out = out.select(
        "user_id",
        F.posexplode(F.arrays_zip("type_keys", "totals", "mins", "maxs")).alias("i", "z"),
    ).select(
        "user_id",
        F.col("z.type_keys").alias("type_key"),
        F.col("z.totals").alias("total"),
        F.col("z.mins").alias("mn"),
        F.col("z.maxs").alias("mx"),
    )
    return vsort(out, "user_id", "type_key")


# ---------------------------------------------------------------------------
# Q162 largestTriangleThreeBuckets (LTTB downsampling) through the bridge
# ---------------------------------------------------------------------------
_Q162_CLICKHOUSE_SQL = """
    SELECT user_id,
           largestTriangleThreeBuckets(10)(unix_timestamp(ts), value).x
             AS xs,
           largestTriangleThreeBuckets(10)(unix_timestamp(ts), value).y
             AS ys
    FROM events
    WHERE user_id % 31 = 4
    GROUP BY user_id
"""


def _lttb_oracle_sql(n: int = 10, filt: str = "user_id % 31 = 4") -> str:
    """Generated DuckDB oracle for q162: the LTTB fold UNROLLED into one
    CTE chain per bucket (the q152 pagerank device) with the per-bucket
    argmax as list_max + list_position over a transformed area list.

    Why generated and reduce-free: DuckDB 1.0.0\'s vectorized
    ``list_reduce`` returns ANOTHER ROW\'s fold result when rows carry
    different list lengths through sliced inputs (reproduced: 5-user
    batch where user 128 received user 4\'s argmax; every single-row
    run is correct) — so this oracle never folds, it unrolls. Areas are
    exact integers-in-doubles (scaled y, integral epoch x), making the
    list_position equality lookup safe."""
    nbk = n - 2
    head = f"""
    WITH src AS (
      SELECT user_id,
             CAST(epoch(date_trunc(\'second\', ts)) AS DOUBLE) AS x,
             CAST(CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)
                  AS DOUBLE) AS y
      FROM events WHERE {filt}
    ),
    g0 AS (
      SELECT user_id, list([x, y] ORDER BY x, y) AS pts,
             CAST(len(list([x, y])) AS DOUBLE) AS sz,
             [list([x, y] ORDER BY x, y)[1][1],
              list([x, y] ORDER BY x, y)[1][2]] AS out
      FROM src GROUP BY user_id
    )"""
    steps = []
    for i in range(nbk):
        r_lo = f"CAST(floor({i} * (sz - 2) / {nbk}) AS INT) + 2"
        r_hi = f"CAST(floor({i + 1} * (sz - 2) / {nbk}) AS INT) + 1"
        a_lo = f"CAST(floor({i + 1} * (sz - 2) / {nbk}) AS INT) + 2"
        a_hi = f"CAST(least(floor({i + 2} * (sz - 2) / {nbk}) + 1, sz) AS INT)"
        nb = (f"(CASE WHEN len(list_slice(pts, {a_lo}, {a_hi})) = 0 "
              f"THEN [pts[CAST(sz AS INT)]] "
              f"ELSE list_slice(pts, {a_lo}, {a_hi}) END)")
        steps.append(f""",
    b{i} AS (
      SELECT user_id, pts, sz, out,
             list_slice(pts, {r_lo}, {r_hi}) AS bucket,
             list_sum(list_transform({nb}, p -> p[1])) / len({nb}) AS navx,
             list_sum(list_transform({nb}, p -> p[2])) / len({nb}) AS navy
      FROM g{i}
    ),
    a{i} AS (
      SELECT user_id, pts, sz, out, bucket,
             list_transform(bucket,
               c -> abs((out[-2] - navx) * (c[2] - out[-1])
                        - (out[-2] - c[1]) * (navy - out[-1]))) AS areas
      FROM b{i}
    ),
    g{i + 1} AS (
      SELECT user_id, pts, sz,
             list_concat(out,
               CASE WHEN len(bucket) = 0 THEN []::DOUBLE[]
                    ELSE [bucket[list_position(areas, list_max(areas))][1],
                          bucket[list_position(areas, list_max(areas))][2]]
               END) AS out
      FROM a{i}
    )""")
    tail = f""",
    folded AS (
      SELECT user_id,
             CASE WHEN sz <= {n} THEN flatten(pts)
                  ELSE list_concat(out, [pts[CAST(sz AS INT)][1],
                                         pts[CAST(sz AS INT)][2]]) END AS flat
      FROM g{nbk}
    ),
    ex AS (
      SELECT user_id, flat,
             unnest(generate_series(1, len(flat) // 2)) AS j
      FROM folded
    )
    SELECT user_id,
           CAST(j AS INT) AS idx,
           flat[2*j - 1] AS x,
           flat[2*j] / 10000.0 AS y
    FROM ex ORDER BY user_id, idx"""
    return head + "".join(steps) + tail


@query(
    "q162_lttb_downsample",
    oracle=_lttb_oracle_sql(),
)
def q162(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``largestTriangleThreeBuckets`` VERBATIM through the
    bridge (``chsql._rewrite_lttb``): per-user event series downsampled
    to 10 visually-representative points — Steinarsson's LTTB, the
    downsampler CH ships for plotting pipelines (first/last kept, the
    middle split into equal float-width buckets, each bucket
    contributing the point that maximizes the triangle area with the
    previously selected point and the next bucket's average). The
    oracle replays the identical sequential fold with DuckDB list
    lambdas (flat interleaved [x, y] state — the q148 list_reduce
    device), so the hash pins bucket boundaries, the area argmax, the
    first-max tiebreak, and every selected coordinate.

    Exactness: y snaps to DECIMAL(18,4) and scales to integral doubles
    and x is integral epoch seconds, so triangle areas are exact
    integers-in-doubles — no ulp hazard in the argmax on either engine.

    Scale: one user_id exchange; per-group state is the collected
    series (the behavioral-aggregate contract); the fold is O(sz).

    Output shape: the (x, y) coordinate arrays are POSEXPLODED to one
    row per (user_id, idx) with scalar DOUBLE columns — the driver's
    canonicalizer sorts raw pandas cells and list cells are unhashable
    (the q07 list-cell rule, enforced registry-wide since round 9)."""
    from ..functions.chsql import ch_sql
    from .relational import vsort

    register_views(spark, sf_dir)
    out = ch_sql(spark, _Q162_CLICKHOUSE_SQL)
    out = out.select(
        "user_id",
        F.posexplode(F.arrays_zip("xs", "ys")).alias("i", "z"),
    ).select(
        "user_id",
        (F.col("i") + 1).cast("int").alias("idx"),
        F.col("z.xs").alias("x"),
        F.col("z.ys").alias("y"),
    )
    return vsort(out, "user_id", "idx")


# ---------------------------------------------------------------------------
# Q163 simpleLinearRegression + arrayCumSum/arrayDifference (round 8)
# ---------------------------------------------------------------------------
_Q163_CLICKHOUSE_SQL = """
    SELECT event_type,
           simpleLinearRegression(
             (unix_timestamp(ts) - 1704067200) / 86400.0, value).k AS slope,
           simpleLinearRegression(
             (unix_timestamp(ts) - 1704067200) / 86400.0, value).b
             AS intercept,
           arrayCumSum(arraySort(groupArray(CAST(round(value) AS BIGINT))))
             AS cum_values,
           arrayDifference(arraySort(groupArray(CAST(round(value) AS BIGINT))))
             AS value_gaps
    FROM events
    WHERE user_id % 17 = 5
    GROUP BY event_type
"""


@query(
    "q163_regression_arrays",
    oracle="""
    WITH src AS (
      SELECT event_type,
             CAST(CAST((epoch(date_trunc('second', ts)) - 1704067200)
                       / 86400.0 AS DECIMAL(18,4)) AS DOUBLE) AS xd,
             CAST(CAST(value AS DECIMAL(18,4)) AS DOUBLE) AS yd,
             CAST(round(value) AS BIGINT) AS vi
      FROM events WHERE user_id % 17 = 5
    ),
    mom AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(xd AS DECIMAL(18,4))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(yd AS DECIMAL(18,4))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(xd AS DECIMAL(18,4)) * CAST(yd AS DECIMAL(18,4)))
                  AS DOUBLE) AS sxy,
             CAST(SUM(CAST(xd AS DECIMAL(18,4)) * CAST(xd AS DECIMAL(18,4)))
                  AS DOUBLE) AS sxx,
             list_sort(list(vi)) AS vs
      FROM src GROUP BY event_type
    ),
    ex AS (
      SELECT event_type, n, sx, sy, sxy, sxx, vs,
             unnest(generate_series(1, len(vs))) AS i
      FROM mom
    )
    SELECT event_type,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
           (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
             AS intercept,
           CAST(i AS INT) AS idx,
           CAST(list_sum(list_slice(vs, 1, i)) AS DOUBLE) AS cum_value,
           CASE WHEN i = 1 THEN CAST(0 AS BIGINT)
                ELSE vs[i] - vs[i-1] END AS value_gap
    FROM ex ORDER BY event_type, idx
    """,
)
def q163(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``simpleLinearRegression`` + ``arrayCumSum`` /
    ``arrayDifference`` VERBATIM through the bridge: per-event-type
    least-squares trend of ``value`` over days-since-2024 (slope and
    intercept from DECIMAL(18,4)-snapped moment sums — the sums are
    exact decimals, k/b one fixed IEEE expression over them, so the
    oracle spelling the same formula is bit-identical; CH's own float
    accumulation is partitioning-dependent, the snap-then-derive form
    is the deterministic equivalent) plus the array-scalar pair over
    the sorted per-group integer values (cumulative sums and adjacent
    gaps — both integer-exact).

    Scale: one event_type exchange; moments are plain partial-agg
    sums, the arrays ride the behavioral collect contract.

    Output shape: cum/gap arrays are POSEXPLODED to one row per
    (event_type, idx) with scalar columns (slope/intercept repeat per
    row) — the driver's canonicalizer sorts raw pandas cells and list
    cells are unhashable (the q07 list-cell rule, enforced
    registry-wide since round 9)."""
    from ..functions.chsql import ch_sql
    from .relational import vsort

    register_views(spark, sf_dir)
    out = ch_sql(spark, _Q163_CLICKHOUSE_SQL)
    out = out.select(
        "event_type",
        "slope",
        "intercept",
        F.posexplode(F.arrays_zip("cum_values", "value_gaps")).alias("i", "z"),
    ).select(
        "event_type",
        "slope",
        "intercept",
        (F.col("i") + 1).cast("int").alias("idx"),
        F.col("z.cum_values").alias("cum_value"),
        F.col("z.value_gaps").alias("value_gap"),
    )
    return vsort(out, "event_type", "idx")


_Q139_CLICKHOUSE_SQL = """
    SELECT c_custkey,
           dictGetString('nation', 'n_name', c_nationkey) AS nation,
           dictGetOrDefault('nation', 'n_name', c_nationkey + 1000, 'NONE')
             AS missing_dflt,
           dictHas('nation', c_nationkey) AS has_key
    FROM customer
    ORDER BY c_custkey
"""


@query(
    "q139_ch_dictget",
    oracle="""
    SELECT c.c_custkey,
           COALESCE(n1.n_name, '') AS nation,
           COALESCE(n2.n_name, 'NONE') AS missing_dflt,
           (n3.n_nationkey IS NOT NULL) AS has_key
    FROM customer c
    LEFT JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
    LEFT JOIN nation n2 ON n2.n_nationkey = c.c_nationkey + 1000
    LEFT JOIN nation n3 ON n3.n_nationkey = c.c_nationkey
    ORDER BY c.c_custkey
    """,
)
def q139(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse external-dictionary lookups VERBATIM through the
    bridge (``chsql._rewrite_dictget``): ``dictGetString`` (missing key
    → CH's typed default ''), ``dictGetOrDefault`` (explicit default,
    probed with a guaranteed-missing key), and ``dictHas`` — each
    rewritten to a correlated lookup against the registered ``nation``
    view, which Catalyst plans as a broadcast LeftSingle join with
    column-pruned dictionary scans (verified in the plan): exactly what
    a dimension-sized CH dictionary is operationally. The oracle spells
    the same three lookups as LEFT JOINs. Plain ``dictGet``'s
    missing-key divergence (NULL here vs CH's attribute-type default)
    is documented on the rewrite; the typed/OrDefault forms used here
    are exact."""
    from ..functions.chsql import ch_sql

    register_views(spark, sf_dir)
    return ch_sql(
        spark,
        _Q139_CLICKHOUSE_SQL,
        dictionaries={"nation": "n_nationkey"},
    )


# ---------------------------------------------------------------------------
# Q188 streaming windowed deltaSum — the round-8 counter family on a stream
# ---------------------------------------------------------------------------
@query(
    "q188_stream_delta_sum",
    oracle="""
    WITH e AS (
      SELECT user_id, ts, event_id,
             CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS v,
             -- make_timestamp, NOT to_timestamp: DuckDB's to_timestamp
             -- returns TIMESTAMP WITH TIME ZONE, which the driver's
             -- dtype check reads as a schema mismatch vs Spark's
             -- tz-naive window start (CORRECTNESS_r08 q188 schema red)
             make_timestamp(CAST((epoch(ts) - epoch(ts) % 21600)
                                 * 1000000 AS BIGINT)) AS w_start
      FROM events WHERE user_id < 30
    ),
    p AS (
      SELECT user_id, w_start,
             GREATEST(v - lag(v) OVER (PARTITION BY user_id, w_start
               ORDER BY event_id, v), 0) AS d
      FROM e
    )
    SELECT user_id, w_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(CAST(SUM(d) AS BIGINT) AS DOUBLE) / 10000.0 AS delta_sum
    FROM p GROUP BY user_id, w_start
    ORDER BY user_id, w_start
    """,
)
def q188(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming ``deltaSum`` (the round-8 counter aggregate on a
    live stream): events arrive as files, a watermarked 6-hour tumbling
    window per user collects (event_id, value) pairs, and the positive-
    delta fold — the SAME scaled-BIGINT algebra as the q167 bridge —
    runs per closed window; the q157 sentinel device (per-user far-
    future event in its own micro-batch) advances the closing watermark
    so every real window flushes under availableNow, giving a FULL hash
    oracle (batch window-lag replay), not a rows-only check.

    Scale: per-(user, window) state is the window's event pairs —
    bounded by watermark expiry and window width (the F6 session-state
    contract); a live deployment's watermark advances from traffic."""
    import tempfile

    from .relational import vsort

    _cleanup_tmp("q188_dsum_")
    ev = load_tables(spark, sf_dir)["events"].filter(F.col("user_id") < 30)
    real = ev.select("user_id", "ts", "event_id", "value")
    mx = real.agg(F.max("ts")).first()[0]
    root = tempfile.mkdtemp(prefix="q188_dsum_")
    src_dir = f"{root}/src"
    real.coalesce(1).write.parquet(src_dir)
    (
        real.select("user_id").distinct()
        .select(
            "user_id",
            (F.lit(mx) + F.expr("INTERVAL 100 DAYS")).alias("ts"),
            F.lit(-1).cast("long").alias("event_id"),
            F.lit(0.0).alias("value"),
        )
        .coalesce(1)
        .write.mode("append")
        .parquet(src_dir)
    )
    stream = spark.readStream.schema(real.schema).parquet(src_dir)
    fold = (
        "CAST(aggregate(transform(array_sort(ps), s -> s.v), "
        "named_struct('p', CAST(NULL AS BIGINT), 'd', CAST(0 AS "
        "BIGINT)), (acc, v) -> named_struct('p', v, 'd', acc.d + "
        "CASE WHEN acc.p IS NOT NULL AND v > acc.p THEN v - acc.p "
        "ELSE CAST(0 AS BIGINT) END)).d AS DOUBLE) / 10000.0"
    )
    agg = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "6 hours").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.collect_list(
                F.struct(
                    F.col("event_id").alias("o"),
                    (F.col("value").cast("decimal(18,4)") * 10000)
                    .cast("bigint")
                    .alias("v"),
                )
            ).alias("ps"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("w_start"),
            "n_events",
            F.expr(fold).alias("delta_sum"),
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("q188_dsum_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{root}/ck")
        .start()
    )
    if not q.awaitTermination(240):
        q.stop()
        raise TimeoutError("q188 availableNow stream did not finish in 240s")
    out = (
        spark.table("q188_dsum_out")
        .where(F.col("w_start") <= F.lit(mx))
        .select(
            "user_id",
            "w_start",
            F.col("n_events").cast("bigint").alias("n_events"),
            "delta_sum",
        )
    )
    out = vsort(out, "user_id", "w_start")
    return spark.createDataFrame(out.collect(), out.schema)
