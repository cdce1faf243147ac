"""Declared relational verification queries Q01-Q32 (SURVEY.md §2.G).

Each query exists twice: an idiomatic Spark implementation (DataFrame API,
Catalyst-optimized) and a DuckDB oracle SQL template. Determinism rules
(SURVEY.md §2.G.1-5):

- every query ends in a total ORDER BY;
- float aggregates that sum many values go through DECIMAL so the sum is
  exact and engine-order-independent, then back to DOUBLE;
- "round to 4" is done by casting through DECIMAL(38,4) (a double can
  never sit exactly on a 1e-4 tie, so HALF_UP vs HALF_EVEN cannot differ);
- timestamps compared at native microsecond precision, UTC everywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import parse
from ..parse import parse_downstream, parse_uptime, parse_upstream
from ..tables import load_tables
from . import query

DOCSIS = "read_parquet('{docsis}')"


def dec4(c: Column) -> Column:
    """Exact per-row snapshot of a double at 4 decimals (sum-safe)."""
    return c.cast(T.DecimalType(18, 4))


def round4(c: Column) -> Column:
    """Decimal-rounded to 4 places, surfaced as double."""
    return c.cast(T.DecimalType(38, 4)).cast("double")


def round6(c: Column) -> Column:
    return c.cast(T.DecimalType(38, 6)).cast("double")


def vsort(df: DataFrame, *cols) -> DataFrame:
    """Verification total order for a SMALL final result: repartition(1)
    + sortWithinPartitions. A global ``orderBy`` pays a range-sampling
    job that RE-EXECUTES the sort's child plan (for a narrow child, the
    whole subtree — measured +0.58 s on q98's HOF chain at sf0.1) plus a
    range exchange; the single-partition sort touches only the final
    short rows and keeps every upstream stage parallel (repartition, not
    coalesce — coalesce(1) would collapse the narrow upstream into one
    task). Verification-only: at production scale drop the sort or write
    range-partitioned output."""
    return df.repartition(1).sortWithinPartitions(*cols)


#: dsum4 limb width: base-2^20 digits. Small W bounds the LOW-digit sum
#: (sum(lo) <= n * 2^20 -> safe to n ~ 4.4e12 rows/group, past the
#: 100 TB bar of ~6e11 lineitem rows) while the HIGH-digit sum is bound
#: by n * max|v|/2^20 (for typical 1e9-scaled revenue values: n ~ 5e15).
#: 2^30 (the stats-lane width) would cap n at 4.3e9 rows/group — below
#: the VERDICT r11 1e10-rows-per-group overflow scenario.
DSUM4_W = 1 << 20
#: per-row snap-agreement domain: |v| <= 2^52 keeps the +0.5 floor
#: spelling exactly equal to the oracle's round() on every double
#: (the chsql.snap4_sql proof), i.e. |x| <= ~4.5e11.
DSUM4_VMAX = 1 << 52


def dsum4(c: Column) -> Column:
    """Order-independent exact sum of a double column -> double, on the
    pure-BIGINT limb path (round 12, VERDICT r11 #1: the per-row
    ``CAST(double AS DECIMAL(18,4))`` stringifies through BigDecimal
    and was the measured residual of q19's otherwise-optimal plan —
    14x warm vs oracle; same device as ``chsql._limb_moment_sums``).

    Per row: v = round(x * 1e4) spelled ``sign(x) * floor(|x| * 1e4 +
    0.5)`` (single correctly-rounded IEEE ops in whole-stage codegen,
    provably equal to the oracle's native ``round`` for |v| <= 2^52 —
    chsql.snap4_sql's proof), split into base-2^20 digits lo/hi. The
    group aggregates are two plain BIGINT sums plus (count, max|v|)
    for the audit; ONE DECIMAL(38,0) Horner recombination per group
    rebuilds the exact integer, then CAST AS DOUBLE / 1e4 — the DuckDB
    twin ``CAST(SUM(CAST(round(x * 1e4) AS BIGINT)) AS DOUBLE) / 1e4``
    sums into HUGEINT, so both engines round the SAME exact integer
    once and the doubles are bit-identical.

    LOUD domain (never a silent wrap, unlike a bare sum-of-longs, and
    never a silent DROP, unlike the old decimal cast which nulled
    out-of-range rows and NaN out of the sum): raises in-plan when
    |v| > 2^52 (snap agreement), on NaN (folded into the max carrier —
    the ADVICE r11 device), or when count * max(max|v|/W, W) nears
    int64 (conservative digit-sum envelope). Groups beyond ~4.4e12
    rows or |x| > 4.5e11 need ``dsum4_decimal``."""
    d = c.cast("double")
    v = F.signum(d).cast("bigint") * F.floor(F.abs(d) * 10000.0 + F.lit(0.5))
    lo = v.bitwiseAND(F.lit(DSUM4_W - 1))
    hi = F.shiftright(v, 20)
    n = F.count(d)
    vmax = F.max(
        F.when(F.isnan(d), F.lit(1 << 60)).otherwise(F.abs(v))
    )
    audit = (vmax > F.lit(DSUM4_VMAX)) | (
        n.cast("double")
        * F.greatest(vmax.cast("double") / DSUM4_W, F.lit(float(DSUM4_W)))
        >= 4.6e18
    )
    total = F.sum(hi).cast(T.DecimalType(38, 0)) * DSUM4_W + F.sum(lo)
    return F.when(
        audit,
        F.raise_error(
            F.lit(
                "dsum4 limb-lane domain: a group exceeds |x| <= 4.5e11 "
                "with audited row count (or contains NaN) — "
                "dsum4_decimal is the wide-domain lane"
            )
        ).cast("double"),
    ).otherwise(total.cast("double") / 10000.0)


#: column names carrying dsum4's partial state between levels
DSUM4_PARTIALS = ("_d4_lo", "_d4_hi", "_d4_n", "_d4_vmax")


def dsum4_partials(c: Column) -> list[Column]:
    """First-level (partial) aggregates of ``dsum4`` for TWO-LEVEL
    plans — e.g. a sliding window that aggregates per base bucket
    first and expands only the partials (q39, round 12). The four
    BIGINT pieces are exactly the single-level lane's internal
    aggregates (digit sums, count, max|v| with the NaN sentinel), so
    summing them across any regrouping and finishing with
    ``dsum4_merge`` rebuilds the IDENTICAL exact integer: integer
    digit sums are associative, unlike double partial sums."""
    d = c.cast("double")
    v = F.signum(d).cast("bigint") * F.floor(
        F.abs(d) * 10000.0 + F.lit(0.5)
    )
    lo = v.bitwiseAND(F.lit(DSUM4_W - 1))
    hi = F.shiftright(v, 20)
    return [
        F.sum(lo).alias("_d4_lo"),
        F.sum(hi).alias("_d4_hi"),
        F.count(d).alias("_d4_n"),
        F.max(
            F.when(F.isnan(d), F.lit(1 << 60)).otherwise(F.abs(v))
        ).alias("_d4_vmax"),
    ]


def dsum4_merge() -> Column:
    """Second-level combiner over ``dsum4_partials`` columns: sums the
    digit sums, re-evaluates the SAME loud audit over the merged
    (count, max) carriers, and emits the final double via the one
    DECIMAL(38,0) Horner recombination — bit-identical to a
    single-level ``dsum4`` over the underlying rows."""
    lo, hi = F.sum("_d4_lo"), F.sum("_d4_hi")
    n, vmax = F.sum("_d4_n"), F.max("_d4_vmax")
    audit = (vmax > F.lit(DSUM4_VMAX)) | (
        n.cast("double")
        * F.greatest(vmax.cast("double") / DSUM4_W, F.lit(float(DSUM4_W)))
        >= 4.6e18
    )
    total = hi.cast(T.DecimalType(38, 0)) * DSUM4_W + lo
    return F.when(
        audit,
        F.raise_error(
            F.lit(
                "dsum4 limb-lane domain: a group exceeds |x| <= 4.5e11 "
                "with audited row count (or contains NaN) — "
                "dsum4_decimal is the wide-domain lane"
            )
        ).cast("double"),
    ).otherwise(total.cast("double") / 10000.0)


def dsum4_decimal(c: Column) -> Column:
    """The wide-domain lane (|x| < 1e14, any group size): DECIMAL(28,4)
    accumulator — ~2x slower per row locally (boxed BigDecimal adds off
    the primitive codegen path; measured 1.24s vs 0.57s for q09 at
    sf0.1) but immune to the limb lane's digit-sum envelope. NOTE the
    decimal cast silently NULLs (drops) NaN and out-of-range rows in
    non-ANSI sessions — the limb lane raises instead."""
    return F.sum(dec4(c)).cast("double")


# ---------------------------------------------------------------------------
# Q01 scan + filter + project (E1-E4): predicate pushdown to parquet
# ---------------------------------------------------------------------------
@query(
    "q01_filter_project",
    oracle="""
    SELECT l_orderkey, l_extendedprice, l_discount
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    ORDER BY l_orderkey, l_extendedprice, l_discount
    """,
)
def q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan with pushed-down predicates; project 3 of 11 columns (column
    pruning reaches the parquet reader)."""
    li = load_tables(spark, sf_dir)["lineitem"]
    return (
        li.filter(
            (F.col("l_shipdate") >= "1995-01-01")
            & (F.col("l_shipdate") < "1996-01-01")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .orderBy("l_orderkey", "l_extendedprice", "l_discount")
    )


# ---------------------------------------------------------------------------
# Q02 scalar arithmetic projection (B4)
# ---------------------------------------------------------------------------
@query(
    "q02_revenue_projection",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
    FROM lineitem
    ORDER BY l_orderkey, l_linenumber
    """,
)
def q02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row arithmetic projection (the B4 unit-conversion shape).

    Two measured choices (2.5s -> 0.9s cold at sf0.1, DuckDB 0.4s):

    - ``F.round`` (pure double, HALF_UP) instead of the decimal(38,4)
      snapshot: price(2dp) * (1 - discount(2dp)) has exactly <=4
      decimal digits, so both roundings land on the same value, and the
      decimal cast's Int128 codegen was the dominant per-row cost.
      Queries whose rounded value can carry real precision beyond the
      4th place keep ``round4``.
    - sort BEFORE projecting: the ORDER BY keys are scan columns, so
      sorting the raw columns and projecting after keeps the arithmetic
      out of the range-partitioner's sampling subtree and out of the
      exchange's key comparison path; projection preserves order.
    - explicit repartitionByRange + sortWithinPartitions instead of
      orderBy: the SAME total order (range partitions are globally
      ordered, rows sorted within), measured 0.88 -> 0.55 s warm at
      sf0.1 — orderBy's AQE interplay re-plans the sort stage, the
      explicit spelling doesn't."""
    li = load_tables(spark, sf_dir)["lineitem"]
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")
        .repartitionByRange("l_orderkey", "l_linenumber")
        .sortWithinPartitions("l_orderkey", "l_linenumber")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Q03 CASE / conditional correction (B5) over the raw parse path
# ---------------------------------------------------------------------------
@query(
    "q03_ofdm_snr_case",
    oracle=f"""
    WITH recs AS (
      SELECT modem_name, timestamp, unnest(string_split(downstream_raw, '|+|')) AS rec
      FROM {DOCSIS}
    ), fields AS (
      SELECT modem_name, timestamp, string_split(rec, '^') AS p FROM recs
    )
    SELECT modem_name, timestamp,
           CAST(p[4] AS INT) AS channel_id,
           p[3] AS modulation,
           CAST(p[7] AS DOUBLE) AS snr_raw,
           CASE WHEN p[3] = 'OFDM PLC' AND CAST(p[7] AS DOUBLE) < 20.0
                THEN CAST(p[7] AS DOUBLE) * 2.5 ELSE CAST(p[7] AS DOUBLE) END AS snr_corrected
    FROM fields
    ORDER BY modem_name, timestamp, channel_id
    """,
)
def q03(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's OFDM-PLC SNR firmware-bug correction
    (mb8600.py:372-376) as a CASE expression over the raw wire strings."""
    d = load_tables(spark, sf_dir)["docsis"]
    rec = d.select(
        "modem_name",
        "timestamp",
        F.explode(F.split("downstream_raw", r"\|\+\|")).alias("rec"),
    ).select("modem_name", "timestamp", F.split("rec", r"\^").alias("p"))
    snr_raw = F.element_at("p", 7).try_cast("double")
    modulation = F.element_at("p", 3)
    return rec.select(
        "modem_name",
        "timestamp",
        F.element_at("p", 4).try_cast("int").alias("channel_id"),
        modulation.alias("modulation"),
        snr_raw.alias("snr_raw"),
        F.when((modulation == "OFDM PLC") & (snr_raw < 20.0), snr_raw * 2.5)
        .otherwise(snr_raw)
        .alias("snr_corrected"),
        # vsort, not orderBy: range sampling would re-run the regex
        # split subtree (measured 0.99 vs 0.73 s warm at sf0.1)
    ).repartition(1).sortWithinPartitions(
        "modem_name", "timestamp", "channel_id"
    )


# ---------------------------------------------------------------------------
# Q04 regex extraction (B6, B7)
# ---------------------------------------------------------------------------
@query(
    "q04_regex_extract",
    oracle="""
    SELECT doc_id,
           COALESCE(TRY_CAST(regexp_extract(text, '([0-9]+)', 1) AS BIGINT), 0) AS first_int
    FROM documents
    ORDER BY doc_id
    """,
)
def q04(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract with group + coalesce-0 (the uptime-parse shape)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return docs.select(
        "doc_id",
        F.coalesce(
            F.regexp_extract("text", r"([0-9]+)", 1).try_cast("long"), F.lit(0)
        ).alias("first_int"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Q05 string split / element access (B1, B2)
# ---------------------------------------------------------------------------
@query(
    "q05_split_elements",
    oracle="""
    WITH s AS (SELECT p_partkey, string_split(p_type, ' ') AS parts FROM part)
    SELECT p_partkey, parts[1] AS first_part, parts[-1] AS last_part,
           CAST(len(parts) AS INT) AS n_parts
    FROM s ORDER BY p_partkey
    """,
)
def q05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record/field splitting with positional access (the packed-string
    destructure shape, mb8600.py:371)."""
    part = load_tables(spark, sf_dir)["part"]
    parts = F.split("p_type", " ")
    return part.select(
        "p_partkey",
        F.element_at(parts, 1).alias("first_part"),
        F.element_at(parts, -1).alias("last_part"),
        F.size(parts).alias("n_parts"),
    ).orderBy("p_partkey")


# ---------------------------------------------------------------------------
# Q06 explode / ARRAY JOIN (E5)
# ---------------------------------------------------------------------------
@query(
    "q06_explode_channels",
    oracle=f"""
    SELECT modem_name, timestamp, u.channel_id AS channel_id,
           CAST(u.snr AS DOUBLE) AS snr, CAST(u.power AS DOUBLE) AS power
    FROM (SELECT modem_name, timestamp, unnest(downstream_channels) AS u FROM {DOCSIS})
    ORDER BY modem_name, timestamp, channel_id
    """,
)
def q06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flatten the nested channel array: ClickHouse ARRAY JOIN ==
    Spark explode (tables.sql:11-20)."""
    d = load_tables(spark, sf_dir)["docsis"]
    return (
        d.select("modem_name", "timestamp", F.explode("downstream_channels").alias("u"))
        .select(
            "modem_name",
            "timestamp",
            F.col("u.channel_id").alias("channel_id"),
            F.col("u.snr").cast("double").alias("snr"),
            F.col("u.power").cast("double").alias("power"),
        )
        .orderBy("modem_name", "timestamp", "channel_id")
    )


# ---------------------------------------------------------------------------
# Q07 struct assembly / collect (B8) — inverse of explode
# ---------------------------------------------------------------------------
@query(
    "q07_collect_structs",
    oracle=f"""
    WITH e AS (
      SELECT modem_name, timestamp, u.channel_id AS channel_id, CAST(u.snr AS DOUBLE) AS snr
      FROM (SELECT modem_name, timestamp, unnest(downstream_channels) AS u FROM {DOCSIS})
    ),
    g AS (
      SELECT modem_name, timestamp,
             list_sort(list(struct_pack(channel_id := channel_id, snr := snr))) AS arr
      FROM e GROUP BY modem_name, timestamp
    )
    SELECT modem_name, timestamp,
           array_to_string(list_transform(arr,
             x -> CAST(x.channel_id AS VARCHAR) || ':' ||
                  CAST(CAST(x.snr AS DECIMAL(18,4)) AS VARCHAR)), ';') AS channels
    FROM g ORDER BY modem_name, timestamp
    """,
)
def q07(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group exploded channels back into a sorted array of structs —
    the exporter's struct-assembly step (mb8600.py:378-386) in reverse.

    The driver-facing output serializes the struct array to a canonical
    ``id:snr;id:snr`` string: the driver's pandas canonicalizer cannot
    sort/hash list cells (round-1 q07 err), and a string is portable.
    Decimal(18,4) renders identically ("38.5000") in Spark and DuckDB.
    The native array<struct> round-trip (assembly = inverse of explode)
    is asserted in tests/test_plans.py::test_q07_struct_roundtrip."""
    d = load_tables(spark, sf_dir)["docsis"]
    # ZERO-SHUFFLE form: the "assembly" group key (modem_name, timestamp)
    # is exactly one source row -- explode + groupBy + collect_list is an
    # identity round-trip through an exchange. Recognizing that, the
    # whole operator is narrow array algebra on the stored array:
    # array_sort on the struct array orders by its FIRST field
    # (channel_id, unique per row -- later fields never break a tie),
    # then one transform renders each element. Measured at sf0.1:
    # 0.87 s warm (explode+agg form, r06) -> 0.47 s; at 100 TB the win
    # is a full corpus shuffle that no longer exists. The size>0 guard
    # keeps explode's drop-empty/null semantics (the oracle's unnest
    # likewise emits nothing for them).
    arr = F.transform(
        F.array_sort("downstream_channels"),
        lambda u: F.concat_ws(
            ":",
            u["channel_id"],
            u["snr"].cast("double").cast(T.DecimalType(18, 4)),
        ),
    )
    out = d.where(F.size("downstream_channels") > 0).select(
        "modem_name",
        "timestamp",
        F.array_join(arr, ";").alias("channels"),
    )
    # The total order exists for the differential hash check, not the
    # operator: the upstream is narrow (fully parallel), so the single-
    # partition sort at the end touches only the final short rows
    # (repartition(1) keeps the map side parallel -- coalesce(1) would
    # collapse the whole narrow pipeline into one task). At production
    # scale drop the sort or write range-partitioned output instead.
    return out.repartition(1).sortWithinPartitions("modem_name", "timestamp")


# ---------------------------------------------------------------------------
# Q08 array higher-order functions (E6) — no explode, no shuffle
# ---------------------------------------------------------------------------
@query(
    "q08_array_higher_order",
    oracle=f"""
    SELECT modem_name, timestamp,
           CAST(len(downstream_channels) AS INT) AS n_channels,
           CAST(CAST(list_sum(list_transform(downstream_channels, x -> CAST(x.snr AS DOUBLE)))
                     / len(downstream_channels) AS DECIMAL(38,4)) AS DOUBLE) AS mean_snr,
           list_max(list_transform(downstream_channels, x -> x.uncorrected_errors)) AS max_uncorrected
    FROM {DOCSIS}
    ORDER BY modem_name, timestamp
    """,
)
def q08(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row array analytics via higher-order functions (ClickHouse
    arrayMap/arraySum idiom) — stays row-local, zero shuffle."""
    d = load_tables(spark, sf_dir)["docsis"]
    ds = F.col("downstream_channels")
    mean_snr = F.aggregate(
        ds, F.lit(0.0), lambda acc, x: acc + x["snr"].cast("double")
    ) / F.size(ds)
    return d.select(
        "modem_name",
        "timestamp",
        F.size(ds).alias("n_channels"),
        round4(mean_snr).alias("mean_snr"),
        F.array_max(F.transform(ds, lambda x: x["uncorrected_errors"])).alias(
            "max_uncorrected"
        ),
    ).orderBy("modem_name", "timestamp")


# ---------------------------------------------------------------------------
# Q09 hash aggregation (E7) — TPC-H Q1 shape
# ---------------------------------------------------------------------------
@query(
    "q09_hash_agg",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           (CAST(SUM(CAST(round(CAST(l_quantity AS DOUBLE) * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0) AS sum_qty,
           (CAST(SUM(CAST(round(CAST(l_extendedprice AS DOUBLE) * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0) AS sum_base_price,
           CAST(CAST((CAST(SUM(CAST(round(CAST(l_discount AS DOUBLE) * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0) / COUNT(*)
                AS DECIMAL(38,6)) AS DOUBLE) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q09(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial+final hash aggregation over low-cardinality keys (map-side
    combine keeps the shuffle tiny at any scale)."""
    li = load_tables(spark, sf_dir)["lineitem"]
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum4(F.col("l_quantity")).alias("sum_qty"),
            dsum4(F.col("l_extendedprice")).alias("sum_base_price"),
            round6(dsum4(F.col("l_discount")) / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Q10 time bucketing / downsampling (E8)
# ---------------------------------------------------------------------------
@query(
    "q10_time_bucket",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour, event_type,
           COUNT(*) AS n,
           (CAST(SUM(CAST(round(CAST(value AS DOUBLE) * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0) AS sum_value
    FROM events
    GROUP BY hour, event_type
    ORDER BY hour, event_type
    """,
)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse toStartOfHour downsampling == date_trunc grouping."""
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), F.col("event_type")
        )
        .agg(F.count("*").alias("n"), dsum4(F.col("value")).alias("sum_value"))
        .orderBy("hour", "event_type")
    )


# ---------------------------------------------------------------------------
# Q11 last-point query (E9)
# ---------------------------------------------------------------------------
@query(
    "q11_last_point",
    oracle=f"""
    SELECT modem_name,
           arg_max(modem_version, timestamp) AS current_version,
           max(timestamp) AS last_seen
    FROM {DOCSIS}
    GROUP BY modem_name ORDER BY modem_name
    """,
)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Current-status lookup: ClickHouse argMax == Spark max_by —
    a single agg pass, no window, no self-join."""
    d = load_tables(spark, sf_dir)["docsis"]
    return (
        d.groupBy("modem_name")
        .agg(
            F.max_by("modem_version", "timestamp").alias("current_version"),
            F.max("timestamp").alias("last_seen"),
        )
        .orderBy("modem_name")
    )


# ---------------------------------------------------------------------------
# Q12 counter delta / rate over overflowing counters (E10)
# ---------------------------------------------------------------------------
@query(
    "q12_counter_delta",
    oracle=f"""
    WITH e AS (
      SELECT modem_name, timestamp, u.channel_id AS channel_id,
             u.uncorrected_errors AS uncorrected
      FROM (SELECT modem_name, timestamp, unnest(downstream_channels) AS u FROM {DOCSIS})
    ), d AS (
      SELECT modem_name, channel_id, timestamp,
             uncorrected - lag(uncorrected) OVER (
               PARTITION BY modem_name, channel_id ORDER BY timestamp) AS raw_delta
      FROM e
    )
    SELECT modem_name, channel_id, timestamp,
           greatest(raw_delta, 0) AS delta
    FROM d WHERE raw_delta IS NOT NULL
    ORDER BY modem_name, channel_id, timestamp
    """,
)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-counter rate with reset/overflow clamping: the signed-Int64 +
    greatest(delta, 0) idiom the schema is designed for (tables.sql:17-19)."""
    d = load_tables(spark, sf_dir)["docsis"]
    e = d.select(
        "modem_name", "timestamp", F.explode("downstream_channels").alias("u")
    ).select(
        "modem_name",
        "timestamp",
        F.col("u.channel_id").alias("channel_id"),
        F.col("u.uncorrected_errors").alias("uncorrected"),
    )
    w = W.partitionBy("modem_name", "channel_id").orderBy("timestamp")
    return (
        e.withColumn("raw_delta", F.col("uncorrected") - F.lag("uncorrected").over(w))
        .filter(F.col("raw_delta").isNotNull())
        .select(
            "modem_name",
            "channel_id",
            "timestamp",
            F.greatest("raw_delta", F.lit(0)).alias("delta"),
        )
        .orderBy("modem_name", "channel_id", "timestamp")
    )


# ---------------------------------------------------------------------------
# Q13 ranking / per-group top-1 (E11)
# ---------------------------------------------------------------------------
@query(
    "q13_worst_channel_rank",
    oracle=f"""
    WITH e AS (
      SELECT modem_name, timestamp, u.channel_id AS channel_id, CAST(u.snr AS DOUBLE) AS snr
      FROM (SELECT modem_name, timestamp, unnest(downstream_channels) AS u FROM {DOCSIS})
    ), r AS (
      SELECT *, row_number() OVER (
        PARTITION BY modem_name, timestamp ORDER BY snr ASC, channel_id ASC) AS rn
      FROM e
    )
    SELECT modem_name, timestamp, channel_id, snr
    FROM r WHERE rn = 1
    ORDER BY modem_name, timestamp
    """,
)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Worst-SNR channel per scrape — rank-1 with (snr, channel_id)
    tiebreak.

    ZERO-SHUFFLE form (the q07 identity): the ranking window's partition
    key (modem_name, timestamp) is exactly one source row, so
    ``row_number() == 1`` over the exploded channels is ``array_min`` of
    (snr, channel_id) structs on the stored array — struct comparison IS
    the (snr ASC, channel_id ASC) order — with no explode, no window
    exchange, no partition sort. The general windowed spelling remains
    the operator for keys spanning rows (q11/q15); measured 0.53 ->
    ~0.25 s warm at sf0.1, and at 100 TB the removed exchange is the
    whole corpus. size>0 guard = explode's drop-empty semantics."""
    d = load_tables(spark, sf_dir)["docsis"]
    best = F.array_min(
        F.transform(
            "downstream_channels",
            lambda u: F.struct(
                u["snr"].cast("double").alias("snr"),
                u["channel_id"].alias("channel_id"),
            ),
        )
    )
    return (
        d.where(F.size("downstream_channels") > 0)
        .select("modem_name", "timestamp", best.alias("b"))
        .select(
            "modem_name",
            "timestamp",
            F.col("b.channel_id").alias("channel_id"),
            F.col("b.snr").alias("snr"),
        )
        .repartition(1)
        .sortWithinPartitions("modem_name", "timestamp")
    )


# ---------------------------------------------------------------------------
# Q14 global top-k (E11/E14) — TakeOrderedAndProject, no full sort
# ---------------------------------------------------------------------------
@query(
    "q14_top_k",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10: Catalyst plans TakeOrderedAndProject (per-partition
    heaps + driver merge) instead of a full sort."""
    o = load_tables(spark, sf_dir)["orders"]
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q15 frame window / moving average (E12)
# ---------------------------------------------------------------------------
@query(
    "q15_moving_avg",
    oracle="""
    SELECT user_id, ts, event_id,
           CAST(CAST(
             CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) / COUNT(*) OVER w
           AS DECIMAL(38,6)) AS DOUBLE) AS mavg
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    ORDER BY user_id, ts, event_id
    """,
)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-row moving average per user (ROWS frame window)."""
    ev = load_tables(spark, sf_dir)["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 0)
    mavg = F.sum(dec4(F.col("value"))).over(w).cast("double") / F.count("*").over(w)
    return ev.select(
        "user_id", "ts", "event_id", round6(mavg).alias("mavg")
    ).orderBy("user_id", "ts", "event_id")


# ---------------------------------------------------------------------------
# Q16 exact quantiles (E13)
# ---------------------------------------------------------------------------
@query(
    "q16_percentiles",
    oracle="""
    SELECT l_returnflag,
           CAST(CAST(quantile_cont(l_extendedprice, 0.5)  AS DECIMAL(38,4)) AS DOUBLE) AS p50,
           CAST(CAST(quantile_cont(l_extendedprice, 0.95) AS DECIMAL(38,4)) AS DOUBLE) AS p95
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (ClickHouse quantile() idiom).

    Both percentiles come from ONE ``percentile(col, array(...))``
    aggregate: each separate percentile aggregate builds its own
    per-group value buffer over the full column (measured 2x the time
    at sf0.1), while the array form shares one buffer and reads the two
    interpolation points from it."""
    li = load_tables(spark, sf_dir)["lineitem"]
    ps = F.percentile("l_extendedprice", F.array(F.lit(0.5), F.lit(0.95)))
    return (
        li.groupBy("l_returnflag")
        .agg(ps.alias("_ps"))
        .select(
            "l_returnflag",
            round4(F.col("_ps")[0]).alias("p50"),
            round4(F.col("_ps")[1]).alias("p95"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Q17 distinct aggregation (E13): exact (hash-matched) + approx (rows-only)
# ---------------------------------------------------------------------------
@query(
    "q17_count_distinct",
    oracle="""
    SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_customers
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct count per priority (two-phase distinct aggregate)."""
    o = load_tables(spark, sf_dir)["orders"]
    return (
        o.groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n_customers"))
        .orderBy("o_orderpriority")
    )


@query(
    "q17b_approx_distinct",
    oracle="""
    SELECT o_orderpriority, TRUE AS within_tol
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q17b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct — the 100 TB-scale spelling
    (one pass, constant memory). The approx value itself is
    engine-specific, so the query emits the DECLARED-TOLERANCE check
    instead: ``within_tol`` is true iff |approx - exact| <= 5% * exact,
    and the oracle asserts it must be true for every group — a
    hash-verified tolerance gate rather than a rows-only count
    (SURVEY §2.G Q17's 5%-tolerance promise). rsd=0.01 sizes the HLL
    sketch so observed error stays <1% at sf0.01-0.1 (the default 5%
    rsd occasionally exceeds the 5% gate — measured 9.7% on one
    group)."""
    o = load_tables(spark, sf_dir)["orders"]
    # pre-distinct on (priority, custkey): HLL is duplicate-insensitive,
    # so the approx estimate is unchanged, and the exact count becomes a
    # plain COUNT — one distinct shuffle instead of the 2x Expand the
    # mixed exact+approx distinct aggregate plans (measured 3x faster)
    d = o.select("o_orderpriority", "o_custkey").distinct()
    return (
        d.groupBy("o_orderpriority")
        .agg(
            F.approx_count_distinct("o_custkey", 0.01).alias("approx"),
            F.count("*").alias("exact"),
        )
        .select(
            "o_orderpriority",
            (
                F.abs(F.col("approx") - F.col("exact"))
                <= 0.05 * F.col("exact")
            ).alias("within_tol"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Q18 broadcast equi-join (E15)
# ---------------------------------------------------------------------------
@query(
    "q18_broadcast_join",
    oracle="""
    SELECT n.n_name, r.r_name
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    ORDER BY n.n_name, r.r_name
    """,
)
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension join with an explicit broadcast hint — no shuffle of the
    fact side at any scale."""
    t = load_tables(spark, sf_dir)
    return (
        t["nation"]
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_name", "r_name")
        .orderBy("n_name", "r_name")
    )


# ---------------------------------------------------------------------------
# Q19 multi-join + aggregation (E15)
# ---------------------------------------------------------------------------
@query(
    "q19_multi_join_revenue",
    oracle="""
    SELECT c.c_mktsegment,
           (CAST(SUM(CAST(round(CAST(l.l_extendedprice * (1 - l.l_discount) AS DOUBLE) * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
    """,
)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-table star join, dim-first (round 12): orders ⋈ customer
    reduces to a pure (o_orderkey -> c_mktsegment) map FIRST — its
    cardinality is exactly |orders| (custkey is PK-FK, never expands)
    — so the lineitem fact is probed ONCE instead of twice. Catalyst
    does not reorder through the aggregate on its own; measured 0.96 →
    0.60 s warm at sf0.1 (with the limb dsum4; the old decimal-cast
    sum was 1.35 s — VERDICT r11 #1).

    Physical choices, verification-scale: the dim map (150k rows × 18
    bytes at sf0.1) is broadcast by hint. At 100 TB drop the hint: the
    dim side no longer fits an executor, AQE shuffle-joins
    lineitem ⋈ dim on orderkey (one fact shuffle — same count as the
    un-restructured shape) and handles skew."""
    t = load_tables(spark, sf_dir)
    dim = (
        t["orders"]
        .join(
            F.broadcast(t["customer"]),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("o_orderkey", "c_mktsegment")
    )
    return (
        t["lineitem"]
        .join(F.broadcast(dim), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("c_mktsegment")
        .agg(
            dsum4(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Q20 outer join (E15)
# ---------------------------------------------------------------------------
@query(
    "q20_left_outer_join",
    oracle="""
    SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey ORDER BY c.c_custkey
    """,
)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders."""
    t = load_tables(spark, sf_dir)
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Q21 semi join / Q22 anti join (E15; EXISTS decorrelation)
# ---------------------------------------------------------------------------
@query(
    "q21_semi_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c_custkey
    """,
)
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join == EXISTS (no row multiplication, early-out probe)."""
    t = load_tables(spark, sf_dir)
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "q22_anti_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c_custkey
    """,
)
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join == NOT EXISTS."""
    t = load_tables(spark, sf_dir)
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Q23 set operators
# ---------------------------------------------------------------------------
@query(
    "q23_set_ops",
    oracle="""
    SELECT custkey FROM (
      (SELECT o_custkey AS custkey FROM orders
       INTERSECT
       SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 0)
      EXCEPT
      SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    ) ORDER BY custkey
    """,
)
def q23(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT then EXCEPT (both distinct-semantics)."""
    t = load_tables(spark, sf_dir)
    ordered_custs = t["orders"].select(F.col("o_custkey").alias("custkey"))
    positive = (
        t["customer"].filter(F.col("c_acctbal") > 0).select(F.col("c_custkey").alias("custkey"))
    )
    building = (
        t["customer"]
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("custkey"))
    )
    return ordered_custs.intersect(positive).exceptAll(building.distinct()).distinct().orderBy("custkey")


# ---------------------------------------------------------------------------
# Q24 union distinct vs union all (F1 flavor)
# ---------------------------------------------------------------------------
@query(
    "q24_union_dedup",
    oracle="""
    SELECT 'all' AS mode, COUNT(*) AS n FROM (
      SELECT s_nationkey AS k FROM supplier UNION ALL SELECT c_nationkey FROM customer)
    UNION ALL
    SELECT 'distinct' AS mode, COUNT(*) AS n FROM (
      SELECT s_nationkey AS k FROM supplier UNION SELECT c_nationkey FROM customer)
    ORDER BY mode
    """,
)
def q24(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL vs UNION (distinct) cardinalities."""
    t = load_tables(spark, sf_dir)
    s = t["supplier"].select(F.col("s_nationkey").alias("k"))
    c = t["customer"].select(F.col("c_nationkey").alias("k"))
    all_n = s.unionAll(c).agg(F.count("*").alias("n")).select(F.lit("all").alias("mode"), "n")
    dist_n = (
        s.union(c).distinct().agg(F.count("*").alias("n")).select(F.lit("distinct").alias("mode"), "n")
    )
    return all_n.unionAll(dist_n).orderBy("mode")


# ---------------------------------------------------------------------------
# Q25 ROLLUP / Q26 CUBE with grouping flags
# ---------------------------------------------------------------------------
@query(
    "q25_rollup",
    oracle="""
    SELECT r.r_name, n.n_name,
           CAST(GROUPING(r.r_name) AS INT) AS g_r, CAST(GROUPING(n.n_name) AS INT) AS g_n,
           COUNT(c.c_custkey) AS n_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP(r.r_name, n.n_name)
    ORDER BY g_r, g_n, r_name NULLS FIRST, n_name NULLS FIRST
    """,
)
def q25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP totals over a 3-table join."""
    t = load_tables(spark, sf_dir)
    joined = (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.grouping("r_name").cast("int").alias("g_r"),
            F.grouping("n_name").cast("int").alias("g_n"),
            F.count("c_custkey").alias("n_customers"),
        )
        .orderBy(
            "g_r", "g_n", F.col("r_name").asc_nulls_first(), F.col("n_name").asc_nulls_first()
        )
    )


@query(
    "q26_cube",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_p, CAST(GROUPING(o_orderstatus) AS INT) AS g_s,
           COUNT(*) AS n
    FROM orders
    GROUP BY CUBE(o_orderpriority, o_orderstatus)
    ORDER BY g_p, g_s, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
    """,
)
def q26(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions with grouping flags."""
    o = load_tables(spark, sf_dir)["orders"]
    return (
        o.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.grouping("o_orderpriority").cast("int").alias("g_p"),
            F.grouping("o_orderstatus").cast("int").alias("g_s"),
            F.count("*").alias("n"),
        )
        .orderBy(
            "g_p",
            "g_s",
            F.col("o_orderpriority").asc_nulls_first(),
            F.col("o_orderstatus").asc_nulls_first(),
        )
    )


# ---------------------------------------------------------------------------
# Q27 date / math scalar functions
# ---------------------------------------------------------------------------
@query(
    "q27_date_math_scalars",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(month(o_orderdate) AS INT) AS o_month,
           CAST(date_diff('day', o_orderdate, TIMESTAMP '1998-01-01') AS INT) AS days_to_1998,
           abs(o_totalprice - 200000.0) AS price_dist,
           CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
           pow(2.0, CAST(o_orderkey % 10 AS DOUBLE)) AS pow2
    FROM orders ORDER BY o_orderkey
    """,
)
def q27(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction, date arithmetic, abs/floor/pow/modulo."""
    o = load_tables(spark, sf_dir)["orders"]
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.datediff(F.lit("1998-01-01").cast("date"), F.col("o_orderdate")).alias(
            "days_to_1998"
        ),
        F.abs(F.col("o_totalprice") - 200000.0).alias("price_dist"),
        F.floor("o_totalprice").alias("price_floor"),
        F.pow(F.lit(2.0), (F.col("o_orderkey") % 10).cast("double")).alias("pow2"),
    ).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# Q28 string scalar functions
# ---------------------------------------------------------------------------
@query(
    "q28_string_scalars",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           lower(p_brand) AS brand_lower,
           substring(p_name, 1, 5) AS name_prefix,
           CAST(length(p_name) AS INT) AS name_len,
           trim(concat(p_brand, ' ', p_name)) AS brand_name,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
           replace(p_name, ' ', '_') AS name_snake,
           (p_name LIKE '%wid%') AS is_widget
    FROM part ORDER BY p_partkey
    """,
)
def q28(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The string scalar library (upper/lower/substring/length/trim/
    concat/lpad/replace/LIKE)."""
    p = load_tables(spark, sf_dir)["part"]
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.trim(F.concat("p_brand", F.lit(" "), "p_name")).alias("brand_name"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.col("p_name").like("%wid%").alias("is_widget"),
    ).orderBy("p_partkey")


# ---------------------------------------------------------------------------
# Q29 map construction + JSON path extraction
# ---------------------------------------------------------------------------
@query(
    "q29_map_json_scalars",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num
    FROM events ORDER BY event_id
    """,
)
def q29(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction over the events.props payload (the HNAP
    envelope-navigation shape, mb8600.py:351)."""
    ev = load_tables(spark, sf_dir)["events"]
    # Build a map and extract through it so MapType construction/access is
    # exercised too (value identical to direct extraction).
    m = F.create_map(F.lit("k"), F.get_json_object("props", "$.k"))
    return ev.select(
        "event_id",
        F.element_at(m, "k").alias("k_str"),
        F.element_at(m, "k").try_cast("long").alias("k_num"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Q30 uptime parse end-to-end (B6+B7)
# ---------------------------------------------------------------------------
@query(
    "q30_uptime_parse",
    # plain (non-f) template: {{2}} must survive until .format(docsis=...)
    oracle="""
    SELECT modem_name, timestamp, uptime_raw,
        COALESCE(TRY_CAST(regexp_extract(uptime_raw, '(?:(\\d+)\\s*days\\s*)?(?:(\\d{{2}})h:)?(?:(\\d{{2}})m:)?(?:(\\d{{2}})s)?', 1) AS BIGINT), 0) * 86400
      + COALESCE(TRY_CAST(regexp_extract(uptime_raw, '(?:(\\d+)\\s*days\\s*)?(?:(\\d{{2}})h:)?(?:(\\d{{2}})m:)?(?:(\\d{{2}})s)?', 2) AS BIGINT), 0) * 3600
      + COALESCE(TRY_CAST(regexp_extract(uptime_raw, '(?:(\\d+)\\s*days\\s*)?(?:(\\d{{2}})h:)?(?:(\\d{{2}})m:)?(?:(\\d{{2}})s)?', 3) AS BIGINT), 0) * 60
      + COALESCE(TRY_CAST(regexp_extract(uptime_raw, '(?:(\\d+)\\s*days\\s*)?(?:(\\d{{2}})h:)?(?:(\\d{{2}})m:)?(?:(\\d{{2}})s)?', 4) AS BIGINT), 0)
      AS uptime_seconds
    FROM read_parquet('{docsis}')
    ORDER BY modem_name, timestamp
    """,
)
def q30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full uptime regex parse with coalesce-0 for missing groups —
    fixing the reference's int(None) crash (mb8600.py:404-410)."""
    d = load_tables(spark, sf_dir)["docsis"]
    return d.select(
        "modem_name",
        "timestamp",
        "uptime_raw",
        parse_uptime(F.col("uptime_raw")).alias("uptime_seconds"),
    ).orderBy("modem_name", "timestamp")


# ---------------------------------------------------------------------------
# Q31 packed-string parse round trip (§1.5 + B1-B8 end-to-end)
# ---------------------------------------------------------------------------
@query(
    "q31_parse_roundtrip",
    oracle=f"""
    WITH recs AS (
      SELECT modem_name, timestamp, unnest(string_split(downstream_raw, '|+|')) AS rec
      FROM {DOCSIS}
    ), f AS (
      SELECT modem_name, timestamp, string_split(rec, '^') AS p FROM recs
    )
    SELECT modem_name, timestamp,
           CAST(p[4] AS INT) AS channel_id,
           CAST(CAST(CAST(p[5] AS DOUBLE) * 1000000.0 AS FLOAT) AS DOUBLE) AS frequency,
           p[3] AS modulation,
           CAST(CAST(CAST(p[6] AS DOUBLE) AS FLOAT) AS DOUBLE) AS power,
           CAST(CAST(CASE WHEN p[3] = 'OFDM PLC' AND CAST(p[7] AS DOUBLE) < 20.0
                          THEN CAST(p[7] AS DOUBLE) * 2.5
                          ELSE CAST(p[7] AS DOUBLE) END AS FLOAT) AS DOUBLE) AS snr,
           CAST(p[8] AS BIGINT) AS corrected_errors,
           CAST(p[9] AS BIGINT) AS uncorrected_errors
    FROM f
    ORDER BY modem_name, timestamp, channel_id
    """,
)
def q31(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The entire exporter downstream parse path (mb8600.py:369-386) as one
    declarative expression: split -> destructure -> cast -> unit-convert ->
    SNR-correct -> struct -> explode. The equals-stored-arrays assertion
    lives in tests/test_parse.py."""
    d = load_tables(spark, sf_dir)["docsis"]
    # flat pipeline shape: explode the codegen-able record split, then
    # materialize the field array in its own projection, then project
    # typed fields. (Exploding parse_downstream's computed array-of-
    # structs re-evaluates the non-codegen transform per element.)
    recs = d.select(
        "modem_name",
        "timestamp",
        F.explode(F.split("downstream_raw", parse.RECORD_SEP)).alias("rec"),
    )
    fields = recs.select(
        "modem_name", "timestamp", F.split("rec", parse.FIELD_SEP).alias("p")
    )
    ch = parse._downstream_struct(F.col("p"))
    return fields.select(
        "modem_name",
        "timestamp",
        ch["channel_id"].alias("channel_id"),
        ch["frequency"].cast("double").alias("frequency"),
        ch["modulation"].alias("modulation"),
        ch["power"].cast("double").alias("power"),
        ch["snr"].cast("double").alias("snr"),
        ch["corrected_errors"].alias("corrected_errors"),
        ch["uncorrected_errors"].alias("uncorrected_errors"),
    ).orderBy("modem_name", "timestamp", "channel_id")


# ---------------------------------------------------------------------------
# Q32 partition-prune-shaped scan (E1)
# ---------------------------------------------------------------------------
@query(
    "q32_date_prune",
    oracle=f"""
    SELECT modem_name, COUNT(*) AS n
    FROM {DOCSIS}
    WHERE CAST(timestamp AS DATE) = DATE '2025-06-02'
    GROUP BY modem_name ORDER BY modem_name
    """,
)
def q32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-predicate scan — the shape ClickHouse's PARTITION BY
    toDate(timestamp) serves (tables.sql:30). On the ingest-written
    ManifestTable the same day range is served by per-file min/max
    skipping (``ManifestTable.scan``); Spark's own directory partition
    pruning is pinned in tests/test_plans.py."""
    d = load_tables(spark, sf_dir)["docsis"]
    return (
        d.filter(F.to_date("timestamp") == F.lit("2025-06-02").cast("date"))
        .groupBy("modem_name")
        .agg(F.count("*").alias("n"))
        .orderBy("modem_name")
    )
