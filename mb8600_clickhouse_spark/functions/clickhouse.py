"""ClickHouse dialect bridge: the scalar vocabulary a migrating
ClickHouse SQL user expects, registered as Catalyst-inlined SQL
functions (zero runtime cost — same mechanism as
``sql_functions.py``).

A user of the reference deployment queries the ``docsis`` table with
ClickHouse SQL (SURVEY §2.E derives that surface from ``tables.sql``).
The common scalar calls run verbatim: ``chsql.ch_sql`` registers, in
the statement's session, the scalars the statement names before Spark
analyses it; a bare ``spark.sql`` user calls
``register_clickhouse_functions(spark)`` once for the whole vocabulary.
The non-scalar dialect forms that CANNOT be a scalar alias are
documented in ``DIALECT_NOTES`` with their Spark SQL spelling.

Only functions whose ClickHouse semantics map EXACTLY onto a Spark
expression are aliased — a silently-different alias would be worse
than a missing one. Notable care:

- ``toDayOfWeek``: ClickHouse numbers Monday=1..Sunday=7; Spark's
  ``dayofweek`` numbers Sunday=1 — the alias re-maps.
- ``toUnixTimestamp`` returns BIGINT seconds (CH UInt32): spelled with
  ``unix_seconds`` on the session's UTC timeline.
- ``modulo`` keeps the dividend's sign (CH follows C) — Spark's ``%``
  matches, ``pmod`` would not.
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

from .sql_functions import _register

# name -> (signature, return type, body)
CLICKHOUSE_SCALARS: dict[str, tuple[str, str, str]] = {
    # date/time
    "toStartOfHour": ("(ts TIMESTAMP)", "TIMESTAMP", "date_trunc('hour', ts)"),
    "toStartOfMinute": ("(ts TIMESTAMP)", "TIMESTAMP", "date_trunc('minute', ts)"),
    "toStartOfDay": ("(ts TIMESTAMP)", "TIMESTAMP", "date_trunc('day', ts)"),
    "toStartOfMonth": ("(ts TIMESTAMP)", "DATE", "cast(date_trunc('month', ts) AS DATE)"),
    "toStartOfYear": ("(ts TIMESTAMP)", "DATE", "cast(date_trunc('year', ts) AS DATE)"),
    "toDate": ("(ts TIMESTAMP)", "DATE", "cast(ts AS DATE)"),
    "toYear": ("(ts TIMESTAMP)", "INT", "year(ts)"),
    "toMonth": ("(ts TIMESTAMP)", "INT", "month(ts)"),
    "toHour": ("(ts TIMESTAMP)", "INT", "hour(ts)"),
    "toMinute": ("(ts TIMESTAMP)", "INT", "minute(ts)"),
    "toSecond": ("(ts TIMESTAMP)", "INT", "second(ts)"),
    "toDayOfMonth": ("(ts TIMESTAMP)", "INT", "day(ts)"),
    # CH: Monday=1..Sunday=7; Spark dayofweek: Sunday=1..Saturday=7
    "toDayOfWeek": ("(ts TIMESTAMP)", "INT", "((dayofweek(ts) + 5) % 7) + 1"),
    "toYYYYMM": ("(ts TIMESTAMP)", "INT", "year(ts) * 100 + month(ts)"),
    "toYYYYMMDD": (
        "(ts TIMESTAMP)",
        "INT",
        "year(ts) * 10000 + month(ts) * 100 + day(ts)",
    ),
    "toQuarter": ("(ts TIMESTAMP)", "INT", "quarter(ts)"),
    "toDayOfYear": ("(ts TIMESTAMP)", "INT", "dayofyear(ts)"),
    "toStartOfQuarter": (
        "(ts TIMESTAMP)",
        "DATE",
        "cast(date_trunc('quarter', ts) AS DATE)",
    ),
    # Spark's 'week' truncation is Monday-based — exactly CH's toMonday
    "toMonday": ("(ts TIMESTAMP)", "DATE", "cast(date_trunc('week', ts) AS DATE)"),
    # pmod (not div/%): CH DateTime is unsigned but DateTime64 reaches
    # pre-1970; % / div round toward zero there, pmod floors for any sign
    "toStartOfFifteenMinutes": (
        "(ts TIMESTAMP)",
        "TIMESTAMP",
        "timestamp_seconds(unix_seconds(ts) - pmod(unix_seconds(ts), 900))",
    ),
    "toRelativeHourNum": ("(ts TIMESTAMP)", "BIGINT", "unix_seconds(ts) div 3600"),
    "toUnixTimestamp": ("(ts TIMESTAMP)", "BIGINT", "unix_seconds(ts)"),
    "fromUnixTimestamp": ("(s BIGINT)", "TIMESTAMP", "timestamp_seconds(s)"),
    # CH's string form ('2024-01-01 00:00:00' or '2024-01-01'); the
    # epoch-seconds overload is fromUnixTimestamp here — an INT arg
    # would coerce through STRING and fail the cast loudly under ANSI,
    # never a silent wrong timestamp. The timezone 2nd-arg form errors
    # on arity (not bridged; session zone is UTC by contract).
    "toDateTime": ("(s STRING)", "TIMESTAMP", "cast(s AS TIMESTAMP)"),
    "toDateTimeOrNull": (
        "(s STRING)", "TIMESTAMP", "try_cast(s AS TIMESTAMP)",
    ),
    "addHours": ("(ts TIMESTAMP, n INT)", "TIMESTAMP", "ts + make_interval(0,0,0,0,n,0,0)"),
    "addDays": ("(ts TIMESTAMP, n INT)", "TIMESTAMP", "ts + make_interval(0,0,0,n,0,0,0)"),
    "subtractDays": ("(ts TIMESTAMP, n INT)", "TIMESTAMP", "ts - make_interval(0,0,0,n,0,0,0)"),
    "subtractHours": (
        "(ts TIMESTAMP, n INT)",
        "TIMESTAMP",
        "ts - make_interval(0,0,0,0,n,0,0)",
    ),
    "subtractMinutes": (
        "(ts TIMESTAMP, n INT)",
        "TIMESTAMP",
        "ts - make_interval(0,0,0,0,0,n,0)",
    ),
    "subtractSeconds": (
        "(ts TIMESTAMP, n INT)",
        "TIMESTAMP",
        "ts - make_interval(0,0,0,0,0,0,n)",
    ),
    # calendar-anchored arithmetic: Spark's add_months clamps to the
    # month end exactly as ClickHouse does (Jan 31 + 1 month = Feb 28/29)
    "addMonths": (
        "(ts TIMESTAMP, n INT)",
        "TIMESTAMP",
        "CAST(add_months(ts, n) AS TIMESTAMP) + (ts - CAST(CAST(ts AS DATE) AS TIMESTAMP))",
    ),
    "addYears": (
        "(ts TIMESTAMP, n INT)",
        "TIMESTAMP",
        "CAST(add_months(ts, 12 * n) AS TIMESTAMP) + (ts - CAST(CAST(ts AS DATE) AS TIMESTAMP))",
    ),
    "toLastDayOfMonth": (
        "(ts TIMESTAMP)",
        "DATE",
        "last_day(ts)",
    ),
    # CH toStartOfWeek(ts) default mode 0 = SUNDAY-based week start;
    # Spark date_trunc('week') is Monday-based (= toMonday) — spell
    # the Sunday anchor explicitly
    "toStartOfWeek": (
        "(ts TIMESTAMP)",
        "DATE",
        "date_sub(CAST(ts AS DATE), (dayofweek(ts) - 1))",
    ),
    "dateDiff_seconds": (
        "(a TIMESTAMP, b TIMESTAMP)",
        "BIGINT",
        "unix_seconds(b) - unix_seconds(a)",
    ),
    # conversions (the *OrNull family is the reference's own
    # degrade-to-NULL contract, SURVEY §2.B3)
    "toInt64OrNull": ("(s STRING)", "BIGINT", "try_cast(s AS BIGINT)"),
    "toFloat64OrNull": ("(s STRING)", "DOUBLE", "try_cast(s AS DOUBLE)"),
    # full -OrNull/-OrZero width/sign family (round 11 probe:
    # toUInt32OrNull previously resolved to nothing); widths follow
    # the toInt*/toUInt* mappings above, CH's 0-default for OrZero
    "toInt32OrNull": ("(s STRING)", "INT", "try_cast(s AS INT)"),
    "toInt16OrNull": ("(s STRING)", "SMALLINT", "try_cast(s AS SMALLINT)"),
    "toInt8OrNull": ("(s STRING)", "TINYINT", "try_cast(s AS TINYINT)"),
    # the UNSIGNED -OrNull forms carry CH's width/sign domain contract
    # (NULL on out-of-domain is the whole point): a bare try_cast to
    # the next-wider signed type accepted 256..32767 and negatives
    # where ClickHouse returns NULL (ADVICE r11) — range-gate each
    # width explicitly
    "toUInt8OrNull": (
        "(s STRING)",
        "SMALLINT",
        "CASE WHEN try_cast(s AS SMALLINT) BETWEEN 0 AND 255 "
        "THEN try_cast(s AS SMALLINT) END",
    ),
    "toUInt16OrNull": (
        "(s STRING)",
        "INT",
        "CASE WHEN try_cast(s AS INT) BETWEEN 0 AND 65535 "
        "THEN try_cast(s AS INT) END",
    ),
    "toUInt32OrNull": (
        "(s STRING)",
        "BIGINT",
        "CASE WHEN try_cast(s AS BIGINT) BETWEEN 0 AND 4294967295 "
        "THEN try_cast(s AS BIGINT) END",
    ),
    # CH UInt64 reaches 2^64 - 1 but BIGINT tops out at 2^63 - 1: the
    # upper half [2^63, 2^64) is IN ClickHouse's domain and cannot be
    # represented here — raise loudly instead of returning a silently
    # divergent NULL (DIALECT_NOTES: type names)
    "toUInt64OrNull": (
        "(s STRING)",
        "BIGINT",
        "CASE WHEN try_cast(s AS DECIMAL(20,0)) "
        "BETWEEN 9223372036854775808 AND 18446744073709551615 "
        "THEN CAST(raise_error(concat('toUInt64OrNull: ', s, "
        "' is in ClickHouse''s UInt64 upper half [2^63, 2^64) — "
        "not representable as BIGINT')) AS BIGINT) "
        "WHEN try_cast(s AS BIGINT) >= 0 "
        "THEN try_cast(s AS BIGINT) END",
    ),
    "toFloat32OrNull": ("(s STRING)", "FLOAT", "try_cast(s AS FLOAT)"),
    "toInt64OrZero": (
        "(s STRING)", "BIGINT", "coalesce(try_cast(s AS BIGINT), 0L)"
    ),
    "toInt32OrZero": (
        "(s STRING)", "INT", "coalesce(try_cast(s AS INT), 0)"
    ),
    # OrZero twins of the gated unsigned forms (same domains, CH's
    # 0-default instead of NULL)
    "toUInt32OrZero": (
        "(s STRING)",
        "BIGINT",
        "coalesce(CASE WHEN try_cast(s AS BIGINT) "
        "BETWEEN 0 AND 4294967295 THEN try_cast(s AS BIGINT) END, 0L)",
    ),
    "toUInt64OrZero": (
        "(s STRING)",
        "BIGINT",
        "coalesce(CASE WHEN try_cast(s AS DECIMAL(20,0)) "
        "BETWEEN 9223372036854775808 AND 18446744073709551615 "
        "THEN CAST(raise_error(concat('toUInt64OrZero: ', s, "
        "' is in ClickHouse''s UInt64 upper half [2^63, 2^64) — "
        "not representable as BIGINT')) AS BIGINT) "
        "WHEN try_cast(s AS BIGINT) >= 0 "
        "THEN try_cast(s AS BIGINT) END, 0L)",
    ),
    "toFloat64OrZero": (
        "(s STRING)", "DOUBLE", "coalesce(try_cast(s AS DOUBLE), 0.0D)"
    ),
    "toInt64": ("(s STRING)", "BIGINT", "cast(s AS BIGINT)"),
    "toFloat64": ("(s STRING)", "DOUBLE", "cast(s AS DOUBLE)"),
    "toInt32": ("(s STRING)", "INT", "cast(s AS INT)"),
    "toInt16": ("(s STRING)", "SMALLINT", "cast(s AS SMALLINT)"),
    "toInt8": ("(s STRING)", "TINYINT", "cast(s AS TINYINT)"),
    "toUInt8": ("(s STRING)", "SMALLINT", "cast(s AS SMALLINT)"),
    "toUInt16": ("(s STRING)", "INT", "cast(s AS INT)"),
    "toUInt32": ("(s STRING)", "BIGINT", "cast(s AS BIGINT)"),
    # CH UInt64 reaches 2^64 - 1; values past 2^63 - 1 raise the ANSI
    # cast error here instead of wrapping (DIALECT_NOTES: type names)
    "toUInt64": ("(s STRING)", "BIGINT", "cast(s AS BIGINT)"),
    "toFloat32": ("(s STRING)", "FLOAT", "cast(s AS FLOAT)"),
    "toString": ("(x STRING)", "STRING", "x"),
    # arithmetic / conditional
    "intDiv": ("(a BIGINT, b BIGINT)", "BIGINT", "a div b"),
    "modulo": ("(a BIGINT, b BIGINT)", "BIGINT", "a % b"),
    # ifNull is NOT aliased: Spark's builtin `ifnull` already has the
    # exact ClickHouse semantics (and builtins cannot be replaced by
    # SQL UDFs under case-insensitive resolution)
    "assumeNotNull": ("(a STRING)", "STRING", "a"),
    # strings
    # CH requires the separator to be EXACTLY one character and raises
    # otherwise — mirror the loud error instead of silently splitting
    # on a multi-char string (found by round-9 edge probing)
    "splitByChar": (
        "(sep STRING, s STRING)",
        "ARRAY<STRING>",
        r"CASE WHEN length(sep) <> 1 THEN "
        r"CAST(raise_error(concat('splitByChar: separator must be "
        r"exactly one character, got ''', sep, '''')) AS ARRAY<STRING>) "
        r"ELSE split(s, concat('\\Q', sep, '\\E')) END",
    ),
    "arrayStringConcat": (
        "(arr ARRAY<STRING>, sep STRING)",
        "STRING",
        "array_join(arr, sep)",
    ),
    # empty separator = split into single characters, NO trailing empty
    # element (CH contract; Spark's split('abc', '') appends one) — the
    # slice pins exactly length(s) elements, '' input -> [] both engines
    "splitByString": (
        "(sep STRING, s STRING)",
        "ARRAY<STRING>",
        r"CASE WHEN sep = '' THEN slice(split(s, ''), 1, length(s)) "
        r"ELSE split(s, concat('\\Q', sep, '\\E')) END",
    ),
    "splitByRegexp": (
        "(re STRING, s STRING)",
        "ARRAY<STRING>",
        "split(s, re)",  # RE2-subset patterns only (the q131 rule)
    ),
    "splitByWhitespace": (
        "(s STRING)",
        "ARRAY<STRING>",
        r"filter(split(s, '\\s+'), x -> x <> '')",
    ),
    "base64Encode": ("(s STRING)", "STRING", "base64(s)"),
    "base64Decode": (
        "(s STRING)",
        "STRING",
        "CAST(unbase64(s) AS STRING)",
    ),
    "lowerUTF8": ("(s STRING)", "STRING", "lower(s)"),
    "upperUTF8": ("(s STRING)", "STRING", "upper(s)"),
    "lengthUTF8": ("(s STRING)", "INT", "char_length(s)"),
    # arrays
    "has": ("(arr ARRAY<STRING>, x STRING)", "BOOLEAN", "array_contains(arr, x)"),
    "arraySum": (
        "(arr ARRAY<DOUBLE>)",
        "DOUBLE",
        "aggregate(arr, 0D, (acc, x) -> acc + coalesce(x, 0D))",
    ),
    # arrayAvg skips NULL elements in BOTH numerator and denominator
    # (ClickHouse applies avg-aggregation semantics over the array);
    # an empty / all-NULL array yields NULL here — the one edge where
    # ClickHouse's Float64 result is 0/NaN-ish and no Spark spelling is
    # provably identical, so that edge is documented, not silently
    # diverged (ADVICE r04)
    "arrayAvg": (
        "(arr ARRAY<DOUBLE>)",
        "DOUBLE",
        "aggregate(filter(arr, x -> x IS NOT NULL), 0D, (acc, x) -> acc + x)"
        " / nullif(size(filter(arr, x -> x IS NOT NULL)), 0)",
    ),
    "arrayMax": ("(arr ARRAY<DOUBLE>)", "DOUBLE", "array_max(arr)"),
    "arrayMin": ("(arr ARRAY<DOUBLE>)", "DOUBLE", "array_min(arr)"),
    # NULL elements fold as the multiplicative identity (the arraySum
    # convention above, applied to the product)
    "arrayProduct": (
        "(arr ARRAY<DOUBLE>)",
        "DOUBLE",
        "aggregate(arr, 1D, (acc, x) -> acc * coalesce(x, 1D))",
    ),
    "arrayDistinct": ("(arr ARRAY<STRING>)", "ARRAY<STRING>", "array_distinct(arr)"),
    # round-6 additions (gap probe against realistic dashboard SQL)
    "toStartOfFiveMinute": (
        "(ts TIMESTAMP)",
        "TIMESTAMP",
        "timestamp_seconds(unix_seconds(ts) - pmod(unix_seconds(ts), 300))",
    ),
    "toStartOfTenMinutes": (
        "(ts TIMESTAMP)",
        "TIMESTAMP",
        "timestamp_seconds(unix_seconds(ts) - pmod(unix_seconds(ts), 600))",
    ),
    "today": ("()", "DATE", "current_date()"),
    "yesterday": ("()", "DATE", "date_sub(current_date(), 1)"),
    # Spark's weekofyear IS the ISO week number
    "toISOWeek": ("(ts TIMESTAMP)", "INT", "weekofyear(ts)"),
    # exact powers as 64-bit integers (shift for 2^n; 10^n is exact in
    # double through 10^15 and CH's own UInt64 caps at 10^19 — the
    # bigint cast raises under ANSI past the representable range)
    "intExp2": ("(n INT)", "BIGINT", "shiftleft(cast(1 AS BIGINT), n)"),
    "intExp10": (
        "(n INT)",
        "BIGINT",
        "cast(round(power(10, n)) AS BIGINT)",
    ),
    "addMinutes": (
        "(ts TIMESTAMP, n INT)",
        "TIMESTAMP",
        "ts + make_interval(0, 0, 0, 0, 0, n, 0)",
    ),
    "addSeconds": (
        "(ts TIMESTAMP, n INT)",
        "TIMESTAMP",
        "ts + make_interval(0, 0, 0, 0, 0, 0, n)",
    ),
    # CH returns UInt8 0/1; NULL propagates (Nullable) in both engines
    "empty": ("(s STRING)", "INT", "cast(length(s) = 0 AS INT)"),
    "notEmpty": ("(s STRING)", "INT", "cast(length(s) > 0 AS INT)"),
    "trimBoth": ("(s STRING)", "STRING", "trim(s)"),
    "trimLeft": ("(s STRING)", "STRING", "ltrim(s)"),
    "trimRight": ("(s STRING)", "STRING", "rtrim(s)"),
    "leftPad": ("(s STRING, n INT, p STRING)", "STRING", "lpad(s, n, p)"),
    "rightPad": ("(s STRING, n INT, p STRING)", "STRING", "rpad(s, n, p)"),
    "toFloat64OrZero": (
        "(s STRING)",
        "DOUBLE",
        "coalesce(try_cast(s AS DOUBLE), 0D)",
    ),
    "toInt64OrZero": (
        "(s STRING)",
        "BIGINT",
        "coalesce(try_cast(s AS BIGINT), 0L)",
    ),
    # CH roundBankers = half-to-even; Spark round() is half-up, bround
    # is the exact match
    "roundBankers": ("(v DOUBLE)", "DOUBLE", "bround(v)"),
    # ---- round-10 gap probe (dashboard scalar batch) ----
    "exp2": ("(x DOUBLE)", "DOUBLE", "power(2D, x)"),
    # x - x is 0 iff x is finite (NaN/Inf both yield NaN); NULL
    # propagates. CH returns UInt8 0/1 — the empty()/match() INT
    # convention
    "isFinite": ("(x DOUBLE)", "INT", "cast(x - x = 0D AS INT)"),
    "isInfinite": (
        "(x DOUBLE)",
        "INT",
        "cast(abs(x) = cast('Infinity' AS DOUBLE) AS INT)",
    ),
    # monthName is NOT registered here: Spark 4 ships a builtin
    # `monthname` (3-letter abbreviation) that a SQL UDF cannot
    # replace — the chsql template rewrites it to date_format MMMM
    # (CH returns the full English name) before resolution
    # both: a random version-4 UUID string per row, nondeterministic
    "generateUUIDv4": ("()", "STRING", "uuid()"),
    # round-12 wave 3: finite-guard conditional (CH returns y for
    # NaN/±Inf, x otherwise; NULL x propagates as in CH)
    "ifNotFinite": (
        "(x DOUBLE, y DOUBLE)",
        "DOUBLE",
        "CASE WHEN isnan(x) OR abs(x) = cast('Infinity' AS DOUBLE) "
        "THEN y ELSE x END",
    ),
    # Spark's reverse is codepoint-aware (UTF8String.reverse) — the
    # UTF8 variant is the same function
    "reverseUTF8": ("(s STRING)", "STRING", "reverse(s)"),
    # CH: < 1 -> 0, else round DOWN to the nearest power of two.
    # floor(log2(n)) is exact at powers of two (log2 of 2^k is the
    # representable double k); the 2^62 guard keeps shiftleft in
    # BIGINT domain
    "roundToExp2": (
        "(n BIGINT)",
        "BIGINT",
        "CASE WHEN n < 1 THEN 0 ELSE shiftleft(cast(1 AS BIGINT), "
        "least(cast(floor(log2(cast(n AS DOUBLE))) AS INT), 62)) END",
    ),  # exponent clamped at 62: n near 2^63-1 rounds to 2^63 as a
    # double and log2 would hit 63 (shiftleft into the sign bit)
    # introspection — the session's single-engine answers
    "timeZone": ("()", "STRING", "current_timezone()"),
    "serverTimeZone": ("()", "STRING", "current_timezone()"),
    "currentDatabase": ("()", "STRING", "current_database()"),
    "currentUser": ("()", "STRING", "current_user()"),
    # randCanonical: uniform [0, 1) double — exactly Spark's rand()
    "randCanonical": ("()", "DOUBLE", "rand()"),
    "randNormal": (
        "(mean DOUBLE, stddev DOUBLE)",
        "DOUBLE",
        "mean + stddev * randn()",
    ),
    # round-12 wave 5b: date constructors / epoch codecs
    "makeDate": (
        "(y INT, m INT, d INT)",
        "DATE",
        "make_date(y, m, d)",
    ),
    "makeDateTime": (
        "(y INT, mo INT, d INT, h INT, mi INT, s INT)",
        "TIMESTAMP",
        "make_timestamp(y, mo, d, h, mi, s)",
    ),
    # CH Date32/DateTime64 are the WIDER-range types; Spark DATE/
    # TIMESTAMP already cover their span
    "toDate32": ("(s STRING)", "DATE", "cast(s AS DATE)"),
    "fromUnixTimestamp64Milli": (
        "(x BIGINT)",
        "TIMESTAMP",
        "timestamp_millis(x)",
    ),
    "fromUnixTimestamp64Micro": (
        "(x BIGINT)",
        "TIMESTAMP",
        "timestamp_micros(x)",
    ),
    "toUnixTimestamp64Milli": (
        "(ts TIMESTAMP)",
        "BIGINT",
        "unix_millis(ts)",
    ),
    "toUnixTimestamp64Micro": (
        "(ts TIMESTAMP)",
        "BIGINT",
        "unix_micros(ts)",
    ),
    # dateName: the textual part name (CH returns String for every
    # part; weekday/month are English names, the rest render numbers)
    "dateName": (
        "(part STRING, ts TIMESTAMP)",
        "STRING",
        "CASE lower(part) "
        "WHEN 'year' THEN cast(year(ts) AS STRING) "
        "WHEN 'quarter' THEN cast(quarter(ts) AS STRING) "
        "WHEN 'month' THEN date_format(ts, 'MMMM') "
        "WHEN 'week' THEN cast(weekofyear(ts) AS STRING) "
        "WHEN 'dayofyear' THEN cast(dayofyear(ts) AS STRING) "
        "WHEN 'day' THEN cast(day(ts) AS STRING) "
        "WHEN 'weekday' THEN date_format(ts, 'EEEE') "
        "WHEN 'hour' THEN cast(hour(ts) AS STRING) "
        "WHEN 'minute' THEN cast(minute(ts) AS STRING) "
        "WHEN 'second' THEN cast(second(ts) AS STRING) "
        "ELSE raise_error(concat('dateName: unknown part ', part)) "
        "END",
    ),
    "isZeroOrNull": (
        "(x DOUBLE)",
        "INT",
        "cast(x = 0D OR x IS NULL AS INT)",
    ),
    # string distance / case (Spark's levenshtein IS CH's
    # levenshteinDistance; editDistance is CH's alias)
    "levenshteinDistance": (
        "(a STRING, b STRING)", "INT", "levenshtein(a, b)"
    ),
    "editDistance": ("(a STRING, b STRING)", "INT", "levenshtein(a, b)"),
    "initcapUTF8": ("(s STRING)", "STRING", "initcap(s)"),
    # Spark strings are decoded at read time — a String VALUE is
    # always valid UTF-8, so the byte-repair pair is identity/1 (CH
    # operates on raw bytes; the divergence can only appear on binary
    # columns, which these functions do not accept here)
    "toValidUTF8": ("(s STRING)", "STRING", "s"),
    "isValidUTF8": ("(s STRING)", "INT", "CASE WHEN s IS NULL THEN NULL ELSE 1 END"),
    "formatReadableQuantity": (
        "(x DOUBLE)",
        "STRING",
        "CASE WHEN abs(x) >= 1e12 THEN concat(format_number(x / 1e12, 2), ' trillion') "
        "WHEN abs(x) >= 1e9 THEN concat(format_number(x / 1e9, 2), ' billion') "
        "WHEN abs(x) >= 1e6 THEN concat(format_number(x / 1e6, 2), ' million') "
        "WHEN abs(x) >= 1e3 THEN concat(format_number(x / 1e3, 2), ' thousand') "
        "ELSE format_number(x, 2) END",
    ),
    # basename: the path component after the LAST slash or backslash
    "basename": (
        "(p STRING)",
        "STRING",
        r"regexp_extract(p, '[^/\\\\]*$', 0)",
    ),
    "netloc": (
        "(url STRING)",
        "STRING",
        # scheme://[user[:pass]@]host[:port] -> the authority part
        r"regexp_extract(url, '^(?:[a-zA-Z][a-zA-Z0-9+.-]*:)?//([^/?#]*)', 1)",
    ),
    # CH port(url) -> UInt16, 0 when absent
    "port": (
        "(url STRING)",
        "INT",
        r"coalesce(try_cast(regexp_extract(url, "
        r"'^(?:[a-zA-Z][a-zA-Z0-9+.-]*:)?//[^/?#]*:([0-9]+)', 1) "
        r"AS INT), 0)",
    ),
    "encodeXMLComponent": (
        "(s STRING)",
        "STRING",
        "replace(replace(replace(replace(replace(s, "
        "'&', '&amp;'), '<', '&lt;'), '>', '&gt;'), "
        "'\"', '&quot;'), \"'\", '&#39;')",
    ),
    # the operators/text.HTML_ENTITIES table (the entities that
    # survive real crawl text; &amp; decoded LAST so &amp;lt; does not
    # re-expose). Numeric character references pass through — no SQL
    # spelling converts a captured code point to a character
    "decodeHTMLComponent": (
        "(s STRING)",
        "STRING",
        "replace(replace(replace(replace(replace(replace(s, "
        "'&nbsp;', ' '), "
        "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), "
        "'&#39;', \"'\"), '&amp;', '&')",
    ),
    **{
        f"emptyArray{ch}": ("()", f"ARRAY<{sp}>", f"array()")
        for ch, sp in (
            ("Int8", "TINYINT"), ("Int16", "SMALLINT"),
            ("Int32", "INT"), ("Int64", "BIGINT"),
            ("UInt8", "SMALLINT"), ("UInt16", "INT"),
            ("UInt32", "BIGINT"), ("UInt64", "BIGINT"),
            ("Float32", "FLOAT"), ("Float64", "DOUBLE"),
            ("String", "STRING"), ("Date", "DATE"),
            ("DateTime", "TIMESTAMP"),
        )
    },
    # CH timeSlot: floor to the half-hour; timeSlots: every half-hour
    # slot covering [ts, ts + duration_seconds]
    "timeSlot": (
        "(ts TIMESTAMP)",
        "TIMESTAMP",
        "timestamp_seconds(unix_seconds(ts) - pmod(unix_seconds(ts), 1800))",
    ),
    "timeSlots": (
        "(ts TIMESTAMP, dur BIGINT)",
        "ARRAY<TIMESTAMP>",
        "transform(sequence(unix_seconds(ts) div 1800, "
        "(unix_seconds(ts) + dur) div 1800), "
        "i -> timestamp_seconds(i * 1800))",
    ),
    # CH formatReadableSize: binary units, two decimals ('1.46 KiB')
    "formatReadableSize": (
        "(v DOUBLE)",
        "STRING",
        "CASE WHEN abs(v) < 1024D THEN concat(format_string('%.2f', v), ' B') "
        "WHEN abs(v) < 1048576D THEN "
        "concat(format_string('%.2f', v / 1024D), ' KiB') "
        "WHEN abs(v) < 1073741824D THEN "
        "concat(format_string('%.2f', v / 1048576D), ' MiB') "
        "WHEN abs(v) < 1099511627776D THEN "
        "concat(format_string('%.2f', v / 1073741824D), ' GiB') "
        "WHEN abs(v) < 1125899906842624D THEN "
        "concat(format_string('%.2f', v / 1099511627776D), ' TiB') "
        "ELSE concat(format_string('%.2f', v / 1125899906842624D), ' PiB') "
        "END",
    ),
    "intDivOrZero": (
        "(a BIGINT, b BIGINT)",
        "BIGINT",
        "CASE WHEN b = 0 THEN 0L ELSE a div b END",
    ),
    # % in both engines truncates toward zero (sign of the dividend)
    "moduloOrZero": (
        "(a BIGINT, b BIGINT)",
        "BIGINT",
        "CASE WHEN b = 0 THEN 0L ELSE a % b END",
    ),
    # round-9 gap-probe additions
    "substringUTF8": (
        "(s STRING, o INT, n INT)",
        "STRING",
        "substring(s, o, n)",  # Spark substring is character-based
    ),
    "bitShiftLeft": ("(a BIGINT, n INT)", "BIGINT", "shiftleft(a, n)"),
    "bitShiftRight": ("(a BIGINT, n INT)", "BIGINT", "shiftright(a, n)"),
    "bitTest": (
        "(a BIGINT, i INT)",
        "INT",
        "cast(shiftright(a, i) & 1 AS INT)",
    ),
    # ------------------------------------------------------------------
    # array vocabulary (round 8) — index-lambda spellings that stay
    # empty-array-safe (no sequence(1, 0) descending-range trap)
    "arrayEnumerate": (
        "(arr ARRAY<STRING>)",
        "ARRAY<INT>",
        "transform(arr, (x, i) -> i + 1)",
    ),
    # CH semantics: 1-based occurrence index of each element among its
    # equals so far (the ARRAY JOIN dedup idiom). O(n^2) per array —
    # fine for the document/tag arrays this vocabulary serves
    "arrayEnumerateUniq": (
        "(arr ARRAY<STRING>)",
        "ARRAY<INT>",
        "transform(arr, (x, i) -> "
        "size(filter(slice(arr, 1, i + 1), e -> e <=> x)))",
    ),
    # consecutive-duplicate removal; element_at(arr, s.i) is 1-based =
    # the PREVIOUS element of the 0-based lambda index
    "arrayCompact": (
        "(arr ARRAY<STRING>)",
        "ARRAY<STRING>",
        "transform(filter(transform(arr, (x, i) -> "
        "named_struct('x', x, 'i', i)), s -> s.i = 0 OR "
        "NOT (s.x <=> element_at(arr, s.i))), s -> s.x)",
    ),
    # CH returns the distinct intersection in UNSPECIFIED order; the
    # alias sorts for determinism (documented upgrade, the vsort rule)
    "arrayIntersect": (
        "(a ARRAY<STRING>, b ARRAY<STRING>)",
        "ARRAY<STRING>",
        "sort_array(array_intersect(a, b))",
    ),
    "hasAll": (
        "(a ARRAY<STRING>, b ARRAY<STRING>)",
        "BOOLEAN",
        "forall(b, x -> array_contains(a, x))",
    ),
    "hasAny": (
        "(a ARRAY<STRING>, b ARRAY<STRING>)",
        "BOOLEAN",
        "exists(b, x -> array_contains(a, x))",
    ),
    "indexOf": (
        "(arr ARRAY<STRING>, x STRING)",
        "BIGINT",
        "array_position(arr, x)",  # 1-based, 0 when absent — CH-exact
    ),
    "countEqual": (
        "(arr ARRAY<STRING>, x STRING)",
        "INT",
        "size(filter(arr, e -> e <=> x))",
    ),
    "arrayReverse": ("(arr ARRAY<STRING>)", "ARRAY<STRING>", "reverse(arr)"),
    "arrayUniq": (
        "(arr ARRAY<STRING>)",
        "INT",
        "size(array_distinct(arr))",
    ),
    "arraySlice": (
        "(arr ARRAY<STRING>, o INT, n INT)",
        "ARRAY<STRING>",
        "slice(arr, o, n)",  # both engines: 1-based, negative offsets
    ),
    "arrayPushBack": (
        "(arr ARRAY<STRING>, x STRING)",
        "ARRAY<STRING>",
        "concat(arr, array(x))",
    ),
    "arrayPushFront": (
        "(arr ARRAY<STRING>, x STRING)",
        "ARRAY<STRING>",
        "concat(array(x), arr)",
    ),
    "arrayPopBack": (
        "(arr ARRAY<STRING>)",
        "ARRAY<STRING>",
        "slice(arr, 1, greatest(size(arr) - 1, 0))",
    ),
    "arrayPopFront": (
        "(arr ARRAY<STRING>)",
        "ARRAY<STRING>",
        "CASE WHEN size(arr) <= 1 THEN array() "
        "ELSE slice(arr, 2, size(arr) - 1) END",
    ),
    # Map-type vocabulary (round 8) — CH Map(K, V) functions on Spark
    # maps. Registry outputs never carry raw map cells (the q161
    # interchange rule: flatten to sorted parallel arrays first) —
    # these serve verbatim-SQL migrations mid-expression
    "mapKeys": (
        "(m MAP<STRING, STRING>)",
        "ARRAY<STRING>",
        "map_keys(m)",  # both engines: arbitrary order; sort to pin
    ),
    "mapValues": (
        "(m MAP<STRING, STRING>)",
        "ARRAY<STRING>",
        "map_values(m)",
    ),
    "mapContains": (
        "(m MAP<STRING, STRING>, k STRING)",
        "BOOLEAN",
        "map_contains_key(m, k)",
    ),
    "mapFromArrays": (
        "(k ARRAY<STRING>, v ARRAY<STRING>)",
        "MAP<STRING, STRING>",
        "map_from_arrays(k, v)",
    ),
    # ------------------------------------------------------------------
    # vector distances (round 8) — CH's array-distance vocabulary on
    # the ANN stack's left-fold contract (q34/q85: sequential
    # aggregate() folds are order-pinned, so both engines produce the
    # same IEEE sums; zip_with pairs elements, unequal lengths raise
    # via ANSI element_at in the fold)
    "dotProduct": (
        "(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>)",
        "DOUBLE",
        "aggregate(zip_with(a, b, (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (s, v) -> s + v)",
    ),
    "L1Distance": (
        "(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>)",
        "DOUBLE",
        "aggregate(zip_with(a, b, (x, y) -> abs(x - y)), "
        "CAST(0.0 AS DOUBLE), (s, v) -> s + v)",
    ),
    "L2Distance": (
        "(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>)",
        "DOUBLE",
        "sqrt(aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), "
        "CAST(0.0 AS DOUBLE), (s, v) -> s + v))",
    ),
    "L2SquaredDistance": (
        "(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>)",
        "DOUBLE",
        "aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), "
        "CAST(0.0 AS DOUBLE), (s, v) -> s + v)",
    ),
    "LinfDistance": (
        "(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>)",
        "DOUBLE",
        "array_max(zip_with(a, b, (x, y) -> abs(x - y)))",
    ),
    "cosineDistance": (
        "(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>)",
        "DOUBLE",
        "1.0 - aggregate(zip_with(a, b, (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (s, v) -> s + v) / "
        "nullif(sqrt(aggregate(a, CAST(0.0 AS DOUBLE), "
        "(s, x) -> s + x * x)) * sqrt(aggregate(b, "
        "CAST(0.0 AS DOUBLE), (s, x) -> s + x * x)), 0.0)",
    ),
    # exact |intersection| / |union| over distinct elements — CH's
    # set-similarity scalar (the n-gram Jaccard near-dup primitive,
    # operators/dedup.py's scalar sibling); one IEEE division of ints
    "arrayJaccardIndex": (
        "(a ARRAY<STRING>, b ARRAY<STRING>)",
        "DOUBLE",
        "CAST(size(array_intersect(a, b)) AS DOUBLE) / "
        "nullif(CAST(size(array_union(a, b)) AS DOUBLE), 0.0)",
    ),
    # contiguous-subsequence containment (CH hasSubstr): b appears in
    # a in order and adjacently; empty b -> true (CH contract)
    "hasSubstr": (
        "(a ARRAY<STRING>, b ARRAY<STRING>)",
        "BOOLEAN",
        "CASE WHEN size(b) = 0 THEN true WHEN size(a) < size(b) "
        "THEN false ELSE exists(sequence(1, size(a) - size(b) + 1), "
        "i -> forall(sequence(1, size(b)), j -> "
        "element_at(a, i + j - 1) <=> element_at(b, j))) END",
    ),
    "arrayRotateLeft": (
        "(a ARRAY<STRING>, n INT)",
        "ARRAY<STRING>",
        "CASE WHEN size(a) = 0 THEN a ELSE concat("
        "slice(a, CAST(pmod(n, size(a)) AS INT) + 1, "
        "size(a) - CAST(pmod(n, size(a)) AS INT)), "
        "slice(a, 1, CAST(pmod(n, size(a)) AS INT))) END",
    ),
    "arrayRotateRight": (
        "(a ARRAY<STRING>, n INT)",
        "ARRAY<STRING>",
        "CASE WHEN size(a) = 0 THEN a ELSE concat("
        "slice(a, size(a) - CAST(pmod(n, size(a)) AS INT) + 1, "
        "CAST(pmod(n, size(a)) AS INT)), "
        "slice(a, 1, size(a) - CAST(pmod(n, size(a)) AS INT))) END",
    ),
    # ------------------------------------------------------------------
    # string search (round 8)
    # NOTE: ClickHouse's position(haystack, needle) cannot be aliased —
    # Spark refuses to replace its builtin position(substr, str), whose
    # argument order is the REVERSE of CH's. DIALECT_NOTES warns; use
    # instr(s, needle) or positionCH below
    "positionCH": (
        "(s STRING, needle STRING)",
        "INT",
        "instr(s, needle)",  # 1-based, 0 absent — CH argument order
    ),
    "positionCaseInsensitive": (
        "(s STRING, needle STRING)",
        "INT",
        "instr(lower(s), lower(needle))",
    ),
    "multiSearchAny": (
        "(s STRING, needles ARRAY<STRING>)",
        "BOOLEAN",
        "exists(needles, p -> instr(s, p) > 0)",
    ),
    "multiSearchAnyCaseInsensitive": (
        "(s STRING, needles ARRAY<STRING>)",
        "BOOLEAN",
        "exists(needles, p -> instr(lower(s), lower(p)) > 0)",
    ),
    # non-overlapping occurrence count (CH advances past each match);
    # the replace identity is exactly that contract
    "countSubstrings": (
        "(s STRING, needle STRING)",
        "INT",
        "CASE WHEN length(needle) = 0 THEN 0 ELSE "
        "CAST((length(s) - length(replace(s, needle, ''))) / "
        "length(needle) AS INT) END",
    ),
    # CH extractAll returns capture group 1 when the pattern has one,
    # else the whole match; a SQL alias cannot inspect the pattern, so
    # the bridge fixes GROUP 0 (whole match) — documented divergence
    "extractAll": (
        "(s STRING, re STRING)",
        "ARRAY<STRING>",
        "regexp_extract_all(s, re, 0)",
    ),
    "ngrams": (
        "(s STRING, n INT)",
        "ARRAY<STRING>",
        "CASE WHEN char_length(s) < n THEN array() "
        "ELSE transform(sequence(1, char_length(s) - n + 1), "
        "i -> substring(s, i, n)) END",
    ),
    # CH tokens(): split on runs of non-alphanumeric ASCII, drop empties
    "tokens": (
        "(s STRING)",
        "ARRAY<STRING>",
        "filter(split(s, '[^a-zA-Z0-9]+'), x -> x <> '')",
    ),
    # startsWith/endsWith need no alias: Spark's startswith/endswith
    # are semantically identical and function names resolve
    # case-insensitively — verbatim CH runs natively (test-pinned)
    # string replace/search conveniences (round 8) — exact renames
    "replaceAll": (
        "(s STRING, a STRING, b STRING)",
        "STRING",
        "replace(s, a, b)",  # literal, all occurrences — CH-exact
    ),
    "replaceRegexpAll": (
        "(s STRING, re STRING, rep STRING)",
        "STRING",
        # Spark regexp_replace replaces ALL matches (Java replaceAll) —
        # exactly CH's contract; RE2-subset patterns only (q131 rule)
        "regexp_replace(s, re, rep)",
    ),
    "countMatches": (
        "(s STRING, re STRING)",
        "INT",
        "CAST(regexp_count(s, re) AS INT)",
    ),
    "concatWithSeparator": (
        "(sep STRING, a STRING, b STRING)",
        "STRING",
        "concat_ws(sep, a, b)",  # 2-value form; variadic needs native
    ),
    "substringIndex": (
        "(s STRING, delim STRING, n INT)",
        "STRING",
        "substring_index(s, delim, n)",
    ),
    # ------------------------------------------------------------------
    # geo (round 8)
    # pointInPolygon over SCALED-INTEGER coordinates (the caller snaps
    # degrees to 1e-4 BIGINT grid — the dsum4 device): even-odd ray
    # casting where every comparison is an EXACT integer cross-product
    # sign test (no division, no floats), so membership is
    # bit-deterministic in any engine. Boundary points follow the
    # even-odd crossing rule's half-open convention (documented — CH
    # leaves boundaries unspecified across its grid variants). The
    # ring closes itself (last vertex pairs with the first)
    "pointInPolygon": (
        "(px BIGINT, py BIGINT, poly ARRAY<STRUCT<x: BIGINT, y: BIGINT>>)",
        "BOOLEAN",
        "aggregate(transform(poly, (v, i) -> named_struct('a', v, 'b', "
        "element_at(poly, CAST((i + 1) % size(poly) AS INT) + 1))), "
        "false, (acc, e) -> CASE WHEN (e.a.y > py) != (e.b.y > py) AND "
        "((e.b.x - e.a.x) * (py - e.a.y) - (px - e.a.x) * "
        "(e.b.y - e.a.y)) * (CASE WHEN e.b.y > e.a.y THEN 1 ELSE -1 END)"
        " > 0 THEN NOT acc ELSE acc END)",
    ),
    # haversine great-circle distance in meters (CH's WGS84-mean-radius
    # form, R = 6371 km). Lives in libm trig — the output snaps to
    # 1e-4 m (the entropy device; double trig ulp error is ~1e-9 of
    # the distance, dwarfed by the grid)
    "greatCircleDistance": (
        "(lon1 DOUBLE, lat1 DOUBLE, lon2 DOUBLE, lat2 DOUBLE)",
        "DOUBLE",
        "CAST(CAST(2.0 * 6371000.0 * asin(sqrt("
        "pow(sin(radians(lat2 - lat1) / 2.0), 2) + "
        "cos(radians(lat1)) * cos(radians(lat2)) * "
        "pow(sin(radians(lon2 - lon1) / 2.0), 2))) "
        "AS DECIMAL(18,4)) AS DOUBLE)",
    ),
    # ------------------------------------------------------------------
    # JSON extraction (round 8) — CH's simdjson family bridged for the
    # single-key form (CH's variadic key paths need get_json_object's
    # JSONPath directly; DIALECT_NOTES points there). Keys are plain
    # identifiers (injected into a '$.key' path — dotted/quoted keys
    # need the native spelling)
    "JSONExtractInt": (
        "(j STRING, k STRING)",
        "BIGINT",
        "try_cast(get_json_object(j, concat('$.', k)) AS BIGINT)",
    ),
    "JSONExtractFloat": (
        "(j STRING, k STRING)",
        "DOUBLE",
        "try_cast(get_json_object(j, concat('$.', k)) AS DOUBLE)",
    ),
    "JSONExtractString": (
        "(j STRING, k STRING)",
        "STRING",
        "get_json_object(j, concat('$.', k))",
    ),
    "JSONExtractBool": (
        "(j STRING, k STRING)",
        "BOOLEAN",
        "try_cast(get_json_object(j, concat('$.', k)) AS BOOLEAN)",
    ),
    "JSONHas": (
        "(j STRING, k STRING)",
        "BOOLEAN",
        "get_json_object(j, concat('$.', k)) IS NOT NULL",
    ),
    # raw JSON text of the member (quotes kept for strings — CH's
    # contract; get_json_object UNQUOTES scalars, so re-derive via
    # to_json on a parsed variant is overkill: document the string
    # divergence and keep numbers/objects/arrays raw-correct
    "JSONExtractRaw": (
        "(j STRING, k STRING)",
        "STRING",
        "get_json_object(j, concat('$.', k))",
    ),
    # legacy visitParam* names and their simpleJSON* renames — CH's
    # flat-JSON fast path; the bridged single-key contract is identical
    # to the JSONExtract family above (round-10 gap probe)
    "visitParamHas": (
        "(j STRING, k STRING)",
        "BOOLEAN",
        "get_json_object(j, concat('$.', k)) IS NOT NULL",
    ),
    "visitParamExtractString": (
        "(j STRING, k STRING)",
        "STRING",
        "get_json_object(j, concat('$.', k))",
    ),
    "visitParamExtractInt": (
        "(j STRING, k STRING)",
        "BIGINT",
        "try_cast(get_json_object(j, concat('$.', k)) AS BIGINT)",
    ),
    "visitParamExtractFloat": (
        "(j STRING, k STRING)",
        "DOUBLE",
        "try_cast(get_json_object(j, concat('$.', k)) AS DOUBLE)",
    ),
    "visitParamExtractBool": (
        "(j STRING, k STRING)",
        "BOOLEAN",
        "try_cast(get_json_object(j, concat('$.', k)) AS BOOLEAN)",
    ),
    "visitParamExtractRaw": (
        "(j STRING, k STRING)",
        "STRING",
        "get_json_object(j, concat('$.', k))",
    ),
    "simpleJSONHas": (
        "(j STRING, k STRING)",
        "BOOLEAN",
        "get_json_object(j, concat('$.', k)) IS NOT NULL",
    ),
    "simpleJSONExtractString": (
        "(j STRING, k STRING)",
        "STRING",
        "get_json_object(j, concat('$.', k))",
    ),
    "simpleJSONExtractInt": (
        "(j STRING, k STRING)",
        "BIGINT",
        "try_cast(get_json_object(j, concat('$.', k)) AS BIGINT)",
    ),
    "simpleJSONExtractFloat": (
        "(j STRING, k STRING)",
        "DOUBLE",
        "try_cast(get_json_object(j, concat('$.', k)) AS DOUBLE)",
    ),
    "simpleJSONExtractBool": (
        "(j STRING, k STRING)",
        "BOOLEAN",
        "try_cast(get_json_object(j, concat('$.', k)) AS BOOLEAN)",
    ),
    "simpleJSONExtractRaw": (
        "(j STRING, k STRING)",
        "STRING",
        "get_json_object(j, concat('$.', k))",
    ),
    # CH JSONLength: element count of an array or object member
    "JSONLength": (
        "(j STRING)",
        "INT",
        "CASE WHEN startswith(ltrim(j), '[') THEN json_array_length(j) "
        "ELSE size(json_object_keys(j)) END",
    ),
    # ROC AUC over paired (score, label) arrays — CH's ML-eval scalar.
    # Rank formulation: AUC = (R_pos - nPos(nPos+1)/2) / (nPos*nNeg)
    # with AVERAGE ranks (ties share rank), so the result is EXACT
    # (half-integer rank sums below 2^53, one IEEE division) and
    # independent of array order. O(n^2) per array — per-row arrays
    # are small by contract. Degenerate (no positives or no negatives)
    # -> NULL (CH returns nan)
    "arrayAUC": (
        "(s ARRAY<DOUBLE>, l ARRAY<INT>)",
        "DOUBLE",
        "CASE WHEN size(filter(l, x -> x = 1)) >= 1 AND "
        "size(filter(l, x -> x <> 1)) >= 1 THEN "
        "(aggregate(filter(zip_with(s, l, (a, b) -> "
        "named_struct('s', a, 'l', b)), p -> p.l = 1), "
        "CAST(0.0 AS DOUBLE), (acc, p) -> acc + "
        "CAST(size(filter(s, q -> q < p.s)) AS DOUBLE) + "
        "(CAST(size(filter(s, q -> q = p.s)) AS DOUBLE) + 1.0) / 2.0) "
        "- CAST(size(filter(l, x -> x = 1)) AS DOUBLE) * "
        "(CAST(size(filter(l, x -> x = 1)) AS DOUBLE) + 1.0) / 2.0) / "
        "(CAST(size(filter(l, x -> x = 1)) AS DOUBLE) * "
        "CAST(size(filter(l, x -> x <> 1)) AS DOUBLE)) END",
    ),
    # CH's transform(x, from, to, default) value-mapper cannot keep its
    # name — `transform` IS Spark's array higher-order function (and
    # the chsql rewriter maps CH arrayMap onto it); transformCH is the
    # registered spelling, DIALECT_NOTES warns on the clash
    "transformCH": (
        "(x STRING, f ARRAY<STRING>, t ARRAY<STRING>, d STRING)",
        "STRING",
        "coalesce(element_at(map_from_arrays(f, t), x), d)",
    ),
    # ------------------------------------------------------------------
    # IPv4 functions (round 8) — pure integer algebra over the UInt32
    # form (BIGINT here; bits via div/mod, no engine bit-op dialect).
    # Documented deltas: malformed strings -> NULL (CH IPv4StringToNum
    # RAISES; its OrNull variant is this exact contract), CIDRToRange
    # takes/returns numeric addresses (CH takes the IPv4 type) as a
    # (lo, hi) struct
    "IPv4NumToString": (
        "(n BIGINT)",
        "STRING",
        "concat(CAST((n div 16777216) % 256 AS STRING), '.', "
        "CAST((n div 65536) % 256 AS STRING), '.', "
        "CAST((n div 256) % 256 AS STRING), '.', "
        "CAST(n % 256 AS STRING))",
    ),
    "isIPv4String": (
        "(s STRING)",
        "BOOLEAN",
        r"s RLIKE '^[0-9]{1,3}(\\.[0-9]{1,3}){3}$' "
        r"AND forall(split(s, '\\.'), o -> try_cast(o AS INT) <= 255)",
    ),
    "IPv4StringToNum": (
        "(s STRING)",
        "BIGINT",
        r"CASE WHEN s RLIKE '^[0-9]{1,3}(\\.[0-9]{1,3}){3}$' "
        r"AND forall(split(s, '\\.'), o -> try_cast(o AS INT) <= 255) "
        r"THEN CAST(element_at(split(s, '\\.'), 1) AS BIGINT) * 16777216 "
        r"+ CAST(element_at(split(s, '\\.'), 2) AS BIGINT) * 65536 "
        r"+ CAST(element_at(split(s, '\\.'), 3) AS BIGINT) * 256 "
        r"+ CAST(element_at(split(s, '\\.'), 4) AS BIGINT) END",
    ),
    "IPv4StringToNumOrNull": (
        "(s STRING)",
        "BIGINT",
        r"CASE WHEN s RLIKE '^[0-9]{1,3}(\\.[0-9]{1,3}){3}$' "
        r"AND forall(split(s, '\\.'), o -> try_cast(o AS INT) <= 255) "
        r"THEN CAST(element_at(split(s, '\\.'), 1) AS BIGINT) * 16777216 "
        r"+ CAST(element_at(split(s, '\\.'), 2) AS BIGINT) * 65536 "
        r"+ CAST(element_at(split(s, '\\.'), 3) AS BIGINT) * 256 "
        r"+ CAST(element_at(split(s, '\\.'), 4) AS BIGINT) END",
    ),
    "IPv4CIDRToRange": (
        "(n BIGINT, p INT)",
        "STRUCT<lo: BIGINT, hi: BIGINT>",
        "named_struct('lo', (n div CAST(pow(2, 32 - p) AS BIGINT)) * "
        "CAST(pow(2, 32 - p) AS BIGINT), 'hi', (n div CAST(pow(2, 32 - p) "
        "AS BIGINT)) * CAST(pow(2, 32 - p) AS BIGINT) + "
        "CAST(pow(2, 32 - p) AS BIGINT) - 1)",
    ),
    # ------------------------------------------------------------------
    # URL functions (round 8) — ClickHouse's URL vocabulary as pure
    # regex projections (Catalyst-inlined, codegen-friendly; the regex
    # subset is RE2-compatible so a DuckDB oracle replays it verbatim —
    # the q131 dialect-parity rule: anchored single-match replaces,
    # no backreference PATTERNS, no lookaround). Semantics follow CH
    # docs; documented deltas: invalid/relative URLs yield '' (CH
    # mostly agrees), topLevelDomain of a dotless host is '' (CH: ''),
    # and percent-decoding is NOT applied anywhere (CH agrees).
    "protocol": (
        "(url STRING)",
        "STRING",
        r"regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)",
    ),
    "domain": (
        "(url STRING)",
        "STRING",
        r"regexp_extract(url, "
        r"'^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/?#@]*@)?([^/?#:]+)', 1)",
    ),
    "domainWithoutWWW": (
        "(url STRING)",
        "STRING",
        r"regexp_replace(regexp_extract(url, "
        r"'^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/?#@]*@)?([^/?#:]+)', 1), "
        r"'^www\\.', '')",
    ),
    "topLevelDomain": (
        "(url STRING)",
        "STRING",
        r"regexp_extract(regexp_extract(url, "
        r"'^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/?#@]*@)?([^/?#:]+)', 1), "
        r"'\\.([^.]+)$', 1)",
    ),
    # CH resolves the "first significant subdomain" against a public-
    # suffix-style list; this alias implements the canonical rule only
    # (second-level generic labels com/net/org/co/biz/gov/mil/edu under
    # a ccTLD step one label deeper) — documented approximation
    "firstSignificantSubdomain": (
        "(url STRING)",
        "STRING",
        r"CASE WHEN size(split(regexp_extract(url, "
        r"'^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/?#@]*@)?([^/?#:]+)', 1), "
        r"'\\.')) <= 1 THEN '' "
        r"WHEN size(split(regexp_extract(url, "
        r"'^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/?#@]*@)?([^/?#:]+)', 1), "
        r"'\\.')) >= 3 AND element_at(split(regexp_extract(url, "
        r"'^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/?#@]*@)?([^/?#:]+)', 1), "
        r"'\\.'), -2) IN ('com','net','org','co','biz','gov','mil','edu') "
        r"THEN element_at(split(regexp_extract(url, "
        r"'^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/?#@]*@)?([^/?#:]+)', 1), "
        r"'\\.'), -3) "
        r"ELSE element_at(split(regexp_extract(url, "
        r"'^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/?#@]*@)?([^/?#:]+)', 1), "
        r"'\\.'), -2) END",
    ),
    "path": (
        "(url STRING)",
        "STRING",
        r"regexp_extract(url, "
        r"'^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?[^/?#]*([^?#]*)', 1)",
    ),
    "pathFull": (
        "(url STRING)",
        "STRING",
        r"regexp_extract(url, "
        r"'^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?[^/?#]*(.*)$', 1)",
    ),
    "queryString": (
        "(url STRING)",
        "STRING",
        r"CASE WHEN url RLIKE '^[^#]*\\?' "
        r"THEN regexp_extract(url, '\\?([^#]*)', 1) ELSE '' END",
    ),
    "fragment": (
        "(url STRING)",
        "STRING",
        r"regexp_extract(url, '#(.*)$', 1)",
    ),
    "queryStringAndFragment": (
        "(url STRING)",
        "STRING",
        r"CASE WHEN url RLIKE '^[^#]*\\?' "
        r"THEN regexp_extract(url, '\\?(.*)$', 1) "
        r"WHEN url RLIKE '#' THEN regexp_extract(url, '(#.*)$', 1) "
        r"ELSE '' END",
    ),
    "extractURLParameter": (
        "(url STRING, p STRING)",
        "STRING",
        r"regexp_extract(url, concat('[?&]\\Q', p, '\\E=([^&#]*)'), 1)",
    ),
    "cutQueryString": (
        "(url STRING)",
        "STRING",
        r"concat(regexp_extract(url, '^([^#?]*)', 1), "
        r"regexp_extract(url, '(#.*)$', 1))",
    ),
    "cutFragment": (
        "(url STRING)",
        "STRING",
        r"regexp_replace(url, '#.*$', '')",
    ),
    "cutQueryStringAndFragment": (
        "(url STRING)",
        "STRING",
        r"regexp_extract(url, '^([^#?]*)', 1)",
    ),
    # RFC 3986 percent-encoding: walk the UTF-8 BYTES (hex string, two
    # chars per byte), keep unreserved ASCII (alnum - . _ ~) literal,
    # escape everything else as %XX — multi-byte sequences escape
    # per byte, exactly urllib.parse.quote(safe='') (property-tested)
    "encodeURLComponent": (
        "(s STRING)",
        "STRING",
        # empty-string guard: sequence(1, 0) is a DESCENDING range in
        # Spark, not an empty one (the arrayEnumerate trap)
        "CASE WHEN length(s) = 0 THEN s ELSE "
        "aggregate(transform(sequence(1, length(encode(s, 'UTF-8'))), "
        "i -> CASE WHEN conv(substring(hex(encode(s, 'UTF-8')), "
        "2 * i - 1, 2), 16, 10) BETWEEN 48 AND 57 "
        "OR conv(substring(hex(encode(s, 'UTF-8')), 2 * i - 1, 2), "
        "16, 10) BETWEEN 65 AND 90 "
        "OR conv(substring(hex(encode(s, 'UTF-8')), 2 * i - 1, 2), "
        "16, 10) BETWEEN 97 AND 122 "
        "OR conv(substring(hex(encode(s, 'UTF-8')), 2 * i - 1, 2), "
        "16, 10) IN (45, 46, 95, 126) "
        "THEN char(conv(substring(hex(encode(s, 'UTF-8')), 2 * i - 1, "
        "2), 16, 10)) ELSE concat('%', substring(hex(encode(s, "
        "'UTF-8')), 2 * i - 1, 2)) END), '', (acc, c) -> "
        "concat(acc, c)) END",
    ),
    # full UTF-8 percent-decoding: accumulate raw BYTES (unhex pairs +
    # the literal tails) and decode ONCE at the end, so multi-byte
    # sequences like %C3%A9 reassemble correctly (a per-%XX char()
    # decode would mangle them). Malformed escapes (%%, %Z1, trailing
    # %) keep their literal '%' — CH's lenient behavior
    "decodeURLComponent": (
        "(s STRING)",
        "STRING",
        r"CASE WHEN instr(s, '%') = 0 THEN s ELSE decode(aggregate("
        r"slice(split(s, '%', -1), 2, size(split(s, '%', -1)) - 1), "
        r"encode(element_at(split(s, '%', -1), 1), 'UTF-8'), "
        r"(acc, p) -> CASE WHEN length(p) >= 2 AND "
        r"substring(p, 1, 2) RLIKE '^[0-9A-Fa-f]{2}$' THEN "
        r"concat(acc, unhex(substring(p, 1, 2)), "
        r"encode(substring(p, 3), 'UTF-8')) ELSE "
        r"concat(acc, encode(concat('%', p), 'UTF-8')) END), "
        r"'UTF-8') END",
    ),
    "cutWWW": (
        "(url STRING)",
        "STRING",
        r"regexp_replace(url, "
        r"'^((?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/?#@]*@)?)www\\.', '$1')",
    ),
}

#: dialect forms that are NOT scalar functions and therefore cannot be
#: aliased. Forms marked "runs verbatim" are rewritten automatically by
#: ``chsql.rewrite_clickhouse_sql`` (q76 driver-verifies the path); the
#: rest are the migration cheat-sheet.
DIALECT_NOTES: dict[str, str] = {
    "uniq(x) / uniqExact(x)": "runs verbatim via chsql.rewrite_clickhouse_sql",
    "-State / -Merge combinators (AggregatingMergeTree MVs)": "bridged as of round 7 — count/sum/min/max states are their values (merge = sum/sum/min/max), avgState a (sum,count) struct, uniqState/uniqMerge the DataSketches HLL pair (hll_sketch_agg / hll_union_agg + estimate; same mergeable contract, engine-specific constants). q127 verifies merged == single-pass and estimate-vs-exact",
    "quantile(0.95)(x)": "runs verbatim via chsql (percentile_approx; quantileExact -> exact percentile)",
    "quantileTDigest(0.95)(x)": "runs verbatim via chsql (q67's tolerance-gated form)",
    "quantiles(0.5, 0.9)(x) / quantilesExact(...)": "runs verbatim via chsql (array-returning percentile forms)",
    "stddevPop/stddevSamp/varPop/varSamp": "runs verbatim via chsql (identical moment contracts)",
    "avgWeighted/skewPop/skewSamp/kurtPop/kurtSamp/covarPop/covarSamp/boundingRatio/entropy": "bridged as of round 8 (chsql._rewrite_stats_aggs) — exact 128-bit scaled-moment algebra with one correctly rounded IEEE tail, hash-verifiable cross-engine (q164); degenerate groups -> NULL, kurt is non-excess, entropy snaps to 1e-6 (libm log2 is not bit-stable)",
    "studentTTest/welchTTest/mannWhitneyUTest(x, sample_idx)": "bridged as of round 8 — (t_stat, df) / (u0, u1, z) named structs from exact moment/rank algebra (q165); CH's p-values need incomplete-beta/normal CDFs neither engine exposes (client-side lookup); MW's fold form is O(n^2)-per-group for bounded slices, window-rank spelling is the unbounded path",
    "countIf / sumIf / avgIf / minIf / maxIf": "runs verbatim via chsql",
    "formatDateTime(ts, '%Y-%m-%d ...')": "runs verbatim via chsql (exact %-code subset, widened round 10: %a %b %W %Q %h %I %r %R %D %f %c %n %t; ambiguous codes raise with the replacement named — %M is the CH 23.x minute/month-name flip)",
    "parseDateTime[OrNull|OrZero](s, '%...')": "bridged as of round 10 — the exact-format inverse through the same %-code subset (to_timestamp/try_to_timestamp; OrZero coalesces to the DateTime zero); parseDateTimeBestEffort* stays a loud reject (version-dependent heuristics)",
    "GROUP BY ... WITH TOTALS": "runs verbatim via chsql (GROUPING SETS ((keys), ()) — exact; q82)",
    "arrayMap/arrayFilter/arrayExists/arrayAll/arrayCount (lambdas)": "runs verbatim via chsql (identical lambda syntax)",
    "arrayJoin(arr)": "runs verbatim via chsql (LATERAL VIEW explode, alias bodies inlined)",
    "LIMIT n BY k": "runs verbatim via chsql (row_number window over the query's ORDER BY); the offset forms LIMIT off, n BY and LIMIT n OFFSET m BY bridge too (rows off+1..off+n per group, round 10)",
    "stacked combinators (-IfOrNull/-IfOrDefault/-ArrayIf/quantile*If/countDistinctIf)": "bridged as of round 10 in either combinator order; unbridgeable legs (min/max -OrDefault: the column TYPE's zero is unknowable textually; uniq* -OrNull: diverges when matching rows are all NULL) and any OTHER surviving stack (sumForEach, avgStateIf, quantileMerge, -Resample) reject loudly with the stack named",
    "tuple(a, b) / tupleElement / tuple(...).N / (a, b) IN ((1, 2), ...)": "bridged as of round 10 — positional named_structs with _N element names (Spark compares struct FIELD NAMES, so the bare-paren composite IN would otherwise type-mismatch); (a, b) IN (subquery) is native Spark and untouched; tupleElement needs a literal selector",
    "toDecimal32/64/128[OrNull|OrZero](x, scale)": "bridged as of round 10 — CAST/try_cast at CH's precision tiers (9/18/38); toDecimal256 exceeds Spark's DECIMAL(38) and rejects",
    "remote()/cluster()/merge()/s3()/url()/file()/jdbc() table functions": "reject with the Spark recipe (round 10): register views / spark.read for external sources; Spark's own distribution replaces CH shard fan-out",
    "* APPLY / * REPLACE / COLUMNS('regex') / COLLATE 'locale'": "reject with guidance (round 10): dynamic projections need the resolved schema — spell the projection; Spark 4 collations are named identifiers",
    "parseDateTimeBestEffort / toFixedString": "reject with guidance (round 10): CH's format heuristics are version-dependent (spell to_timestamp(s, fmt)); FixedString(N) has no Spark type",
    "topK(10)(x)": "runs verbatim via chsql (exact frequency-join rewrite, q93; CH's is approximate — documented upgrade)",
    "SELECT ... FROM t FINAL": "runs verbatim via chsql given final_tables={'t': ([keys], version)} (q79)",
    "SAMPLE 0.1": "runs verbatim via chsql given sample_by={'t': 'key'} (replay-stable md5 contract; NOT cityHash-member-compatible, documented)",
    "TTL ts + INTERVAL 30 DAY": "ManifestTable.expire(spark, 'ts', cutoff) (q70 demotes into a rollup)",
    "ENGINE = SummingMergeTree": "streaming/incremental.maintain_rollup (q73 runs it end-to-end)",
    "arrayAvg([]) empty/all-NULL edge": "alias returns NULL (CH's Float64 0-div edge has no exact Spark spelling)",
    "groupArray(x) / groupUniqArray(x)": "runs verbatim via chsql (collect_list/collect_set; arbitrary order in both engines)",
    "anyIf / uniqIf / uniqExactIf (x, cond)": "runs verbatim via chsql (CASE-WHEN-gated aggregate)",
    "GROUP BY ... WITH ROLLUP / WITH CUBE": "identical syntax in Spark - passes through unchanged (test-pinned)",
    "multiIf(c1, v1, ..., else)": "runs verbatim via chsql (CASE WHEN chain — exact)",
    "dateDiff('unit', a, b)": "runs verbatim via chsql (timestampdiff over date_trunc'd operands — CH counts unit-boundary CROSSINGS, bare timestampdiff counts full units; 'hour' of 08:30->10:00 is 2 in both CH and the rewrite)",
    "toStartOfInterval(ts, INTERVAL n unit)": "runs verbatim via chsql for second/minute/hour/day (epoch-modulo truncation); month-class intervals raise (calendar-anchored in CH)",
    "ORDER BY ... WITH FILL [INTERPOLATE]": "bridged as of round 7 via chsql.ch_sql(spark, sql) — session-aware rewrite: grid from sequence(FROM|min, TO-excl|max, STEP), CH type defaults (0/''/false) for filled rows, identity INTERPOLATE as carry-forward (q123 oracle-verifies; multi-key fill, LIMIT-after-fill, and derived INTERPOLATE exprs still raise)",
    "neighbor(x, off, dflt) / runningDifference(x)": "bridged as of round 7 — rewritten to lead/lag(x, |off|, dflt) / coalesce(x - lag(x), 0) OVER the statement's own top-level ORDER BY (the only deterministic reading of CH block order; q124 oracle-verifies). Missing ORDER BY, 2-arg neighbor (CH type-default fallback), and non-literal offsets raise",
    "runningAccumulate": "runs verbatim for the inline -State form (runningAccumulate(sumState(x)) ... GROUP BY k ORDER BY k) — rewritten to the state's merge aggregate over an ORDER-BY-anchored window (q143); a state column from a subquery alias raises (merge function unrecoverable)",
    "FROM numbers(N) / numbers(offset, N)": "runs verbatim as of round 8 (chsql._rewrite_numbers) — range() subquery exposing CH's `number` column; literal arguments only",
    "encodeURLComponent / decodeURLComponent": "registered as of round 8 — full UTF-8 percent-codec (byte-level, RFC 3986 unreserved set), urllib-property-tested round trips",
    "ORDER BY ... LIMIT n WITH TIES": "runs verbatim as of round 8 (chsql._rewrite_limit_with_ties) — rank() filter over the statement's ORDER BY, tie groups straddling the cut survive whole; requires a top-level ORDER BY",
    "GROUP BY ALL / SELECT * EXCEPT (cols)": "run NATIVELY in Spark 4 — no rewrite needed (test-pinned in test_chsql.py)",
    "WITH 3600 AS bucket / WITH (SELECT ...) AS name": "runs verbatim as of round 8 (chsql._rewrite_with_constants) — CH's expression-first scalar WITH substitutes string-literal-aware; genuine CTEs in the same clause are left in place (q181)",
    "GROUP BY 1 / ORDER BY 2 (positional arguments)": "bare integer literals run verbatim — Spark's ordinal resolution matches ClickHouse >= 22.2 (enable_positional_arguments default ON); on OLDER CH they were constants (no-op), a version divergence to check when migrating. A scalar WITH constant used AS a bare GROUP BY/ORDER BY item raises (round 9): CH resolves the alias to a constant, Spark would ordinal-ize the substituted literal",
    "arr[i] subscripts / [1, 2] array literals": "bridged as of round 9 (chsql._rewrite_brackets) — CH subscripts are ONE-based (negative = from the end) while Spark's native brackets are ZERO-based, so the form previously ran with silently shifted elements; rewritten to element_at (1-based, negative-from-end, map-by-key — exact CH addressing). Out-of-bounds raises under ANSI instead of returning CH's type default (spell ifNull(try_element_at(...), default) for that contract). [..] literals become array(..)",
    "array vocabulary element types": "through ch_sql the round-9 template rewrites (chsql._ARRAY_TEMPLATES) preserve element types exactly (arrayDistinct/arrayCompact/arraySlice/arrayConcat/arrayFlatten/arraySort-with-key/push/pop/has/indexOf/countEqual/hasAll/hasAny/arrayIntersect/match/extract); the CREATE FUNCTION registrations of the same names remain for the direct spark.sql path but are typed ARRAY<STRING> (SQL UDFs cannot be generic) and coerce numeric elements to strings — use ch_sql when element types matter. arraySort's key-lambda bridge is tie-order-unspecified (CH documents a stable sort); length() on arrays is NOT bridgeable (Spark's length is a string builtin that cannot be replaced) — spell size(arr)",
    "arrayFirst/arrayLast/arrayFirstIndex/arrayLastIndex/arrayZip + operator functions": "templates as of round 9 — CH's lambda-first order mapped to Spark's array-first builtins; arrayFirst/arrayLast return NULL when nothing matches (CH returns the element type's DEFAULT — the arrayAvg-class documented divergence); arrayZip yields arrays_zip structs with positional field names ('0','1') instead of CH unnamed tuples; plus/minus/multiply/divide/modulo/negate spell the operators (divide is float division in both)",
    "format('{}-{}', a, b)": "bridged as of round 9 (chsql) — literal patterns rewritten to format_string ('{}' auto-numbering, '{N}' indexed, '{{'/'}}' escapes, '%' doubled); mixing auto and indexed placeholders raises (CH errors too); non-literal patterns raise (CH requires a constant pattern as well)",
    "SELECT x + 1 AS n ... WHERE n > 2 (alias visibility)": "bridged as of round 9 (chsql._inline_aliases_into_where) — CH lets SELECT-list aliases appear in the same query's WHERE; the defining expressions are inlined into the top-level WHERE text. An alias shadowing a real source column resolves to the ALIAS (CH's prefer_column_name_to_alias = 0 default — the famous CH gotcha, faithfully kept). Scope is per-SELECT (subqueries rewrite at their own level); aliases in PREWHERE are not inlined (PREWHERE itself rewrites to WHERE later in the pipeline — spell the expression there)",
    "cond ? a : b (ternary) / SELECT TOP n / -OrNull & -OrDefault": "bridged as of round 9 (chsql) — the C-style conditional becomes if(cond, a, b), right-associative, C precedence (AND/OR bind tighter), '::' casts never split; a NUMERIC condition (CH's UInt8-as-bool) raises Spark's boolean type error — spell x != 0. TOP n strips to a trailing LIMIT (TOP+LIMIT raises, as in CH). sum/avg/min/max/countOrNull map to the native aggregates (Spark's empty-set NULL IS the OrNull contract — note CH's UNDECORATED sum/count return 0 over an empty set where Spark returns NULL/0: a divergence only for global aggregates on empty input); sum/avg/countOrDefault coalesce to numeric 0; min/maxOrDefault stay unbridged (the default is the column TYPE's zero value — unknowable textually)",
    "kolmogorovSmirnovTest / cramersV / theilsU / contingency": "run verbatim as of round 8 (collect-fold expressions; KS D is exact, chi2/log members snap to 1e-6 — q173); bounded-slice contract, relational spellings are the unbounded path",
    "deltaSum(x, k) / deltaSumTimestamp / exponentialMovingAverage(hl)(v, t)": "run verbatim as of round 8 (q167) — deltaSum needs the explicit sort-key second argument (CH's 1-arg block-order form rejects)",
    "nonNegativeDerivative(x, t) OVER (...) / lagInFrame / leadInFrame": "run verbatim as of round 8 (q168); t must be numeric seconds, INTERVAL argument not bridged; lagInFrame/leadInFrame with an explicit ROWS/RANGE/GROUPS frame (inline or via a resolvable named window) is a LOUD ChSqlError as of round 9 — Spark lag/lead ignore frames, so only the default-frame form bridges (ADVICE r08)",
    "WITH <expr> AS <name> scoping": "round 9: constants may reference earlier constants (fixed-point resolved; cycles reject) and are substituted into CTE/subquery bodies (CH scoping); a block that re-defines the same identifier (ambiguous shadowing) or a scalar-SUBQUERY constant referenced inside a block (not inlinable across nesting levels) is a loud ChSqlError",
    "intervalLengthSum / maxIntersections / maxIntersectionsPosition": "run verbatim as of round 8 (q171) — half-open [s,e) integer sweeps; touching intervals do not intersect (documented divergence from CH's closed ends)",
    "quantileExactWeighted(p)(x, w) / topKWeighted(k)(x, w) / groupArraySorted(N)(x)": "run verbatim as of round 8 (q174); topKWeighted is the exact answer (CH's is the approximate Filtered Space-Saving sketch)",
    "sequenceNextNode(direction, base)(ts, ev, base_cond, c...)": "runs verbatim as of round 8 (q177) for forward/head, forward/first_match, backward/tail, backward/last_match; other combinations reject",
    "sumArray/avgArray/minArray/maxArray/countArray/uniqExactArray / argMaxIf / argMinIf / groupBitAnd/Or/Xor / arrayFold / arrayReduce": "run verbatim as of round 8 (q175, q180)",
    "windowFunnel strict_order / strict_dedup modes": "REJECT loudly — CH's interleaving-event semantics need the full (non-condition-filtered) event stream and its exact stop rule is version-dependent; the default and strict_increase modes are bridged (q135/q148)",
    "replaceRegexpOne(s, re, rep)": "NOT aliased — Spark has no replace-FIRST-match regexp primitive (regexp_replace replaces all); anchored patterns make the two identical, unanchored first-only semantics need a manual spelling (regexp_extract the prefix + replace + suffix)",
    "transform(x, [from...], [to...], default)": "NOT aliasable under its CH name — `transform` is Spark's array higher-order function (and the arrayMap target). Registered as transformCH (map_from_arrays lookup + default); same 4-argument contract",
    "ORDER BY NULL position": "round 12 — CH sorts NULLs LAST by default in BOTH directions while Spark's ASC default is NULLS FIRST; every ORDER BY item (statement-level and window-spec) without an explicit NULLS spec gets NULLS LAST appended, so LIMIT/LIMIT BY/window/neighbor results match CH (and DuckDB, whose default is also NULLS LAST). An explicit NULLS FIRST/LAST is honored untouched",
    "QUALIFY <pred>": "round 12 — bridged by decorrelation: the predicate is projected as one extra SELECT-list column (lateral alias resolution preserves CH's sibling-alias scoping, incl. over GROUP BY), the statement wraps as a subquery, the outer filters on it; ORDER BY/LIMIT stay outer (CH's evaluation order). Un-parenthesized set-operation statements reject",
    "toIntervalYear/Quarter/Month/Week/Day/Hour/Minute/Second(n)": "round 12 — make_interval (calendar part) / make_dt_interval (day-time part) templates; non-literal n composes; CH and Spark agree on month-end clamping (Jan 31 + 1 month = Feb 29, test-pinned)",
    "rand() / randCanonical() / randNormal() / rand64()": "round 12 — rand() bridges to a uniform UInt32 draw (Spark's rand() is a [0,1) DOUBLE: `rand() % N` would silently always be 0); randCanonical/randNormal registered on Spark's rand()/randn(); rand64 rejects (UInt64 domain exceeds BIGINT)",
    "max2/min2 / roundBankers / now64 / toNullable / age / date_diff / accurateCast[OrNull] / leftPad|rightPad 2-arg": "round 12 wave-3 bridges — greatest/least, bround (banker's rounding both engines), now(), identity, timestampdiff complete-units (month-class units reject on CH's month-end clamping), the range-gated to<T>[OrNull] family, space-pad default",
    "gcd / lcm / erf / erfc / lgamma / tgamma / hostName / byteSize / blockNumber / rowNumberInAllBlocks / reinterpretAs*": "NOT bridged — no closed-form Spark SQL spelling (gcd/lcm need iteration; erf-family special functions are absent; block/host introspection has no meaning under Spark's execution model; reinterpret casts are memory-layout-dependent). All resolve to a loud UNRESOLVED_ROUTINE",
    "cityHash64 / sipHash64 / farmHash64": "NOT bridgeable — ClickHouse's hash constants are engine-specific and Spark's xxhash64/hash use different algorithms; any query whose RESULT depends on CH hash values (sampling by cityHash, hash-keyed joins) must re-key on a portable hash (md5 — the bridge's SAMPLE rewrite already does exactly this, documented there)",
    "position(haystack, needle)": "NOT aliasable — Spark's builtin position(substr, str) takes the arguments in the REVERSE order and cannot be replaced by a SQL function; a verbatim CH query silently flips haystack/needle. Use instr(haystack, needle) or the registered positionCH alias",
    "dialect forms inside subqueries / CTEs": "run verbatim as of round 6 — chsql recurses into every parenthesized SELECT/WITH block, each level rewritten independently (q95 exercises three levels); un-parenthesized top-level UNION branches remain out of scope",
}


#: lower-case name -> name (all 241 are distinct in lower case)
_BY_LOWER = {n.lower(): n for n in CLICKHOUSE_SCALARS}


def register_clickhouse_functions(
    spark: SparkSession, sql: str | None = None
) -> list[str]:
    """Register in this session the ``CLICKHOUSE_SCALARS`` that the
    statement text ``sql`` names, or the whole vocabulary when no text
    is given; returns those names.

    A statement names a scalar when one of its words equals the name,
    case-insensitively, as Spark resolves function names. The scan
    over-matches and never under-matches: a word in a string literal,
    or a column sharing a scalar's name, costs one extra CREATE and
    changes no result. Pass the text Spark will analyse, i.e. the
    rewritten text for dialect statements (``chsql.ch_sql`` does this
    for every statement it runs). No body calls a sibling scalar, so a
    scalar registers on its own. Names a session already has are not
    created again (``sql_functions._register``)."""
    if sql is None:
        names = CLICKHOUSE_SCALARS
    else:
        words = set(re.findall(r"\w+", sql.lower()))
        names = [n for low, n in _BY_LOWER.items() if low in words]
    return _register(spark, CLICKHOUSE_SCALARS, names)
