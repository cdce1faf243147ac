"""Engine scalar functions exposed to pure SQL users.

Every operator the engine implements as a Column expression is also
reachable from ``spark.sql`` via SQL scalar UDFs (``CREATE FUNCTION ...
RETURN <expression>``). These are declarative expression rewrites — the
body is inlined into the calling plan by Catalyst, so they cost nothing
at runtime (no Python, no serialization) and optimize like hand-written
expressions, at any scale.

The definitions mirror the reference exporter's scalar semantics
(reference ``mb8600.py``): uptime parsing (:21, :400-410), the OFDM SNR
correction (:372-376), unit conversions (:380, :394, :397) — plus the
engine's text/similarity scalar vocabulary.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import SparkSession

# name -> (signature, return type, body)
SQL_FUNCTIONS: dict[str, tuple[str, str, str]] = {
    # reference parse-path scalars
    "uptime_seconds": (
        "(raw STRING)",
        "BIGINT",
        r"""
        coalesce(try_cast(regexp_extract(raw, '(?:(\\d+)\\s*days\\s*)?(?:(\\d{2})h:)?(?:(\\d{2})m:)?(?:(\\d{2})s)?', 1) AS BIGINT), 0) * 86400
      + coalesce(try_cast(regexp_extract(raw, '(?:(\\d+)\\s*days\\s*)?(?:(\\d{2})h:)?(?:(\\d{2})m:)?(?:(\\d{2})s)?', 2) AS BIGINT), 0) * 3600
      + coalesce(try_cast(regexp_extract(raw, '(?:(\\d+)\\s*days\\s*)?(?:(\\d{2})h:)?(?:(\\d{2})m:)?(?:(\\d{2})s)?', 3) AS BIGINT), 0) * 60
      + coalesce(try_cast(regexp_extract(raw, '(?:(\\d+)\\s*days\\s*)?(?:(\\d{2})h:)?(?:(\\d{2})m:)?(?:(\\d{2})s)?', 4) AS BIGINT), 0)
        """,
    ),
    "ofdm_snr_corrected": (
        "(modulation STRING, snr DOUBLE)",
        "DOUBLE",
        "CASE WHEN modulation = 'OFDM PLC' AND snr < 20.0 THEN snr * 2.5 ELSE snr END",
    ),
    "mhz_to_hz": ("(mhz DOUBLE)", "DOUBLE", "mhz * 1000000.0"),
    "khz_to_hz": ("(khz DOUBLE)", "DOUBLE", "khz * 1000.0"),
    # similarity / dedup scalars
    "cosine_sim": (
        "(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>)",
        "DOUBLE",
        """
        aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, x) -> acc + x)
        / (sqrt(aggregate(zip_with(a, a, (x, y) -> x * y), 0D, (acc, x) -> acc + x))
         * sqrt(aggregate(zip_with(b, b, (x, y) -> x * y), 0D, (acc, x) -> acc + x)))
        """,
    ),
    "hamming64": ("(a BIGINT, b BIGINT)", "INT", "bit_count(a ^ b)"),
    # text scalars
    "norm_text": (
        "(t STRING)",
        "STRING",
        r"trim(regexp_replace(lower(t), '\\s+', ' '))",
    ),
    "content_fingerprint": (
        "(t STRING)",
        "STRING",
        r"md5(trim(regexp_replace(lower(t), '\\s+', ' ')))",
    ),
    "token_count": (
        "(t STRING)",
        "INT",
        r"size(split(trim(t), '\\s+'))",
    ),
    "punct_ratio": (
        "(t STRING)",
        "DOUBLE",
        r"""
        CAST(length(t) - length(regexp_replace(t, '[^A-Za-z0-9\\s]', '')) AS DOUBLE)
        / CAST(length(t) AS DOUBLE)
        """,
    ),
}


def _register(
    spark: SparkSession,
    defs: dict[str, tuple[str, str, str]],
    names: Iterable[str],
) -> list[str]:
    """Create each of ``names`` (keys of ``defs``) as a temporary SQL
    function in this session, one statement after another, unless the
    session already has it; returns ``names`` as a list.

    Each session keeps one set of the names it has registered, shared
    by both vocabularies: a CREATE is a catalog round-trip that parses
    and analyses the body, so a name is created once per session. A
    name joins the set only after its CREATE succeeded."""
    done = getattr(spark, "_registered_functions", None)
    if done is None:
        done = spark._registered_functions = set()
    names = list(names)
    for name in names:
        if name not in done:
            sig, ret, body = defs[name]
            spark.sql(
                f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{sig} "
                f"RETURNS {ret} RETURN {body}"
            )
            done.add(name)
    return names


def register_sql_functions(spark: SparkSession) -> list[str]:
    """Register every engine scalar function as a temporary SQL function
    in this session; returns the registered names."""
    return _register(spark, SQL_FUNCTIONS, SQL_FUNCTIONS)
