"""ClickHouse dialect bridge: migrated ClickHouse SQL runs verbatim
through spark.sql after registration, and every alias matches the
native Spark expression it claims to equal."""

from __future__ import annotations

import datetime as dt
import re

import pytest
from pyspark.sql import Row

from mb8600_clickhouse_spark.functions.clickhouse import (
    CLICKHOUSE_SCALARS,
    register_clickhouse_functions,
)


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    names = register_clickhouse_functions(spark)
    assert len(names) == len(CLICKHOUSE_SCALARS)


class TestDialectScalars:
    def test_clickhouse_flavored_query_runs_verbatim(self, spark):
        """The shape a reference-deployment dashboard would issue
        against the docsis/events tables, in ClickHouse spelling."""
        spark.createDataFrame(
            [
                Row(ts=dt.datetime(2026, 3, 2, 14, 37, 11), v="42", raw="a|b|c"),
                Row(ts=dt.datetime(2026, 3, 2, 15, 2, 3), v="x", raw="d|e"),
            ]
        ).createOrReplaceTempView("ch_t")
        rows = spark.sql(
            """
            SELECT toStartOfHour(ts) AS h,
                   toYYYYMM(ts) AS ym,
                   toDayOfWeek(ts) AS dow,
                   toUnixTimestamp(ts) AS ut,
                   toInt64OrNull(v) AS vi,
                   intDiv(7, 2) AS d,
                   modulo(-7, 3) AS m,
                   splitByChar('|', raw) AS parts,
                   arrayStringConcat(splitByChar('|', raw), '-') AS joined
            FROM ch_t ORDER BY ts
            """
        ).collect()
        r = rows[0]
        assert r["h"] == dt.datetime(2026, 3, 2, 14, 0)
        assert r["ym"] == 202603
        assert r["dow"] == 1  # 2026-03-02 is a Monday; CH Monday=1
        assert r["ut"] == int(dt.datetime(2026, 3, 2, 14, 37, 11, tzinfo=dt.timezone.utc).timestamp())
        assert r["vi"] == 42 and rows[1]["vi"] is None  # OrNull degrades
        assert r["d"] == 3 and r["m"] == -1  # C-style sign, like CH
        assert r["parts"] == ["a", "b", "c"] and r["joined"] == "a-b-c"

    def test_day_of_week_full_cycle(self, spark):
        """CH numbering Monday=1..Sunday=7 across a whole week."""
        got = spark.sql(
            """
            SELECT collect_list(toDayOfWeek(to_timestamp(d))) AS dows
            FROM (SELECT explode(sequence(DATE'2026-03-02', DATE'2026-03-08')) AS d)
            """
        ).first()["dows"]
        assert got == [1, 2, 3, 4, 5, 6, 7]

    def test_array_scalars(self, spark):
        r = spark.sql(
            """
            SELECT arraySum(array(1.0D, 2.5D, NULL)) AS s,
                   arrayAvg(array(2.0D, 4.0D)) AS a,
                   arrayMax(array(1.0D, 9.0D)) AS mx,
                   has(array('x','y'), 'y') AS h,
                   arrayDistinct(array('a','a','b')) AS dd
            """
        ).first()
        assert r["s"] == 3.5 and r["a"] == 3.0 and r["mx"] == 9.0
        assert r["h"] is True and sorted(r["dd"]) == ["a", "b"]

    def test_split_by_char_is_literal_not_regex(self, spark):
        """splitByChar('.', s) must split on a literal dot."""
        r = spark.sql("SELECT splitByChar('.', 'a.b.c') AS p").first()["p"]
        assert r == ["a", "b", "c"]

    def test_aliases_inline_into_codegen(self, spark):
        """The bridge is free: the alias body inlines into the plan
        (no python UDF / no extra project stage referencing the UDF)."""
        spark.range(3).createOrReplaceTempView("ch_n")
        plan = spark.sql(
            "SELECT intDiv(id, 2) AS x FROM ch_n"
        )._jdf.queryExecution().optimizedPlan().toString()
        assert "intdiv" not in plan.lower() or "div" in plan.lower()
        assert "BatchEvalPython" not in plan  # never a python UDF

    def test_bodies_name_no_sibling_scalar(self):
        """register_clickhouse_functions registers only the scalars a
        statement names. That is only correct while every body is
        self-contained: a body calling another registered scalar would
        fail its CREATE in a session where the sibling is not yet
        registered."""
        calls = re.compile(
            r"(?<![\w.`])("
            + "|".join(map(re.escape, CLICKHOUSE_SCALARS))
            + r")\s*\(",
            re.IGNORECASE,
        )
        assert calls.search("intDiv(x, 2) + 1")  # the matcher itself works
        offenders = {
            name: sorted({m.group(1) for m in calls.finditer(body)})
            for name, (_sig, _ret, body) in CLICKHOUSE_SCALARS.items()
            if calls.search(body)
        }
        assert offenders == {}



class TestOnDemandRegistration:
    """ch_sql registers, in the statement's session, the scalars the
    statement names; each test starts from a fresh session, which has
    none of them."""

    @pytest.fixture()
    def session(self, spark):
        s = spark.newSession()
        s.createDataFrame(
            [
                Row(id=1, ts=dt.datetime(2026, 3, 2, 14, 37, 11), v=2.0),
                Row(id=4, ts=dt.datetime(2026, 3, 3, 9, 5, 0), v=3.0),
            ]
        ).createOrReplaceTempView("od_t")
        return s

    def test_statement_registers_exactly_its_scalars(self, session):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        rows = ch_sql(
            session,
            "SELECT toStartOfHour(ts) AS h, toYYYYMM(ts) AS ym, "
            "toDayOfWeek(ts) AS dow, count() AS n "
            "FROM od_t GROUP BY 1, 2, 3 ORDER BY h",
        ).collect()
        assert rows[0]["h"] == dt.datetime(2026, 3, 2, 14, 0)
        assert rows[0]["dow"] == 1 and rows[1]["ym"] == 202603
        mine = {"toStartOfHour", "toYYYYMM", "toDayOfWeek"}
        assert session._registered_functions == mine
        assert all(session.catalog.functionExists(n) for n in mine)
        assert not session.catalog.functionExists("toMonth")

    def test_lower_case_spelling_resolves(self, session):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        r = ch_sql(session, "SELECT tostartofhour(ts) AS h FROM od_t WHERE id = 1")
        assert r.first()["h"] == dt.datetime(2026, 3, 2, 14, 0)

    def test_scalar_only_in_cte_or_subquery_resolves(self, session):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        cte = ch_sql(
            session,
            "WITH b AS (SELECT intDiv(id, 2) AS k FROM od_t) "
            "SELECT sum(k) AS s FROM b",
        )
        assert cte.first()["s"] == 2
        sub = ch_sql(
            session,
            "SELECT max(m) AS m FROM (SELECT toMonth(ts) AS m FROM od_t)",
        )
        assert sub.first()["m"] == 3

    def test_with_fill_and_asof_scalars_resolve(self, session):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        fill = ch_sql(
            session,
            "SELECT intDiv(id, 2) AS k, sum(v) AS total FROM od_t GROUP BY k "
            "ORDER BY k WITH FILL FROM 0 TO 4",
        )
        assert [(r["k"], r["total"]) for r in fill.collect()] == [
            (0, 2.0), (1, 0.0), (2, 3.0), (3, 0.0)
        ]
        session.createDataFrame(
            [Row(id=1, ts=dt.datetime(2026, 3, 2, 12, 0), w=7.0)]
        ).createOrReplaceTempView("od_r")
        asof = ch_sql(
            session,
            "SELECT toYYYYMMDD(l.ts) AS d, r.w AS w FROM od_t l "
            "ASOF JOIN od_r r ON l.id = r.id AND l.ts >= r.ts",
        ).collect()
        assert [(r["d"], r["w"]) for r in asof] == [(20260302, 7.0)]

    def test_repeated_statement_issues_no_create(self, session, monkeypatch):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        sql = "SELECT toHour(ts) AS hr FROM od_t ORDER BY hr"
        first = ch_sql(session, sql).collect()
        issued = []
        real = session.sql

        def spy(text, *args, **kwargs):
            issued.append(text)
            return real(text, *args, **kwargs)

        monkeypatch.setattr(session, "sql", spy)
        assert ch_sql(session, sql).collect() == first
        assert len(issued) == 1
        assert not any("CREATE" in t.upper() for t in issued)

    def test_no_text_registers_whole_vocabulary(self, session):
        names = register_clickhouse_functions(session)
        assert sorted(names) == sorted(CLICKHOUSE_SCALARS)
        assert session._registered_functions == set(CLICKHOUSE_SCALARS)

class TestRound5DateAliases:
    def test_quarter_family_and_monday(self, spark):
        rows = spark.sql(
            """
            SELECT toQuarter(TIMESTAMP '2026-08-14 13:47:21') AS q,
                   toDayOfYear(TIMESTAMP '2026-02-01 00:00:00') AS doy,
                   toStartOfQuarter(TIMESTAMP '2026-08-14 13:47:21') AS soq,
                   toMonday(TIMESTAMP '2026-08-14 13:47:21') AS mon,
                   toStartOfFifteenMinutes(TIMESTAMP '2026-08-14 13:47:21') AS s15,
                   toRelativeHourNum(TIMESTAMP '1970-01-02 01:30:00') AS rh
            """
        ).collect()[0]
        import datetime as dt

        assert rows["q"] == 3 and rows["doy"] == 32
        assert rows["soq"] == dt.date(2026, 7, 1)
        assert rows["mon"] == dt.date(2026, 8, 10)  # 2026-08-14 is a Friday
        assert rows["s15"] == dt.datetime(2026, 8, 14, 13, 45, 0)
        assert rows["rh"] == 25


class TestRound6Scalars:
    """Round-6 scalar additions (dashboard gap probe)."""

    def test_values(self, spark):
        cases = {
            "toStartOfFiveMinute(timestamp'2024-01-01 10:07:33')": "2024-01-01 10:05:00",
            # pre-1970 (negative epoch) must still FLOOR, not round to zero
            "toStartOfFiveMinute(timestamp'1969-12-31 23:57:10')": "1969-12-31 23:55:00",
            "toStartOfTenMinutes(timestamp'1969-12-31 23:57:10')": "1969-12-31 23:50:00",
            "toStartOfFifteenMinutes(timestamp'1969-12-31 23:57:10')": "1969-12-31 23:45:00",
            "empty('')": 1,
            "empty('x')": 0,
            "notEmpty('x')": 1,
            "trimBoth('  x ')": "x",
            "leftPad('a', 3, '0')": "00a",
            "rightPad('a', 3, '0')": "a00",
            "toFloat64OrZero('nope')": 0.0,
            "toFloat64OrNull('nope')": None,
            "toInt64OrZero('12')": 12,
            "roundBankers(2.5)": 2.0,  # half-to-even, NOT round()'s 3
            "roundBankers(3.5)": 4.0,
            "intDivOrZero(10, 0)": 0,
            "intDivOrZero(10, 3)": 3,
            # addDays keeps its original TIMESTAMP signature (DATE input
            # implicitly widens — CH would keep Date; documented)
            "addDays(DATE'2024-01-10', -7)": "2024-01-03 00:00:00",
            "addHours(timestamp'2024-01-01 10:00:00', 25)": "2024-01-02 11:00:00",
        }
        for expr, want in cases.items():
            got = spark.sql(f"SELECT {expr} AS x").collect()[0]["x"]
            if want is None:
                assert got is None, expr
            else:
                assert str(got) == str(want), (expr, got, want)


class TestUrlFunctions:
    """Round-8 URL vocabulary: pure RE2-compatible regex projections
    (q166 hash-pins the cross-engine behavior; these pin the per-edge
    CH semantics the docstrings claim)."""

    def test_url_family_edges(self, spark):
        from mb8600_clickhouse_spark.functions.clickhouse import (
            register_clickhouse_functions,
        )

        register_clickhouse_functions(spark)
        cases = {
            # (expr) -> expected
            "protocol('https://x.com/a')": "https",
            "protocol('x.com/a')": "",
            "domain('http://user:pw@news.site.org:8080/p')": "news.site.org",
            "domain('example.com/bare?q=5')": "example.com",
            "domain('/relative/only')": "",
            "domainWithoutWWW('https://www.Example.COM/a')": "Example.COM",
            "topLevelDomain('https://a.b.co.jp/x')": "jp",
            "topLevelDomain('localhost:9000/x')": "",
            "firstSignificantSubdomain('http://www.example.com.tr/i')": "example",
            "firstSignificantSubdomain('https://a.b.co.jp/x')": "b",
            "firstSignificantSubdomain('https://deep.sub.example.com/')": "example",
            "path('https://example.com/a/b?x=1#f')": "/a/b",
            "path('https://example.com')": "",
            "pathFull('https://example.com/a?x=1#f')": "/a?x=1#f",
            "queryString('https://e.com/a?x=1&y=2#f')": "x=1&y=2",
            # '?' inside the fragment is NOT a query string
            "queryString('https://e.com/a#f?notaquery')": "",
            "fragment('https://e.com/a#f?x')": "f?x",
            "queryStringAndFragment('https://e.com/a?x=1#f')": "x=1#f",
            "queryStringAndFragment('https://e.com/a#f')": "#f",
            "extractURLParameter('https://e.com/?p=1&pp=2', 'p')": "1",
            "extractURLParameter('https://e.com/?a=1', 'p')": "",
            # regex metacharacters in the parameter name stay literal
            "extractURLParameter('https://e.com/?a.b=7', 'a.b')": "7",
            "extractURLParameter('https://e.com/?axb=7', 'a.b')": "",
            "cutQueryString('https://e.com/a?x=1#f')": "https://e.com/a#f",
            "cutFragment('https://e.com/a?x=1#f#g')": "https://e.com/a?x=1",
            "cutQueryStringAndFragment('https://e.com/a?x=1#f')": "https://e.com/a",
            "cutWWW('http://user@www.e.com/a')": "http://user@e.com/a",
            "cutWWW('https://notwww.e.com/')": "https://notwww.e.com/",
        }
        for expr, want in cases.items():
            got = spark.sql(f"SELECT {expr} AS x").collect()[0]["x"]
            assert got == want, (expr, got, want)


class TestArrayStringVocabulary:
    """Round-8 array/string-search scalars (q169/q170 hash-pin the
    cross-engine behavior; these pin per-edge CH semantics)."""

    def test_array_family_edges(self, spark):
        from mb8600_clickhouse_spark.functions.clickhouse import (
            register_clickhouse_functions,
        )

        register_clickhouse_functions(spark)
        cases = {
            "arrayEnumerate(CAST(array() AS ARRAY<STRING>))": [],
            "arrayEnumerateUniq(array('a','b','a','a','b'))": [1, 1, 2, 3, 2],
            "arrayCompact(array('a','a','b','b','a'))": ["a", "b", "a"],
            "arrayIntersect(array('c','a','b'), array('b','c','d'))": ["b", "c"],
            "hasAll(array('a'), CAST(array() AS ARRAY<STRING>))": True,
            "indexOf(array('a'), 'z')": 0,
            "arraySlice(array('a','b','c','d'), -2, 2)": ["c", "d"],
            "arrayPopBack(CAST(array() AS ARRAY<STRING>))": [],
            "arrayPopFront(CAST(array() AS ARRAY<STRING>))": [],
            "countSubstrings('aaa', 'aa')": 1,  # non-overlapping
            "countSubstrings('abc', '')": 0,
            "ngrams('ab', 3)": [],
            "positionCH('hello world', 'world')": 7,
            "tokens('Hello, world! 42')": ["Hello", "world", "42"],
            # startsWith/endsWith resolve to the native builtins
            # case-insensitively — verbatim CH needs no alias
            "startsWith('hello', 'he')": True,
            "endsWith('hello', 'lo')": True,
        }
        for expr, want in cases.items():
            got = spark.sql(f"SELECT {expr} AS x").collect()[0]["x"]
            got = list(got) if isinstance(got, list) else got
            assert got == want, (expr, got, want)

    def test_position_builtin_not_replaceable(self, spark):
        # the trap DIALECT_NOTES documents: Spark's position() survives
        # registration with REVERSED (substr, haystack) argument order
        from mb8600_clickhouse_spark.functions.clickhouse import (
            register_clickhouse_functions,
        )

        register_clickhouse_functions(spark)
        got = spark.sql("SELECT position('lo', 'hello') AS x").collect()[0].x
        assert got == 4  # Spark semantics: needle FIRST


class TestIPv4Functions:
    def test_ipv4_edges(self, spark):
        from mb8600_clickhouse_spark.functions.clickhouse import (
            register_clickhouse_functions,
        )

        register_clickhouse_functions(spark)
        cases = {
            "IPv4NumToString(3232235777)": "192.168.1.1",
            "IPv4NumToString(0)": "0.0.0.0",
            "IPv4NumToString(4294967295)": "255.255.255.255",
            "IPv4StringToNum('192.168.1.1')": 3232235777,
            "IPv4StringToNum('256.1.1.1')": None,  # octet out of range
            "IPv4StringToNum('1.2.3')": None,
            "IPv4StringToNum('a.b.c.d')": None,
            "isIPv4String('10.0.0.1')": True,
            "isIPv4String('999.0.0.1')": False,
            "isIPv4String('10.0.0.1.5')": False,
            "IPv4CIDRToRange(3232235777, 24).lo": 3232235776,
            "IPv4CIDRToRange(3232235777, 24).hi": 3232236031,
            "IPv4CIDRToRange(3232235777, 32).lo": 3232235777,
            "IPv4CIDRToRange(3232235777, 0).lo": 0,
            "IPv4CIDRToRange(3232235777, 0).hi": 4294967295,
        }
        for expr, want in cases.items():
            got = spark.sql(f"SELECT {expr} AS x").collect()[0]["x"]
            assert got == want, (expr, got, want)


class TestArrayAUC:
    def test_known_answers(self, spark):
        from mb8600_clickhouse_spark.functions.clickhouse import (
            register_clickhouse_functions,
        )

        register_clickhouse_functions(spark)
        cases = {
            # sklearn.roc_auc_score pins
            "arrayAUC(array(0.1D, 0.4D, 0.35D, 0.8D), array(0, 0, 1, 1))": 0.75,
            "arrayAUC(array(0.1D, 0.2D, 0.8D, 0.9D), array(0, 0, 1, 1))": 1.0,
            "arrayAUC(array(0.9D, 0.8D, 0.1D), array(0, 0, 1))": 0.0,
            "arrayAUC(array(0.5D, 0.5D, 0.5D, 0.5D), array(0, 1, 0, 1))": 0.5,
            "arrayAUC(array(0.1D, 0.2D), array(1, 1))": None,  # one class
        }
        for expr, want in cases.items():
            got = spark.sql(f"SELECT {expr} AS x").collect()[0].x
            assert got == want, (expr, got, want)

    def test_order_free(self, spark):
        # rank formulation: permuting the paired arrays cannot change
        # the result (why groupArray composition needs no sort)
        import random

        from mb8600_clickhouse_spark.functions.clickhouse import (
            register_clickhouse_functions,
        )

        register_clickhouse_functions(spark)
        rng = random.Random("auc-17")
        pairs = [(round(rng.random(), 3), rng.randint(0, 1))
                 for _ in range(40)]
        if not any(l for _, l in pairs):
            pairs[0] = (pairs[0][0], 1)
        vals = []
        for _ in range(3):
            rng.shuffle(pairs)
            s = ", ".join(f"{v}D" for v, _ in pairs)
            l = ", ".join(str(l) for _, l in pairs)
            vals.append(
                spark.sql(
                    f"SELECT arrayAUC(array({s}), array({l})) AS x"
                ).collect()[0].x
            )
        assert vals[0] == vals[1] == vals[2]


class TestJsonExtraction:
    def test_json_family(self, spark):
        from mb8600_clickhouse_spark.functions.clickhouse import (
            register_clickhouse_functions,
        )

        register_clickhouse_functions(spark)
        cases = {
            """JSONExtractInt('{"k": 69}', 'k')""": 69,
            """JSONExtractInt('{"k": "notnum"}', 'k')""": None,
            """JSONExtractFloat('{"x": 1.5}', 'x')""": 1.5,
            """JSONExtractString('{"s": "hi"}', 's')""": "hi",
            """JSONExtractBool('{"b": true}', 'b')""": True,
            """JSONHas('{"k": 69}', 'k')""": True,
            """JSONHas('{"k": 69}', 'z')""": False,
            """JSONLength('[1,2,3]')""": 3,
            """JSONLength('{"a":1,"b":2}')""": 2,
            # nested composition: Raw + typed
            """JSONExtractBool(JSONExtractRaw('{"m": {"ok": true}}', 'm'), 'ok')""": True,
        }
        for expr, want in cases.items():
            got = spark.sql(f"SELECT {expr} AS x").collect()[0].x
            assert got == want, (expr, got, want)


class TestGeoFunctions:
    def test_point_in_polygon_property(self, spark):
        import random

        from mb8600_clickhouse_spark.functions.clickhouse import (
            register_clickhouse_functions,
        )

        register_clickhouse_functions(spark)

        def pip(px, py, poly):
            inside = False
            n = len(poly)
            for i in range(n):
                ax, ay = poly[i]
                bx, by = poly[(i + 1) % n]
                if (ay > py) != (by > py):
                    cross = (bx - ax) * (py - ay) - (px - ax) * (by - ay)
                    if cross * (1 if by > ay else -1) > 0:
                        inside = not inside
            return inside

        rng = random.Random("geo-23")
        poly = [(0, 0), (20, 0), (20, 20), (12, 8), (5, 18), (0, 10)]
        polysql = "array(" + ", ".join(
            f"named_struct('x', {x}L, 'y', {y}L)" for x, y in poly
        ) + ")"
        pts = [(rng.randint(-2, 22), rng.randint(-2, 22))
               for _ in range(50)]
        exprs = ", ".join(
            f"pointInPolygon({x}L, {y}L, {polysql}) AS p{i}"
            for i, (x, y) in enumerate(pts)
        )
        row = spark.sql(f"SELECT {exprs}").collect()[0]
        for i, (x, y) in enumerate(pts):
            assert row[f"p{i}"] == pip(x, y, poly), (x, y)

    def test_great_circle_known(self, spark):
        from mb8600_clickhouse_spark.functions.clickhouse import (
            register_clickhouse_functions,
        )

        register_clickhouse_functions(spark)
        # London -> Paris ~ 343.5 km (haversine, R = 6371 km)
        d = spark.sql(
            "SELECT greatCircleDistance(-0.1278, 51.5074, "
            "2.3522, 48.8566) AS d"
        ).collect()[0].d
        assert 342_000 < d < 345_000
        z = spark.sql(
            "SELECT greatCircleDistance(1.0, 2.0, 1.0, 2.0) AS d"
        ).collect()[0].d
        assert z == 0.0


class TestStringReplaceFamily:
    def test_replace_and_search(self, spark):
        from mb8600_clickhouse_spark.functions.clickhouse import (
            register_clickhouse_functions,
        )

        register_clickhouse_functions(spark)
        cases = {
            "replaceAll('a-b-c', '-', '+')": "a+b+c",
            "replaceRegexpAll('a1b22c', '[0-9]+', '#')": "a#b#c",
            "countMatches('a1b22c333', '[0-9]+')": 3,
            "concatWithSeparator('|', 'x', 'y')": "x|y",
            "substringIndex('a.b.c', '.', 2)": "a.b",
            "substringIndex('a.b.c', '.', -1)": "c",
        }
        for expr, want in cases.items():
            got = spark.sql(f"SELECT {expr} AS x").collect()[0].x
            assert got == want, (expr, got, want)


class TestArraySimilarity:
    def test_jaccard_hassubstr_rotations(self, spark):
        from mb8600_clickhouse_spark.functions.clickhouse import (
            register_clickhouse_functions,
        )

        register_clickhouse_functions(spark)
        cases = {
            "arrayJaccardIndex(array('a','b','c'), array('b','c','d'))": 0.5,
            "arrayJaccardIndex(array('a','a','b'), array('a'))": 0.5,
            "hasSubstr(array('a','b','c','d'), array('b','c'))": True,
            "hasSubstr(array('a','b','c'), array('a','c'))": False,
            "hasSubstr(array('a'), CAST(array() AS ARRAY<STRING>))": True,
            "hasSubstr(array('a'), array('a','b'))": False,
            "arrayRotateLeft(array('a','b','c','d'), 5)": ["b", "c", "d", "a"],
            "arrayRotateRight(array('a','b','c','d'), 1)": ["d", "a", "b", "c"],
            "arrayRotateLeft(CAST(array() AS ARRAY<STRING>), 3)": [],
        }
        for e, w in cases.items():
            got = spark.sql(f"SELECT {e} AS x").collect()[0].x
            got = list(got) if isinstance(got, list) else got
            assert got == w, (e, got, w)


class TestVectorDistances:
    def test_known_answers(self, spark):
        import math

        from mb8600_clickhouse_spark.functions.clickhouse import (
            register_clickhouse_functions,
        )

        register_clickhouse_functions(spark)
        a, b = "array(1.0D, 2.0D, 3.0D)", "array(4.0D, 6.0D, 8.0D)"
        cases = {
            f"dotProduct({a}, {b})": 1 * 4 + 2 * 6 + 3 * 8,
            f"L1Distance({a}, {b})": 3 + 4 + 5,
            f"L2SquaredDistance({a}, {b})": 9 + 16 + 25,
            f"L2Distance({a}, {b})": math.sqrt(50),
            f"LinfDistance({a}, {b})": 5.0,
            f"cosineDistance({a}, {a})": 0.0,
            "cosineDistance(array(0.0D), array(1.0D))": None,  # zero norm
        }
        for e, w in cases.items():
            got = spark.sql(f"SELECT {e} AS x").collect()[0].x
            if w is None:
                assert got is None, e
            else:
                assert got == pytest.approx(w, rel=1e-12), (e, got, w)


class TestSplitBase64:
    def test_split_and_base64(self, spark):
        from mb8600_clickhouse_spark.functions.clickhouse import (
            register_clickhouse_functions,
        )

        register_clickhouse_functions(spark)
        cases = {
            "splitByString('--', 'a--b--c')": ["a", "b", "c"],
            "splitByString('.', 'a.b')": ["a", "b"],  # regex-safe sep
            "splitByRegexp('[0-9]+', 'a1b22c')": ["a", "b", "c"],
            "splitByWhitespace('  a  b\\tc ')": ["a", "b", "c"],
            "base64Encode('hello')": "aGVsbG8=",
            "base64Decode('aGVsbG8=')": "hello",
        }
        for e, w in cases.items():
            got = spark.sql(f"SELECT {e} AS x").collect()[0].x
            got = list(got) if isinstance(got, list) else got
            assert got == w, (e, got, w)

    def test_split_round9_edges(self, spark):
        """Round-9 parity fixes: splitByChar rejects multi-char
        separators loudly (CH raises); splitByString('') splits into
        characters with NO trailing empty and '' -> []; non-empty
        separators keep empty tokens including trailing ones; the
        toDateTime string form parses like CH."""
        import pytest

        from mb8600_clickhouse_spark.functions.clickhouse import (
            register_clickhouse_functions,
        )

        register_clickhouse_functions(spark)
        cases = {
            "splitByString('', 'abc')": ["a", "b", "c"],
            "splitByString('', '')": [],
            "splitByString('b', 'abcb')": ["a", "c", ""],
            "splitByChar(',', 'a,b,,')": ["a", "b", "", ""],
        }
        for e, w in cases.items():
            got = spark.sql(f"SELECT {e} AS x").collect()[0].x
            assert list(got) == w, (e, got, w)
        t = spark.sql(
            "SELECT toDateTime('2024-01-01 12:30:00') AS x"
        ).collect()[0].x
        assert (t.year, t.hour, t.minute) == (2024, 12, 30)
        assert spark.sql(
            "SELECT toDateTimeOrNull('garbage') AS x"
        ).collect()[0].x is None
        with pytest.raises(Exception, match="exactly one character"):
            spark.sql("SELECT splitByChar('ab', 'xaby') AS x").collect()


class TestMapFunctions:
    def test_map_family(self, spark):
        from mb8600_clickhouse_spark.functions.clickhouse import (
            register_clickhouse_functions,
        )

        register_clickhouse_functions(spark)
        m = "mapFromArrays(array('a','b'), array('1','2'))"
        cases = {
            f"sort_array(mapKeys({m}))": ["a", "b"],
            f"sort_array(mapValues({m}))": ["1", "2"],
            f"mapContains({m}, 'a')": True,
            f"mapContains({m}, 'z')": False,
            f"element_at({m}, 'b')": "2",
        }
        for e, w in cases.items():
            got = spark.sql(f"SELECT {e} AS x").collect()[0].x
            got = list(got) if isinstance(got, list) else got
            assert got == w, (e, got, w)


class TestDecodeURLComponent:
    def test_known_and_property(self, spark):
        import random
        from urllib.parse import quote, unquote

        from mb8600_clickhouse_spark.functions.clickhouse import (
            register_clickhouse_functions,
        )

        register_clickhouse_functions(spark)
        known = {
            "hello%20world": "hello world",
            "caf%C3%A9": "café",          # multi-byte UTF-8
            "%41%42%43": "ABC",
            "no-escapes": "no-escapes",
            "trailing%": "trailing%",           # malformed: literal kept
            "bad%zz1": "bad%zz1",
        }
        for s, w in known.items():
            got = spark.sql(
                f"SELECT decodeURLComponent('{s}') AS x"
            ).collect()[0].x
            assert got == w, (s, got, w)
        # property: quote -> decode round-trips, incl. non-ASCII
        rng = random.Random("urldecode-7")
        alphabet = "ab c/?&=%é中!"
        for _ in range(25):
            raw = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 20)))
            enc = quote(raw, safe="")
            got = spark.sql(
                f"SELECT decodeURLComponent('{enc}') AS x"
            ).collect()[0].x
            assert got == unquote(enc), (raw, enc, got)


class TestEncodeURLComponent:
    def test_roundtrip_vs_urllib(self, spark):
        import random
        from urllib.parse import quote

        from mb8600_clickhouse_spark.functions.clickhouse import (
            register_clickhouse_functions,
        )

        register_clickhouse_functions(spark)
        known = {
            "hello world": "hello%20world",
            "café": "caf%C3%A9",
            "a-b._~c": "a-b._~c",  # unreserved kept literal
            "": "",
            "100%": "100%25",
        }
        for s, w in known.items():
            esc = s.replace("'", "''")
            got = spark.sql(
                f"SELECT encodeURLComponent('{esc}') AS x"
            ).collect()[0].x
            assert got == w, (s, got, w)
        rng = random.Random("urlencode-9")
        alphabet = "ab c/?&=%é中!-._~A9"
        for _ in range(20):
            raw = "".join(
                rng.choice(alphabet) for _ in range(rng.randint(0, 18))
            )
            esc = raw.replace("'", "''")
            got = spark.sql(
                f"SELECT encodeURLComponent('{esc}') AS x"
            ).collect()[0].x
            assert got == quote(raw, safe="-._~"), (raw, got)
        # decode inverts encode
        r = spark.sql(
            "SELECT decodeURLComponent(encodeURLComponent('caf é/中%')) AS x"
        ).collect()[0].x
        assert r == "caf é/中%"


class TestDateTimeCompletions:
    def test_subtract_add_calendar(self, spark):
        from mb8600_clickhouse_spark.functions.clickhouse import (
            register_clickhouse_functions,
        )

        register_clickhouse_functions(spark)
        cases = {
            "subtractHours(timestamp'2024-01-02 10:30:00', 11)":
                "2024-01-01 23:30:00",
            "subtractMinutes(timestamp'2024-01-01 00:10:00', 15)":
                "2023-12-31 23:55:00",
            "subtractSeconds(timestamp'2024-01-01 00:00:10', 20)":
                "2023-12-31 23:59:50",
            # month-end clamp, time-of-day preserved (CH contract)
            "addMonths(timestamp'2024-01-31 10:15:00', 1)":
                "2024-02-29 10:15:00",
            "addYears(timestamp'2024-02-29 08:00:00', 1)":
                "2025-02-28 08:00:00",
            "toLastDayOfMonth(timestamp'2024-02-10 12:00:00')": "2024-02-29",
            # Sunday-based week start (CH mode 0); 2024-01-03 is a Wed
            "toStartOfWeek(timestamp'2024-01-03 12:00:00')": "2023-12-31",
            "toStartOfWeek(timestamp'2023-12-31 01:00:00')": "2023-12-31",
            "toMonday(timestamp'2024-01-03 12:00:00')": "2024-01-01",
        }
        for e, w in cases.items():
            got = spark.sql(f"SELECT {e} AS x").collect()[0].x
            assert str(got) == w, (e, got, w)
