"""Non-scalar ClickHouse dialect pre-rewriter (functions/chsql.py):
string-level rewrite correctness plus end-to-end execution of rewritten
queries against DataFrames, including every form q76 relies on."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import Row

from mb8600_clickhouse_spark.functions.chsql import (
    ChSqlError,
    rewrite_clickhouse_sql as rw,
)
from mb8600_clickhouse_spark.functions.clickhouse import (
    register_clickhouse_functions,
)


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register_clickhouse_functions(spark)


class TestCombinatorRewrites:
    def test_quantile_family(self):
        assert rw("SELECT quantile(0.95)(v) FROM t") == (
            "SELECT percentile_approx(v, 0.95) FROM t"
        )
        assert rw("SELECT quantileExact(0.5)(v) FROM t") == (
            "SELECT percentile(v, 0.5) FROM t"
        )
        assert rw("SELECT quantileTDigest(0.9)(x + 1) FROM t") == (
            "SELECT percentile_approx(x + 1, 0.9) FROM t"
        )

    def test_uniq(self):
        assert rw("SELECT uniq(u) FROM t") == "SELECT approx_count_distinct(u) FROM t"
        assert rw("SELECT uniqExact(u) FROM t") == "SELECT count(DISTINCT u) FROM t"

    def test_if_combinators(self):
        assert rw("SELECT countIf(v > 0) FROM t") == "SELECT count_if(v > 0) FROM t"
        assert rw("SELECT sumIf(v, v > 0) FROM t") == (
            "SELECT sum(CASE WHEN v > 0 THEN v END) FROM t"
        )
        # nested comma inside the condition must not split the args
        assert rw("SELECT avgIf(v, k IN (1, 2)) FROM t") == (
            "SELECT avg(CASE WHEN k IN (1, 2) THEN v END) FROM t"
        )

    def test_array_lambda_family(self):
        assert rw("SELECT arrayMap(x -> x + 1, a) FROM t") == (
            "SELECT transform(a, x -> x + 1) FROM t"
        )
        assert rw("SELECT arrayMap((x, y) -> x * y, a, b) FROM t") == (
            "SELECT zip_with(a, b, (x, y) -> x * y) FROM t"
        )
        assert rw("SELECT arrayFilter(x -> x > 0, a) FROM t") == (
            "SELECT filter(a, x -> x > 0) FROM t"
        )
        assert rw("SELECT arrayExists(x -> x = 1, a), arrayAll(x -> x < 9, a) FROM t") == (
            "SELECT exists(a, x -> x = 1), forall(a, x -> x < 9) FROM t"
        )
        assert rw("SELECT arrayCount(x -> x > 2, a) FROM t") == (
            "SELECT size(filter(a, x -> x > 2)) FROM t"
        )
        # nested call inside the lambda must not break arg splitting
        assert rw("SELECT arrayMap(x -> greatest(x, 0), a) FROM t") == (
            "SELECT transform(a, x -> greatest(x, 0)) FROM t"
        )

    def test_format_datetime(self, spark):
        got = rw("SELECT formatDateTime(ts, '%Y-%m-%d %H:%i:%S') AS s FROM t")
        assert got == "SELECT date_format(ts, 'yyyy-MM-dd HH:mm:ss') AS s FROM t"
        # literal letters get quoted for Java patterns, and the quotes
        # escape as '' inside the emitted SQL literal (round 11: the
        # unescaped form broke the statement text — found by the
        # parseDateTime round-trip property)
        assert rw("SELECT formatDateTime(ts, '%HH') FROM t") == (
            "SELECT date_format(ts, 'HH''H''') FROM t"
        )
        with pytest.raises(ChSqlError, match="%-code"):
            rw("SELECT formatDateTime(ts, '%M') FROM t")  # version-ambiguous
        r = spark.sql(
            rw(
                "SELECT formatDateTime(TIMESTAMP '2026-08-14 13:47:21', "
                "'%F %T') AS s"
            )
        ).collect()[0]
        assert r["s"] == "2026-08-14 13:47:21"

    def test_median_and_sketch_family(self):
        assert rw("SELECT median(v) FROM t") == (
            "SELECT percentile_approx(v, 0.5) FROM t"
        )
        assert rw("SELECT uniqCombined(u), uniqCombined64(u), uniqTheta(u) FROM t") == (
            "SELECT approx_count_distinct(u), approx_count_distinct(u), "
            "approx_count_distinct(u) FROM t"
        )
        # ignoreNulls=true: CH's any family skips NULLs (ADVICE r10)
        assert rw("SELECT anyLast(v) FROM t GROUP BY k") == (
            "SELECT any_value(v, true) FROM t GROUP BY k"
        )

    def test_arg_extremum_and_hll_renames(self):
        assert rw("SELECT argMax(name, ts), argMin(v, ts) FROM t") == (
            "SELECT max_by(name, ts), min_by(v, ts) FROM t"
        )
        assert rw("SELECT uniqHLL12(u) FROM t") == (
            "SELECT approx_count_distinct(u) FROM t"
        )

    def test_any_aggregate_vs_quantified_comparison(self):
        assert rw("SELECT any(v) FROM t GROUP BY k") == (
            "SELECT any_value(v, true) FROM t GROUP BY k"
        )
        q = "SELECT k FROM t WHERE v > ANY (SELECT v FROM u)"
        assert rw(q) == q  # quantified form untouched
        got = rw("SELECT any(a), k FROM t WHERE v > ANY (SELECT v FROM u) GROUP BY k")
        assert got.startswith("SELECT any_value(a, true)") and "> ANY (SELECT" in got
        # the aggregate after a comparison: only a subquery argument is
        # the quantified form
        assert rw("SELECT k FROM t GROUP BY k HAVING max(v) = any(v)") == (
            "SELECT k FROM t GROUP BY k HAVING max(v) = any_value(v, true)"
        )
        assert rw("SELECT k, 7 = anyLast(v) AS g FROM t GROUP BY k") == (
            "SELECT k, 7 = any_value(v, true) AS g FROM t GROUP BY k"
        )

    def test_bare_count(self):
        assert rw("SELECT count() FROM t") == "SELECT count(*) FROM t"
        # count with an argument is untouched
        assert rw("SELECT count(x) FROM t") == "SELECT count(x) FROM t"

    def test_ansi_passthrough(self):
        q = "SELECT a, count(*) AS n FROM t WHERE a > 'uniq(' GROUP BY a"
        assert rw(q) == q  # idempotent on ANSI; literal content untouched


class TestArrayJoinRewrite:
    def test_basic(self):
        got = rw("SELECT k, arrayJoin(arr) AS x FROM t WHERE k > 0")
        assert "LATERAL VIEW explode(arr) __ajv___aj0 AS __aj0" in got
        assert "arrayJoin" not in got
        assert got.index("LATERAL VIEW") < got.index("WHERE")

    def test_same_expr_shares_one_view(self):
        got = rw("SELECT arrayJoin(a) AS x, arrayJoin(a) + 1 AS y FROM t")
        assert got.count("LATERAL VIEW") == 1

    def test_scalar_alias_inlined_in_generate(self):
        # Spark forbids SQL UDFs inside Generate: the splitByChar body
        # must be inlined, not called
        got = rw("SELECT arrayJoin(splitByChar(',', s)) AS x FROM t")
        # the alias CALL must be gone (its name may survive inside the
        # inlined body's single-char guard error message)
        assert "splitByChar(" not in got
        assert "split(" in got


class TestBracketRewrite:
    """CH bracket syntax: 1-based subscripts -> element_at, [..] array
    literals -> array(..). The subscript form previously passed through
    to Spark's ZERO-based brackets — silently shifted elements."""

    def test_subscript_one_based(self):
        assert rw("SELECT arr[1] FROM t") == (
            "SELECT element_at(arr, 1) FROM t"
        )
        assert rw("SELECT arr[-1] FROM t") == (
            "SELECT element_at(arr, -1) FROM t"
        )

    def test_postfix_chains(self):
        assert rw("SELECT splitByChar(',', s)[1] FROM t") == (
            "SELECT element_at(splitByChar(',', s), 1) FROM t"
        )
        assert rw("SELECT a.b.c[2] FROM t") == (
            "SELECT element_at(a.b.c, 2) FROM t"
        )
        assert rw("SELECT x[1][2] FROM t") == (
            "SELECT element_at(element_at(x, 1), 2) FROM t"
        )

    def test_array_literals(self):
        assert rw("SELECT [1, 2, 3] AS a") == "SELECT array(1, 2, 3) AS a"
        assert rw("SELECT [[1],[2]] AS n") == (
            "SELECT array(array(1),array(2)) AS n"
        )
        assert rw("SELECT arrayMap(x -> x + 1, [1, 2]) AS a") == (
            "SELECT transform(array(1, 2), x -> x + 1) AS a"
        )

    def test_nested_subscript_in_literal_and_vice_versa(self):
        assert rw("SELECT x[y[1]] FROM t") == (
            "SELECT element_at(x, element_at(y, 1)) FROM t"
        )
        assert rw("SELECT [a[1], 2] AS v FROM t") == (
            "SELECT array(element_at(a, 1), 2) AS v FROM t"
        )

    def test_string_literals_untouched(self):
        assert rw("SELECT 'lit [not] touched' AS s, arr[2] FROM t") == (
            "SELECT 'lit [not] touched' AS s, element_at(arr, 2) FROM t"
        )

    def test_map_key_subscript(self):
        assert rw("SELECT m['k'] FROM t") == (
            "SELECT element_at(m, 'k') FROM t"
        )

    def test_execution_parity(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql
        from mb8600_clickhouse_spark.functions.clickhouse import (
            register_clickhouse_functions,
        )

        register_clickhouse_functions(spark)
        r = ch_sql(
            spark,
            "SELECT splitByChar(',', 'a,b')[1] AS first, "
            "splitByChar(',', 'a,b')[-1] AS last, "
            "[10, 20, 30][2] AS lit2, map('k', 7)['k'] AS mk",
        ).collect()[0]
        assert (r.first, r.last, r.lit2, r.mk) == ("a", "b", 20, 7)


class TestArrayVocabularyTemplates:
    """Type-preserving ch_sql spellings of the array vocabulary (round
    9): the registered ARRAY<STRING> UDFs coerce numeric elements to
    strings on the direct spark.sql path; through ch_sql the template
    rewrites fire first and element types survive."""

    def test_templates_rewrite(self):
        assert rw("SELECT arrayDistinct(a) FROM t") == (
            "SELECT (array_distinct(a)) FROM t"
        )
        assert "array_contains" in rw("SELECT has(a, 1) FROM t")
        assert "array_position" in rw("SELECT indexOf(a, 1) FROM t")
        assert "concat(a, array(2))" in rw(
            "SELECT arrayPushBack(a, 2) FROM t"
        )

    def test_arity_dispatch_and_reject(self):
        assert "slice(a, 2, size(a))" in rw("SELECT arraySlice(a, 2) FROM t")
        assert "slice(a, 2, 3)" in rw("SELECT arraySlice(a, 2, 3) FROM t")
        with pytest.raises(ChSqlError, match="argument"):
            rw("SELECT arraySlice(a) FROM t")

    def test_types_preserved_end_to_end(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql
        from mb8600_clickhouse_spark.functions.clickhouse import (
            register_clickhouse_functions,
        )

        register_clickhouse_functions(spark)
        df = ch_sql(
            spark,
            "SELECT arrayCompact([1,1,2,1]) AS ac, "
            "arrayDistinct([3,1,3]) AS ad, "
            "arraySlice([1,2,3,4], -2) AS sl, "
            "arraySort(x -> -x, [1,3,2]) AS sk",
        )
        r = df.collect()[0]
        assert r.ac == [1, 2, 1] and r.ad == [3, 1]
        assert r.sl == [3, 4] and r.sk == [3, 2, 1]
        # element types are ints, not strings
        assert dict(df.dtypes)["ac"] == "array<int>"

    def test_array_search_and_operator_spellings(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        r = ch_sql(
            spark,
            "SELECT arrayFirst(x -> x > 1, [1,2,3]) AS af, "
            "arrayFirst(x -> x > 9, [1,2]) AS af0, "
            "arrayLast(x -> x < 3, [1,2,3]) AS al, "
            "arrayFirstIndex(x -> x > 1, [1,2,3]) AS afi, "
            "arrayFirstIndex(x -> x > 9, [1,2]) AS afi0, "
            "arrayLastIndex(x -> x < 3, [1,2,3]) AS ali, "
            "plus(2, 3) AS p, divide(10, 4) AS d, modulo(7, 3) AS mo, "
            "negate(5) AS ng, intExp2(10) AS e2, intExp10(3) AS e10",
        ).collect()[0]
        # arrayFirst/arrayLast: NULL when nothing matches (documented
        # OrNull convention vs CH's type default)
        assert (r.af, r.af0, r.al) == (2, None, 2)
        assert (r.afi, r.afi0, r.ali) == (2, 0, 2)
        assert (r.p, r.d, r.mo, r.ng) == (5, 2.5, 1, -5)
        assert (r.e2, r.e10) == (1024, 1000)

    def test_type_name_casts(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        df = ch_sql(
            spark,
            "SELECT CAST(number AS Float64) AS f, number::Int64 AS i, "
            "number::String AS s, CAST(number AS Nullable(Int64)) AS n, "
            "CAST([1,2] AS Array(Float64)) AS a, "
            "CAST(number AS Decimal64(2)) AS d, "
            "CAST(CAST(number AS String) AS Int32) AS rt "
            "FROM numbers(2)",
        )
        t = dict(df.dtypes)
        assert t["f"] == "double" and t["i"] == "bigint"
        assert t["a"] == "array<double>" and t["d"] == "decimal(18,2)"
        assert t["rt"] == "int"
        # Spark's own type names and strings pass through untouched
        assert "CAST(y AS STRING)" in rw(
            "SELECT CAST(y AS LowCardinality(String)) FROM t"
        )
        assert rw("SELECT CAST(x AS DOUBLE) FROM t") == (
            "SELECT CAST(x AS DOUBLE) FROM t"
        )
        assert rw("SELECT ':: Int64 kept' AS s") == (
            "SELECT ':: Int64 kept' AS s"
        )
        with pytest.raises(ChSqlError, match="timezone"):
            rw("SELECT CAST(x AS DateTime('America/New_York')) FROM t")

    def test_ternary_operator(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        r = [
            tuple(x)
            for x in ch_sql(
                spark,
                "SELECT number = 0 ? 'zero' : number = 1 ? 'one' : 'many'"
                " AS s FROM numbers(3) ORDER BY number",
            ).collect()
        ]
        assert r == [("zero",), ("one",), ("many",)]
        # C precedence: AND binds tighter than ?:
        out = rw("SELECT a > 1 AND b ? 'x' : 'y' AS s FROM t")
        assert "if(a > 1 AND b, 'x', 'y')" in out
        # :: casts are not split; parens delimit cleanly
        got = [
            x["n"]
            for x in ch_sql(
                spark,
                "SELECT number AS n FROM numbers(6) "
                "WHERE (number > 3 ? 1 : 0) = 1",
            ).collect()
        ]
        assert sorted(got) == [4, 5]
        with pytest.raises(ChSqlError, match="matching"):
            rw("SELECT a ? b FROM t")
        # the else operand ends at any clause keyword of the clause table
        assert rw(
            "SELECT k FROM t WHERE c ? a : b QUALIFY row_number() "
            "OVER (ORDER BY k) = 1"
        ) == (
            "SELECT * EXCEPT (__qual) FROM (SELECT k, (row_number() OVER "
            "(ORDER BY k NULLS LAST) = 1) AS __qual FROM t WHERE "
            "if(c, a, b)) __q WHERE __qual "
        )
        assert rw(
            "SELECT k, count() OVER w AS n FROM t WHERE c ? a : b "
            "WINDOW w AS (ORDER BY k)"
        ) == (
            "SELECT k, count(*) OVER w AS n FROM t WHERE if(c, a, b) "
            "WINDOW w AS (ORDER BY k NULLS LAST)"
        )
        assert rw(
            "SELECT k FROM t WHERE c ? a : b SETTINGS max_threads = 1"
        ) == "SELECT k FROM t WHERE if(c, a, b)"
        # a stop keyword is a whole word, and nested keywords stay in
        # their operand
        assert rw("SELECT one ? 1 : 0 FROM t") == (
            "SELECT if(one, 1, 0) FROM t"
        )
        assert rw("SELECT c ? 1 : CAST(x AS INT) FROM t") == (
            "SELECT if(c, 1, CAST(x AS INT)) FROM t"
        )
        # a column named like a clause keyword, after an operator
        assert rw("SELECT a AND range < 5 ? 1 : 0 FROM t") == (
            "SELECT if(a AND range < 5, 1, 0) FROM t"
        )

    def test_top_and_ornull_combinators(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        got = [
            r["v"]
            for r in ch_sql(
                spark,
                "SELECT TOP 3 number AS v FROM numbers(10) ORDER BY v DESC",
            ).collect()
        ]
        assert got == [9, 8, 7]
        with pytest.raises(ChSqlError, match="TOP and LIMIT"):
            rw("SELECT TOP 3 v FROM t ORDER BY v LIMIT 2")
        r = ch_sql(
            spark,
            "SELECT avgOrNull(number) AS a, sumOrDefault(number) AS s, "
            "countOrNull(number) AS c FROM numbers(10) WHERE number > 99",
        ).collect()[0]
        assert (r.a, r.s, r.c) == (None, 0, None)

    def test_where_alias_visibility(self, spark):
        # CH alias visibility: SELECT-list aliases are legal in WHERE
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        got = [
            r["n"]
            for r in ch_sql(
                spark,
                "SELECT number AS n FROM numbers(5) WHERE n IN (1, 3)",
            ).collect()
        ]
        assert sorted(got) == [1, 3]
        out = rw("SELECT number + 1 AS n FROM t WHERE n > 2")
        assert "WHERE (number + 1) > 2" in out
        # names that are not aliases stay untouched
        assert "WHERE number > 3" in rw(
            "SELECT number AS n FROM t WHERE number > 3"
        )

    def test_format_bridge(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        r = ch_sql(
            spark,
            "SELECT format('{}-{}', 'a', 'b') AS f, "
            "format('{1} {0}!', 'World', 'Hello') AS g, "
            "format('{{}}{}', 'x') AS h",
        ).collect()[0]
        assert (r.f, r.g, r.h) == ("a-b", "Hello World!", "{}x")
        # literal % survives; Spark's own *_format names untouched
        assert "100%%%1$s" in rw("SELECT format('100%{}', x) FROM t")
        assert rw("SELECT date_format(ts, 'y') FROM t") == (
            "SELECT date_format(ts, 'y') FROM t"
        )
        with pytest.raises(ChSqlError, match="mixing"):
            rw("SELECT format('{} {0}', a, b) FROM t")
        with pytest.raises(ChSqlError, match="literal pattern"):
            rw("SELECT format(p, a) FROM t")

    def test_sum_count_pair(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        spark.range(5).createOrReplaceTempView("sc_t")
        r = ch_sql(spark, "SELECT sumCount(id) AS sc FROM sc_t").collect()[0]
        assert (r.sc["sum"], r.sc["count"]) == (10, 5)

    def test_match_and_extract(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        r = ch_sql(
            spark,
            "SELECT match('a123', '[0-9]+') AS m, "
            "extract('a123b', '[0-9]+') AS whole, "
            "extract('key=val', 'key=(\\\\w+)') AS grp",
        ).collect()[0]
        assert (r.m, r.whole, r.grp) == (1, "123", "val")
        # ANSI EXTRACT(field FROM ts) coexists untouched
        assert "EXTRACT(YEAR FROM ts)" in rw(
            "SELECT EXTRACT(YEAR FROM ts), extract(s, '[a-z]') FROM t"
        )
        # the regex form nested inside the ANSI form is still rewritten
        assert rw(
            r"SELECT EXTRACT(YEAR FROM toDate(extract(s, 'd=(\S+)'))) FROM t"
        ) == (
            r"SELECT EXTRACT(YEAR FROM toDate((regexp_extract(s, 'd=(\S+)', "
            r"1)))) FROM t"
        )
        with pytest.raises(ChSqlError, match="literal pattern"):
            rw("SELECT extract(s, some_col) FROM t")


class TestLimitByRewrite:
    def test_shape(self):
        got = rw("SELECT k, v FROM t ORDER BY k, v DESC LIMIT 2 BY k")
        assert ("row_number() OVER (PARTITION BY k ORDER BY k NULLS LAST, v DESC NULLS LAST)" in got)
        assert "__rn <= 2" in got
        assert got.strip().endswith("ORDER BY k NULLS LAST, v DESC NULLS LAST")

    def test_trailing_limit_kept(self):
        got = rw("SELECT k, v FROM t ORDER BY v LIMIT 2 BY k LIMIT 10")
        assert "__rn <= 2" in got and got.strip().endswith("LIMIT 10")

    def test_no_order_by_falls_back_to_keys(self):
        got = rw("SELECT k, v FROM t LIMIT 1 BY k")
        assert "OVER (PARTITION BY k ORDER BY k)" in got

    def test_offset_form_bridges(self):
        # round 10: the offset forms bridge (rows off+1..off+n per
        # group) instead of rejecting
        out = rw("SELECT k FROM t LIMIT 2, 3 BY k")
        assert "__rn > 2 AND __rn <= 5" in out

    def test_plain_limit_untouched(self):
        q = "SELECT k FROM t ORDER BY k LIMIT 5"
        # LIMIT untouched; ORDER BY gets the CH NULLS LAST default
        assert rw(q) == "SELECT k FROM t ORDER BY k NULLS LAST LIMIT 5"


class TestAnsiIdentityFuzz:
    def test_plain_ansi_is_untouched(self):
        """Property: SQL containing none of the ClickHouse forms must
        pass through BYTE-identical — the rewriter may never mangle
        plain ANSI. Grammar covers the constructs whose tokens look
        closest to the rewrite triggers (counts, quantified ANY,
        LIMIT, string literals containing trigger words)."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        cols = st.sampled_from(["a", "b", "c", "ts", "v"])
        exprs = st.one_of(
            cols,
            st.builds(lambda c: f"count({c})", cols),
            st.builds(lambda c: f"sum({c})", cols),
            st.builds(lambda c: f"max_by({c}, ts)", cols),
            st.builds(lambda c: f"any_value({c})", cols),
            st.just("'literal with uniq( and SAMPLE inside'"),
            st.builds(lambda c: f"transform(arr, x -> x + {c})", cols),
        )

        @given(
            sel=st.lists(exprs, min_size=1, max_size=4),
            where=st.one_of(
                st.none(),
                st.builds(lambda c: f"{c} > ANY (SELECT v FROM u)", cols),
                st.builds(lambda c: f"{c} IS NOT NULL", cols),
            ),
            limit=st.one_of(st.none(), st.integers(1, 100)),
        )
        @settings(max_examples=80, deadline=None)
        def check(sel, where, limit):
            q = f"SELECT {', '.join(sel)} FROM t"
            if where:
                q += f" WHERE {where}"
            q += " GROUP BY a ORDER BY a"
            # the ONE documented normalization on plain ANSI: CH's
            # NULLS LAST default decorates every ORDER BY item
            want = q + " NULLS LAST"
            if limit is not None:
                q += f" LIMIT {limit}"
                want += f" LIMIT {limit}"
            assert rw(q) == want

        check()


class TestIdempotence:
    def test_rewrite_is_a_fixed_point_on_declared_queries(self):
        """rw(rw(x)) == rw(x) for every ClickHouse-dialect query the
        repo declares — the rewritten output must be stable ANSI that a
        second pass never mangles."""
        from mb8600_clickhouse_spark.queries.pipeline import (
            _Q74_CLICKHOUSE_SQL,
            _Q76_CLICKHOUSE_SQL,
            _Q79_CLICKHOUSE_SQL,
            _Q82_CLICKHOUSE_SQL,
        )

        ft = {"events": (["user_id", "event_type"], "event_id")}
        for src, kw in (
            (_Q74_CLICKHOUSE_SQL, {}),
            (_Q76_CLICKHOUSE_SQL, {}),
            (_Q79_CLICKHOUSE_SQL, {"final_tables": ft}),
            (_Q82_CLICKHOUSE_SQL, {}),
        ):
            once = rw(src, **kw)
            assert rw(once, **kw) == once


class TestPrewhereSettings:
    def test_prewhere_alone_becomes_where(self):
        assert rw("SELECT k FROM t PREWHERE k > 0 ORDER BY k") == (
            "SELECT k FROM t WHERE k > 0 ORDER BY k NULLS LAST"
        )

    def test_prewhere_folds_into_where(self):
        got = rw("SELECT k FROM t PREWHERE a > 0 WHERE b < 5 ORDER BY k")
        assert "WHERE (a > 0) AND (b < 5)" in got and "PREWHERE" not in got

    def test_settings_stripped(self):
        assert rw("SELECT k FROM t ORDER BY k SETTINGS max_threads = 8") == (
            "SELECT k FROM t ORDER BY k NULLS LAST"
        )

    def test_settings_after_limit_by(self, spark):
        got = rw("SELECT k, v FROM t ORDER BY v LIMIT 1 BY k SETTINGS max_threads=8")
        assert "SETTINGS" not in got and "__rn <= 1" in got

    def test_semantic_settings_reject(self):
        """Round 11 probe: SETTINGS that change RESULTS (not
        execution) must not strip silently — join_use_nulls flips
        non-matched join columns to NULL, final=1 applies FINAL
        everywhere, limit acts as the LIMIT clause."""
        for knob in (
            "join_use_nulls = 1",
            "final = 1",
            "limit = 10",
            "group_by_use_nulls = 1",
            "max_threads = 4, join_use_nulls = 1",
        ):
            with pytest.raises(ChSqlError, match="changes query RESULTS"):
                rw(f"SELECT v FROM t SETTINGS {knob}")
        # execution knobs still strip; a column named settings survives
        assert rw("SELECT v FROM t SETTINGS max_threads = 4") == (
            "SELECT v FROM t"
        )
        assert rw("SELECT settings FROM t") == "SELECT settings FROM t"

    def test_executes(self, spark):
        spark.createDataFrame(
            [Row(k=1, v=10.0), Row(k=2, v=-1.0), Row(k=3, v=5.0)]
        ).createOrReplaceTempView("chsql_pw_t")
        rows = spark.sql(
            rw(
                "SELECT k FROM chsql_pw_t PREWHERE v > 0 WHERE k < 3 "
                "ORDER BY k SETTINGS max_threads=4"
            )
        ).collect()
        assert [r["k"] for r in rows] == [1]


class TestTopKRewrite:
    Q = (
        "SELECT k, count() AS n, topK(2)(v) AS top_v FROM t "
        "WHERE v > 0 GROUP BY k ORDER BY k"
    )

    def test_shape(self):
        got = rw(self.Q)
        assert "topK" not in got
        assert "USING (k)" in got and got.strip().endswith("ORDER BY k NULLS LAST")
        assert "slice(array_sort(collect_list(" in got

    def test_contract_violations_raise(self):
        with pytest.raises(ChSqlError, match="alias"):
            rw("SELECT k, topK(2)(v) FROM t GROUP BY k")
        with pytest.raises(ChSqlError, match="HAVING"):
            rw("SELECT k, topK(2)(v) AS t2 FROM t GROUP BY k HAVING count() > 1")
        with pytest.raises(ChSqlError, match="plain-identifier"):
            rw("SELECT k % 2, topK(2)(v) AS t2 FROM t GROUP BY k % 2")
        with pytest.raises(ChSqlError, match="only one topK"):
            rw("SELECT k, topK(2)(v) AS a, topK(3)(w) AS b FROM t GROUP BY k")

    def test_executes_exact_and_deterministic(self, spark):
        spark.createDataFrame(
            [Row(k="a", v=x) for x in [1, 1, 1, 2, 2, 3]]
            + [Row(k="b", v=x) for x in [9, 9, 8, 8, 7]]  # tie 9/8 -> value asc
        ).createOrReplaceTempView("chsql_topk_t")
        rows = spark.sql(
            rw(
                "SELECT k, count() AS n, topK(2)(v) AS top2 "
                "FROM chsql_topk_t GROUP BY k ORDER BY k"
            )
        ).collect()
        assert [(r["k"], r["n"], r["top2"]) for r in rows] == [
            ("a", 6, [1, 2]),
            ("b", 5, [8, 9]),  # equal counts: deterministic value-asc tiebreak
        ]


class TestSampleRewrite:
    def test_shape(self):
        got = rw(
            "SELECT k FROM t SAMPLE 0.25 WHERE k > 0",
            sample_by={"t": "k"},
        )
        # 0.25 * 16^8 = 0x40000000
        assert "substr(md5(CAST(k AS STRING)), 1, 8) < '40000000'" in got
        assert "SAMPLE" not in got

    def test_sample_one_is_noop_filter(self):
        got = rw("SELECT k FROM t SAMPLE 1.0", sample_by={"t": "k"})
        assert "md5" not in got

    def test_unconfigured_raises(self):
        with pytest.raises(ChSqlError, match="sampling key"):
            rw("SELECT k FROM t SAMPLE 0.1")

    def test_rowcount_form_raises(self):
        with pytest.raises(ChSqlError, match="row-count"):
            rw("SELECT k FROM t SAMPLE 1000", sample_by={"t": "k"})

    def test_executes_replay_stable(self, spark):
        spark.range(500).selectExpr("id AS k").createOrReplaceTempView(
            "chsql_smp_t"
        )
        q = "SELECT count() AS n FROM chsql_smp_t SAMPLE 0.2"
        a = spark.sql(rw(q, sample_by={"chsql_smp_t": "k"})).collect()[0]["n"]
        b = spark.sql(rw(q, sample_by={"chsql_smp_t": "k"})).collect()[0]["n"]
        assert a == b and 0 < a < 500  # deterministic, non-trivial subset


class TestWithTotals:
    def test_shape(self):
        got = rw("SELECT k, count() AS n FROM t GROUP BY k WITH TOTALS")
        assert "GROUP BY GROUPING SETS ((k), ())" in got
        assert "WITH TOTALS" not in got

    def test_multi_key(self):
        got = rw("SELECT a, b, sum(v) FROM t GROUP BY a, b WITH TOTALS ORDER BY a")
        assert "GROUPING SETS ((a, b), ())" in got
        assert got.strip().endswith("ORDER BY a NULLS LAST")

    def test_executes(self, spark):
        spark.createDataFrame(
            [Row(k="a", v=1), Row(k="a", v=2), Row(k="b", v=10)]
        ).createOrReplaceTempView("chsql_tot_t")
        rows = spark.sql(
            rw(
                "SELECT k, count() AS n, sum(v) AS s FROM chsql_tot_t "
                "GROUP BY k WITH TOTALS ORDER BY k NULLS LAST"
            )
        ).collect()
        assert [(r["k"], r["n"], r["s"]) for r in rows] == [
            ("a", 2, 3), ("b", 1, 10), (None, 3, 13),  # the totals row
        ]


class TestFinalRewrite:
    def test_shape(self):
        got = rw(
            "SELECT k, v FROM t FINAL WHERE v > 0",
            final_tables={"t": (["k"], "ver")},
        )
        assert "PARTITION BY k ORDER BY ver DESC" in got
        assert "__rn = 1" in got and "FINAL" not in got

    def test_missing_contract_raises(self):
        with pytest.raises(ChSqlError, match="ReplacingMergeTree contract"):
            rw("SELECT k FROM t FINAL")

    def test_final_executes(self, spark):
        spark.createDataFrame(
            [
                Row(k="a", ver=1, v=10.0),
                Row(k="a", ver=2, v=20.0),
                Row(k="b", ver=1, v=5.0),
            ]
        ).createOrReplaceTempView("chsql_final_t")
        rows = spark.sql(
            rw(
                "SELECT k, v FROM chsql_final_t FINAL ORDER BY k",
                final_tables={"chsql_final_t": (["k"], "ver")},
            )
        ).collect()
        assert [(r["k"], r["v"]) for r in rows] == [("a", 20.0), ("b", 5.0)]


class TestEndToEnd:
    @pytest.fixture(scope="class", autouse=True)
    def _data(self, spark):
        spark.createDataFrame(
            [
                Row(k="a", v=1.0, tags="x,y"),
                Row(k="a", v=2.0, tags="x,z"),
                Row(k="a", v=3.0, tags="x"),
                Row(k="b", v=10.0, tags="y"),
                Row(k="b", v=None, tags="y,y"),
            ]
        ).createOrReplaceTempView("chsql_t")

    def test_limit_by_executes(self, spark):
        rows = spark.sql(
            rw(
                "SELECT k, v FROM chsql_t WHERE v IS NOT NULL "
                "ORDER BY k, v DESC LIMIT 2 BY k"
            )
        ).collect()
        assert [(r["k"], r["v"]) for r in rows] == [
            ("a", 3.0), ("a", 2.0), ("b", 10.0),
        ]
        assert rows[0].asDict().keys() == {"k", "v"}  # __rn projected away

    def test_array_join_with_alias_executes(self, spark):
        rows = spark.sql(
            rw(
                "SELECT k, arrayJoin(splitByChar(',', tags)) AS tag, count() AS n "
                "FROM chsql_t GROUP BY k, tag ORDER BY k, tag"
            )
        ).collect()
        got = {(r["k"], r["tag"]): r["n"] for r in rows}
        assert got[("a", "x")] == 3 and got[("a", "y")] == 1
        assert got[("b", "y")] == 3  # 'y' + 'y,y' unrolled
        # the LATERAL VIEW ends the FROM clause, before a WINDOW clause
        rows = spark.sql(
            rw(
                "SELECT k, arrayJoin(splitByChar(',', tags)) AS tag, "
                "count() OVER w AS n FROM chsql_t "
                "WINDOW w AS (PARTITION BY k) ORDER BY k, tag"
            )
        ).collect()
        assert [(r["k"], r["tag"], r["n"]) for r in rows] == [
            ("a", "x", 5), ("a", "x", 5), ("a", "x", 5), ("a", "y", 5),
            ("a", "z", 5), ("b", "y", 3), ("b", "y", 3), ("b", "y", 3),
        ]

    def test_array_lambdas_execute(self, spark):
        """The docsis dashboard idiom: lambda array ops over nested
        channel structs, in verbatim ClickHouse spelling."""
        spark.sql(
            "SELECT array(named_struct('snr', 40.0), named_struct('snr', 12.0)) AS chans"
        ).createOrReplaceTempView("chsql_arr_t")
        r = spark.sql(
            rw(
                "SELECT arrayCount(c -> c.snr < 20.0, chans) AS low, "
                "arrayMap(c -> c.snr * 2, chans) AS dbl, "
                "arrayExists(c -> c.snr > 35.0, chans) AS any_hi "
                "FROM chsql_arr_t"
            )
        ).collect()[0]
        assert r["low"] == 1 and r["dbl"] == [80.0, 24.0] and r["any_hi"] is True

    def test_combinators_execute(self, spark):
        r = spark.sql(
            rw(
                "SELECT uniqExact(k) AS nk, countIf(v > 1.5) AS hi, "
                "sumIf(v, k = 'a') AS sa, quantileExact(0.5)(v) AS med "
                "FROM chsql_t"
            )
        ).collect()[0]
        assert r["nk"] == 2 and r["hi"] == 3
        assert r["sa"] == 6.0 and r["med"] == 2.5

    def test_full_q76_shape(self, spark):
        """The exact composition q76 ships: arrayJoin + GROUP BY alias +
        LIMIT BY + count() + uniqExact in ONE statement."""
        rows = spark.sql(
            rw(
                "SELECT k, arrayJoin(splitByChar(',', tags)) AS tag, "
                "count() AS n FROM chsql_t GROUP BY k, tag "
                "ORDER BY k, n DESC, tag LIMIT 1 BY k"
            )
        ).collect()
        assert [(r["k"], r["tag"], r["n"]) for r in rows] == [
            ("a", "x", 3), ("b", "y", 3),
        ]


class TestSubqueryRecursion:
    """Round-6: the rewriter recurses into subqueries and CTE bodies."""

    def test_dialect_inside_from_subquery(self):
        out = rw(
            "SELECT lang, n FROM (SELECT lang, uniq(doc_id) AS n "
            "FROM documents GROUP BY lang) x ORDER BY n DESC"
        )
        assert "approx_count_distinct(doc_id)" in out
        assert "uniq(" not in out

    def test_dialect_inside_cte(self):
        out = rw(
            "WITH base AS (SELECT quantile(0.9)(v) AS p90 FROM t "
            "SETTINGS max_threads = 4) SELECT p90 FROM base"
        )
        assert "percentile_approx(v, 0.9)" in out
        assert "SETTINGS" not in out

    def test_nested_two_levels(self):
        out = rw(
            "SELECT * FROM (SELECT * FROM (SELECT countIf(v > 0) AS c "
            "FROM t) a) b"
        )
        assert "count_if(v > 0)" in out

    def test_limit_by_inside_subquery(self):
        out = rw(
            "SELECT count(*) FROM (SELECT lang, doc_id FROM documents "
            "ORDER BY doc_id LIMIT 2 BY lang) s"
        )
        assert "row_number() OVER (PARTITION BY lang" in out
        # an apostrophe in a comment or a quoted identifier before the
        # subquery does not hide it from the masking
        for sql in (
            "SELECT x FROM u -- don't\nWHERE x IN "
            "(SELECT k FROM t LIMIT 1 BY k)",
            "SELECT `it's` FROM u WHERE x IN (SELECT k FROM t LIMIT 1 BY k)",
            'SELECT "it\'s" FROM u WHERE x IN (SELECT k FROM t LIMIT 1 BY k)',
        ):
            out = rw(sql)
            assert "row_number() OVER (PARTITION BY k" in out, out
            assert "LIMIT 1 BY" not in out, out

    def test_in_subquery_rewritten(self):
        out = rw(
            "SELECT v FROM t WHERE k IN (SELECT argMax(k, ts) FROM u GROUP BY g)"
        )
        assert "max_by(k, ts)" in out

    def test_quantified_any_still_untouched(self):
        sql = "SELECT v FROM t WHERE v > ANY (SELECT v FROM u)"
        assert rw(sql) == sql

    def test_totals_with_subquery_groupby(self):
        # round-5 advisory repro: outer WITH TOTALS must anchor on the
        # OUTER GROUP BY, not the subquery's
        out = rw(
            "SELECT lang, sum(n) FROM (SELECT lang, doc_id, count(*) AS n "
            "FROM d GROUP BY lang, doc_id) t GROUP BY lang WITH TOTALS"
        )
        assert out.endswith("GROUP BY GROUPING SETS ((lang), ())")
        assert "GROUP BY lang, doc_id" in out

    def test_totals_without_toplevel_groupby_raises(self):
        with pytest.raises(ChSqlError):
            rw("SELECT x FROM (SELECT x FROM t GROUP BY x) s WITH TOTALS")

    def test_executes_nested(self, spark):
        df = spark.createDataFrame(
            [Row(lang="en", doc_id=1), Row(lang="en", doc_id=2), Row(lang="de", doc_id=3)]
        )
        df.createOrReplaceTempView("nested_docs")
        rows = spark.sql(
            rw(
                "SELECT lang, n FROM (SELECT lang, uniqExact(doc_id) AS n "
                "FROM nested_docs GROUP BY lang) x ORDER BY lang"
            )
        ).collect()
        assert [(r.lang, r.n) for r in rows] == [("de", 1), ("en", 2)]


class TestSettingsIdentifierSafety:
    """Round-5 advisory: identifiers named 'settings' must pass through."""

    def test_projected_column_named_settings(self):
        sql = "SELECT settings FROM t"
        assert rw(sql) == sql

    def test_where_operand_named_settings(self):
        sql = "SELECT x FROM t WHERE settings = 5"
        assert rw(sql) == sql

    def test_real_settings_clause_stripped(self):
        assert rw("SELECT x FROM t SETTINGS max_threads = 4") == "SELECT x FROM t"
        assert (
            rw("SELECT x FROM t SETTINGS a = 1, b = 'y'") == "SELECT x FROM t"
        )


class TestQualifiedTableAliases:
    """Round-5 advisory: db.t FINAL / SAMPLE must alias by last name part."""

    def test_final_qualified(self):
        out = rw(
            "SELECT * FROM db.t FINAL",
            final_tables={"db.t": (["k"], "ver")},
        )
        assert out.rstrip().endswith(") t")
        assert ") db.t" not in out

    def test_sample_qualified(self):
        out = rw("SELECT * FROM db.t SAMPLE 0.5", sample_by={"db.t": "k"})
        assert ") t" in out and ") db.t" not in out


class TestRound6Combinators:
    def test_uniq_if(self):
        assert rw("SELECT uniqIf(u, x > 0) FROM t") == (
            "SELECT approx_count_distinct(CASE WHEN x > 0 THEN u END) FROM t"
        )
        assert rw("SELECT uniqExactIf(u, x > 0) FROM t") == (
            "SELECT count(DISTINCT CASE WHEN x > 0 THEN u END) FROM t"
        )

    def test_any_if(self):
        # the gate's misses are NULLs: without ignoreNulls a leading
        # non-match masks real matching values (ADVICE r10)
        assert rw("SELECT anyIf(v, ok) FROM t") == (
            "SELECT any_value(CASE WHEN ok THEN v END, true) FROM t"
        )

    def test_group_array(self):
        assert rw("SELECT groupArray(v) FROM t GROUP BY k") == (
            "SELECT collect_list(v) FROM t GROUP BY k"
        )
        assert rw("SELECT groupUniqArray(v) FROM t GROUP BY k") == (
            "SELECT collect_set(v) FROM t GROUP BY k"
        )

    def test_with_rollup_passthrough(self, spark):
        # CH spells WITH ROLLUP/CUBE exactly like Spark: passthrough
        df = spark.createDataFrame([Row(k="a", v=1), Row(k="b", v=2)])
        df.createOrReplaceTempView("rollup_t")
        sql = "SELECT k, sum(v) AS s FROM rollup_t GROUP BY k WITH ROLLUP"
        assert rw(sql) == sql
        rows = spark.sql(rw(sql)).collect()
        assert len(rows) == 3  # 2 keys + grand total

    def test_group_array_executes(self, spark):
        df = spark.createDataFrame([Row(k="a", v=1), Row(k="a", v=2)])
        df.createOrReplaceTempView("ga_t")
        rows = spark.sql(
            rw("SELECT k, sort_array(groupUniqArray(v)) AS vs FROM ga_t GROUP BY k")
        ).collect()
        assert rows[0].vs == [1, 2]


class TestQuantilesPluralAndMoments:
    def test_quantiles_plural(self):
        assert rw("SELECT quantiles(0.5, 0.9)(v) FROM t") == (
            "SELECT percentile_approx(v, array(0.5, 0.9)) FROM t"
        )
        assert rw("SELECT quantilesExact(0.25, 0.75)(v) FROM t") == (
            "SELECT percentile(v, array(0.25, 0.75)) FROM t"
        )

    def test_moment_renames(self):
        assert rw("SELECT stddevPop(v), varSamp(v) FROM t") == (
            "SELECT stddev_pop(v), var_samp(v) FROM t"
        )
        # covarPop expands to exact scaled-moment algebra (round 8) —
        # the native covar_pop rename was ulp-order-dependent
        out = rw("SELECT covarPop(a, b) FROM t")
        assert "covar_pop" not in out and "sum(" in out

    def test_quantiles_executes(self, spark):
        df = spark.range(1, 101).selectExpr("id AS v")
        df.createOrReplaceTempView("qq_t")
        r = spark.sql(rw("SELECT quantilesExact(0.5, 1.0)(v) AS q FROM qq_t")).collect()[0]
        assert r["q"] == [50.5, 100.0]


class TestArrayJoinClause:
    """Clause-form [LEFT] ARRAY JOIN (round 6) — the canonical dialect
    spelling for the reference schema's parallel channel arrays."""

    def test_single_with_alias(self):
        assert rw("SELECT ch FROM t ARRAY JOIN arr AS ch") == (
            "SELECT ch FROM t  LATERAL VIEW explode(arr) __ajv0 AS ch "
        )
        # the clause ends at any later clause of the clause table
        assert rw(
            "SELECT k, x FROM t ARRAY JOIN a AS x WINDOW w AS (ORDER BY k)"
        ) == (
            "SELECT k, x FROM t  LATERAL VIEW explode(a) __ajv0 AS x "
            "WINDOW w AS (ORDER BY k NULLS LAST)"
        )
        assert rw(
            "SELECT k, x FROM t ARRAY JOIN a AS x QUALIFY row_number() "
            "OVER (PARTITION BY k ORDER BY x) = 1"
        ) == (
            "SELECT * EXCEPT (__qual) FROM (SELECT k, x, (row_number() "
            "OVER (PARTITION BY k ORDER BY x NULLS LAST) = 1) AS __qual "
            "FROM t  LATERAL VIEW explode(a) __ajv0 AS x) __q WHERE __qual "
        )
        assert rw("SELECT k, x FROM t ARRAY JOIN a AS x OFFSET 2") == (
            "SELECT k, x FROM t  LATERAL VIEW explode(a) __ajv0 AS x OFFSET 2"
        )

    def test_bare_name_references_element(self):
        out = rw("SELECT arr, n FROM t ARRAY JOIN arr")
        assert "SELECT __ajc0, n" in out
        assert "explode(arr)" in out

    def test_string_literal_untouched(self):
        out = rw("SELECT 'ARRAY JOIN arr' AS s, q FROM t ARRAY JOIN qs AS q")
        assert out.startswith("SELECT 'ARRAY JOIN arr' AS s, q FROM t")

    def test_multi_is_zip_not_cross(self, spark):
        df = spark.createDataFrame(
            [Row(k=1, a=[10, 20, 30], b=["x", "y", "z"])]
        )
        df.createOrReplaceTempView("ajz_t")
        rows = (
            spark.sql(rw("SELECT va, vb FROM ajz_t ARRAY JOIN a AS va, b AS vb"))
            .orderBy("va")
            .collect()
        )
        # zipped positionally (3 rows), NOT a 9-row cross product
        assert [(r.va, r.vb) for r in rows] == [(10, "x"), (20, "y"), (30, "z")]

    def test_left_keeps_empty_array_rows(self, spark):
        df = spark.createDataFrame([Row(k=1, a=[7]), Row(k=2, a=[])])
        df.createOrReplaceTempView("ajl_t")
        rows = (
            spark.sql(rw("SELECT k, v FROM ajl_t LEFT ARRAY JOIN a AS v"))
            .orderBy("k")
            .collect()
        )
        assert [(r.k, r.v) for r in rows] == [(1, 7), (2, None)]
        # plain ARRAY JOIN drops the empty-array row
        rows = spark.sql(rw("SELECT k, v FROM ajl_t ARRAY JOIN a AS v")).collect()
        assert [(r.k, r.v) for r in rows] == [(1, 7)]

    def test_struct_array_executes(self, spark):
        df = spark.createDataFrame(
            [Row(m="a", chans=[Row(cid=1, snr=30.0), Row(cid=2, snr=40.0)])]
        )
        df.createOrReplaceTempView("ajs_t")
        rows = (
            spark.sql(
                rw(
                    "SELECT m, ch.cid AS cid, ch.snr AS snr "
                    "FROM ajs_t ARRAY JOIN chans AS ch WHERE ch.snr > 35"
                )
            )
            .collect()
        )
        assert [(r.m, r.cid, r.snr) for r in rows] == [("a", 2, 40.0)]

    def test_complex_expr_requires_alias(self):
        with pytest.raises(ChSqlError):
            rw("SELECT x FROM t ARRAY JOIN func(a)")

    def test_nested_subquery_levels_rewrite_independently(self):
        out = rw(
            "SELECT x FROM (SELECT u FROM s ARRAY JOIN us AS u) i ARRAY JOIN xs AS x"
        )
        assert out.count("LATERAL VIEW") == 2

    def test_ansi_passthrough(self):
        q = "SELECT a FROM t JOIN u ON t.id = u.id WHERE a > 1"
        assert rw(q) == q


class TestGlobalAndFormat:
    """GLOBAL distribution hints and FORMAT output directives (round 6)."""

    def test_global_in_stripped(self):
        assert rw("SELECT a FROM t WHERE k GLOBAL IN (SELECT k FROM u)") == (
            "SELECT a FROM t WHERE k IN (SELECT k FROM u)"
        )
        assert rw("SELECT a FROM t WHERE k GLOBAL NOT IN (SELECT k FROM u)") == (
            "SELECT a FROM t WHERE k NOT IN (SELECT k FROM u)"
        )

    def test_global_join_stripped(self):
        assert rw("SELECT a FROM t GLOBAL LEFT JOIN u ON t.id = u.id") == (
            "SELECT a FROM t LEFT JOIN u ON t.id = u.id"
        )

    def test_format_directive_stripped(self):
        assert rw("SELECT a FROM t ORDER BY a FORMAT JSONEachRow") == (
            "SELECT a FROM t ORDER BY a NULLS LAST"
        )
        # SETTINGS before FORMAT: both go
        assert rw(
            "SELECT a, count() FROM t GROUP BY a SETTINGS max_threads = 4 FORMAT Pretty"
        ) == "SELECT a, count(*) FROM t GROUP BY a"

    def test_format_as_identifier_untouched(self):
        q = "SELECT format FROM t WHERE x > 1"
        assert rw(q) == q

    def test_any_join_strictness_raises(self):
        with pytest.raises(ChSqlError):
            rw("SELECT a FROM t ANY LEFT JOIN u ON t.id = u.id")
        with pytest.raises(ChSqlError):
            rw("SELECT a FROM t LEFT ANY JOIN u ON t.id = u.id")
        with pytest.raises(ChSqlError):
            rw("SELECT a FROM t ASOF JOIN u ON t.id = u.id AND u.ts <= t.ts")

    def test_semi_and_quantified_any_pass(self):
        q1 = "SELECT a FROM t LEFT SEMI JOIN u ON t.id = u.id"
        assert rw(q1) == q1
        q2 = "SELECT a FROM t WHERE v > ANY (SELECT v FROM u)"
        assert rw(q2) == q2


class TestKnownUnsupportedReject:
    """Unsupported dialect fails at rewrite time with an actionable
    message, never three layers down as a Spark parse error."""

    def test_with_fill_rejected(self):
        with pytest.raises(ChSqlError, match="fill_gaps"):
            rw(
                "SELECT ts, v FROM events ORDER BY ts WITH FILL STEP 60"
            )

    def test_interpolate_rejected(self):
        with pytest.raises(ChSqlError, match="interpolate_linear"):
            rw(
                "SELECT ts, v FROM events ORDER BY ts WITH FILL INTERPOLATE (v)"
            )

    def test_running_family_without_anchor_rejected(self):
        # round 7: neighbor/runningDifference are BRIDGED when the
        # statement has an ORDER BY anchor (TestRunningNeighborBridge);
        # without one they still reject, as does runningAccumulate always
        for fn, msg in (
            ("neighbor(v, -1, 0)", "deterministic total order"),
            ("runningDifference(v)", "deterministic total order"),
            ("runningAccumulate(st)", "runningAccumulate"),
        ):
            with pytest.raises(ChSqlError, match=msg):
                rw(f"SELECT {fn} FROM events")

    def test_inside_subquery_also_anchored(self):
        # a subquery with its own ORDER BY anchors at its own level
        out = rw(
            "SELECT * FROM (SELECT runningDifference(v) AS d FROM events ORDER BY v) t"
        )
        assert "lag(v) OVER (ORDER BY v NULLS LAST)" in out
        with pytest.raises(ChSqlError, match="deterministic total order"):
            rw("SELECT * FROM (SELECT runningDifference(v) AS d FROM events) t")

    def test_identifier_named_interpolate_ok(self):
        # only the call/clause forms reject; a column named like it is fine
        out = rw("SELECT interpolate FROM t")
        assert out == "SELECT interpolate FROM t"


class TestScalarCallRewrites:
    """multiIf / dateDiff / toStartOfInterval — variadic or
    keyword-argument forms a fixed-arity SQL UDF cannot alias."""

    def test_multiif_chain(self, spark):
        out = rw("SELECT multiIf(1 > 3, 'a', 2 > 1, 'b', 'c') AS x")
        assert spark.sql(out).collect()[0]["x"] == "b"

    def test_multiif_bad_arity(self):
        with pytest.raises(ChSqlError, match="odd argument"):
            rw("SELECT multiIf(a, b) FROM t")

    def test_datediff_counts_boundaries_not_full_units(self, spark):
        # ClickHouse semantics: 08:30 -> 10:00 crosses TWO hour marks
        out = rw(
            "SELECT dateDiff('hour', timestamp'2024-01-01 08:30:00',"
            " timestamp'2024-01-01 10:00:00') AS x"
        )
        assert spark.sql(out).collect()[0]["x"] == 2

    def test_datediff_bad_unit(self):
        with pytest.raises(ChSqlError, match="unit"):
            rw("SELECT dateDiff('fortnight', a, b) FROM t")

    def test_tostartofinterval_fixed_width(self, spark):
        out = rw(
            "SELECT toStartOfInterval(timestamp'2024-01-01 10:07:33',"
            " INTERVAL 10 minute) AS x"
        )
        assert str(spark.sql(out).collect()[0]["x"]) == "2024-01-01 10:00:00"

    def test_tostartofinterval_pre_epoch_floors(self, spark):
        # Negative epoch (CH DateTime64 reaches pre-1970): the start of
        # the interval must be <= the input. A sign-following % would
        # round toward zero and land AFTER the input.
        out = rw(
            "SELECT toStartOfInterval(timestamp'1969-12-31 23:57:10',"
            " INTERVAL 5 minute) AS x"
        )
        assert str(spark.sql(out).collect()[0]["x"]) == "1969-12-31 23:55:00"

    def test_tostartofinterval_month_rejected(self):
        with pytest.raises(ChSqlError, match="calendar-anchored"):
            rw("SELECT toStartOfInterval(ts, INTERVAL 1 month) FROM t")

    def test_nested_in_subquery(self, spark):
        out = rw(
            "SELECT x FROM (SELECT multiIf(2 > 1, 10, 0) AS x) s"
        )
        assert spark.sql(out).collect()[0]["x"] == 10


class TestFillRejectionScope:
    def test_cte_named_fill_passes(self, spark):
        out = rw("WITH fill AS (SELECT 1 AS x) SELECT x FROM fill")
        assert spark.sql(out).collect()[0]["x"] == 1

    def test_column_named_interpolate_after_order_by_ok(self):
        # only the call form INTERPOLATE( rejects, not the identifier
        assert rw("SELECT interpolate FROM t ORDER BY interpolate") \
            == "SELECT interpolate FROM t ORDER BY interpolate NULLS LAST"


class TestRunningNeighborBridge:
    """runningDifference/neighbor -> windows anchored on the statement's
    own top-level ORDER BY (round 7; q124 is the oracle-verified twin)."""

    def test_running_difference_rewrite(self):
        out = rw("SELECT b, runningDifference(n) AS d FROM t ORDER BY b")
        assert "coalesce((n) - lag(n) OVER (ORDER BY b NULLS LAST), 0)" in out

    def test_neighbor_directions(self):
        out = rw("SELECT neighbor(n, -2, 0) AS p, neighbor(n, 3, -1) AS q FROM t ORDER BY b DESC")
        assert "lag(n, 2, 0) OVER (ORDER BY b DESC NULLS LAST)" in out
        assert "lead(n, 3, -1) OVER (ORDER BY b DESC NULLS LAST)" in out

    def test_neighbor_zero_offset_is_identity(self):
        assert "(n)" in rw("SELECT neighbor(n, 0, 7) FROM t ORDER BY b")

    def test_select_alias_inlined_into_anchor(self, spark):
        out = rw(
            "SELECT id + 1 AS k, runningDifference(id) AS d "
            "FROM range(3) ORDER BY k"
        )
        # the window may not reference the lateral alias k
        assert "OVER (ORDER BY (id + 1) NULLS LAST)" in out
        got = [r["d"] for r in spark.sql(out).collect()]
        assert got == [0, 1, 1]

    def test_no_order_by_rejects(self):
        with pytest.raises(ChSqlError, match="deterministic total order"):
            rw("SELECT runningDifference(n) FROM t")

    def test_select_alias_inlined_into_window_args(self, spark):
        # round 9: the alias as the window function's ARGUMENT (not
        # just the anchor) previously hit Spark's
        # LATERAL_COLUMN_ALIAS_IN_WINDOW — inline there too
        out = rw(
            "SELECT id AS v, neighbor(v, 1, -1) AS nx "
            "FROM range(5) ORDER BY v DESC"
        )
        assert "lead((id), 1, -1) OVER (ORDER BY (id) DESC NULLS LAST)" in out
        got = [tuple(r) for r in spark.sql(out).collect()]
        assert got == [(4, 3), (3, 2), (2, 1), (1, 0), (0, -1)]
        out2 = rw(
            "SELECT id * 2 AS v, runningDifference(v) AS dv "
            "FROM range(4) ORDER BY v"
        )
        got2 = [r["dv"] for r in spark.sql(out2).collect()]
        assert got2 == [0, 2, 2, 2]

    def test_two_arg_neighbor_rejects(self):
        with pytest.raises(ChSqlError, match="TYPE default"):
            rw("SELECT neighbor(n, 1) FROM t ORDER BY n")

    def test_non_literal_offset_rejects(self):
        with pytest.raises(ChSqlError, match="integer literal"):
            rw("SELECT neighbor(n, k, 0) FROM t ORDER BY n")

    def test_limit_not_in_anchor(self):
        out = rw("SELECT runningDifference(n) FROM t ORDER BY n LIMIT 5")
        assert ("OVER (ORDER BY n NULLS LAST)" in out and out.rstrip().endswith("LIMIT 5"))


class TestRunningAccumulateBridge:
    """runningAccumulate(xxxState(x)) -> the state's merge aggregate
    over an ORDER-BY-anchored running window (round 8; q143 is the
    oracle-verified twin). Must run BEFORE the -State combinator
    rewrite (which would erase the merge-function name)."""

    FRAME = "NULLS LAST ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"

    def test_sum_and_count_states(self):
        out = rw(
            "SELECT k, runningAccumulate(sumState(v)) AS r, "
            "runningAccumulate(countState()) AS c "
            "FROM t GROUP BY k ORDER BY k"
        )
        assert f"sum(sum(v)) OVER (ORDER BY k {self.FRAME})" in out
        assert f"sum(count(*)) OVER (ORDER BY k {self.FRAME})" in out

    def test_min_max_avg_states(self):
        out = rw(
            "SELECT k, runningAccumulate(maxState(v)) AS m, "
            "runningAccumulate(minState(v)) AS n, "
            "runningAccumulate(avgState(v)) AS a "
            "FROM t GROUP BY k ORDER BY k"
        )
        assert f"max(max(v)) OVER (ORDER BY k {self.FRAME})" in out
        assert f"min(min(v)) OVER (ORDER BY k {self.FRAME})" in out
        assert "CAST(sum(sum(v)) OVER" in out and "/ sum(count(v)) OVER" in out

    def test_executes_running_total(self, spark):
        out = rw(
            "SELECT id % 2 AS k, runningAccumulate(sumState(id)) AS r "
            "FROM range(6) GROUP BY k ORDER BY k"
        )
        got = {r["k"]: r["r"] for r in spark.sql(out).collect()}
        assert got == {0: 6, 1: 15}  # 0+2+4, then +1+3+5

    def test_subquery_alias_state_rejects(self):
        with pytest.raises(ChSqlError, match="INLINE -State"):
            rw("SELECT k, runningAccumulate(s) FROM x GROUP BY k ORDER BY k")

    def test_uniq_state_rejects(self):
        with pytest.raises(ChSqlError, match="INLINE -State"):
            rw(
                "SELECT k, runningAccumulate(uniqState(v)) "
                "FROM t GROUP BY k ORDER BY k"
            )

    def test_no_group_by_rejects(self):
        with pytest.raises(ChSqlError, match="GROUP BY form"):
            rw("SELECT runningAccumulate(sumState(v)) FROM t ORDER BY 1")

    def test_no_order_by_rejects(self):
        with pytest.raises(ChSqlError, match="deterministic total order"):
            rw("SELECT k, runningAccumulate(sumState(v)) FROM t GROUP BY k")


class TestWithFillBridge:
    """ch_sql's schema-aware ORDER BY ... WITH FILL (round 7; q123 is
    the oracle-verified twin)."""

    @pytest.fixture()
    def src_view(self, spark):
        spark.range(0, 10).selectExpr(
            "id", "id * 2 AS v", "concat('s', id) AS s"
        ).where("id % 3 != 1").createOrReplaceTempView("wf_t")

    def test_fill_type_defaults(self, spark, src_view):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        df = ch_sql(
            spark,
            "SELECT id AS k, sum(v) AS total, max(s) AS tag FROM wf_t "
            "GROUP BY k ORDER BY k WITH FILL FROM 0 TO 12 STEP 1",
        )
        rows = {r["k"]: r for r in df.collect()}
        assert sorted(rows) == list(range(12))  # TO is exclusive
        assert rows[1]["total"] == 0 and rows[1]["tag"] == ""  # type defaults
        assert rows[2]["total"] == 4 and rows[2]["tag"] == "s2"

    def test_fill_bounds_default_to_min_max(self, spark, src_view):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        df = ch_sql(
            spark,
            "SELECT id AS k, sum(v) AS total FROM wf_t GROUP BY k "
            "ORDER BY k WITH FILL",
        )
        assert [r["k"] for r in df.collect()] == list(range(10))

    def test_empty_fill_range_inserts_nothing(self, spark, src_view):
        # FROM beyond the data's max: CH fills nothing; Spark's
        # sequence() would raise on the reversed bounds (hypothesis
        # found keys={0}, FROM 1 — pinned here deterministically)
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        spark.sql("SELECT 0 AS k, 1 AS v").createOrReplaceTempView("wf_one")
        df = ch_sql(
            spark,
            "SELECT k, sum(v) AS total FROM wf_one GROUP BY k "
            "ORDER BY k WITH FILL FROM 1 STEP 1",
        )
        assert [(r["k"], r["total"]) for r in df.collect()] == [(0, 1)]

    def test_interpolate_carries_previous_source_value(self, spark, src_view):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        df = ch_sql(
            spark,
            "SELECT id AS k, sum(v) AS total FROM wf_t GROUP BY k "
            "ORDER BY k WITH FILL INTERPOLATE (total)",
        )
        rows = {r["k"]: r["total"] for r in df.collect()}
        assert rows[4] == 6 and rows[7] == 12  # carried from k=3 / k=6

    def test_desc_fill(self, spark, src_view):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        df = ch_sql(
            spark,
            "SELECT id AS k, sum(v) AS total FROM wf_t GROUP BY k "
            "ORDER BY k DESC WITH FILL STEP 1",
        )
        assert [r["k"] for r in df.collect()] == list(range(9, -1, -1))

    def test_limit_after_fill_rejects(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        with pytest.raises(ChSqlError, match="LIMIT"):
            ch_sql(spark, "SELECT 1 AS k ORDER BY k WITH FILL LIMIT 3")

    def test_derived_interpolate_rejects(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        with pytest.raises(ChSqlError, match="identity"):
            ch_sql(
                spark,
                "SELECT 1 AS k, 2 AS v ORDER BY k "
                "WITH FILL INTERPOLATE (v AS v + 1)",
            )

    def test_string_rewriter_still_rejects_with_pointer(self):
        with pytest.raises(ChSqlError, match="ch_sql"):
            rw("SELECT 1 AS k ORDER BY k WITH FILL")

    def test_timestamp_axis_interval_step(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        spark.sql(
            "SELECT * FROM VALUES"
            " (timestamp'2026-01-01 00:00:00', 1.0),"
            " (timestamp'2026-01-01 03:00:00', 2.0),"
            " (timestamp'2026-01-01 05:00:00', 3.0) AS t(h, v)"
        ).createOrReplaceTempView("wf_ts")
        df = ch_sql(
            spark,
            "SELECT h, sum(v) AS total FROM wf_ts GROUP BY h "
            "ORDER BY h WITH FILL STEP INTERVAL 1 HOUR",
        )
        got = [(str(r["h"]), r["total"]) for r in df.collect()]
        assert len(got) == 6  # hourly grid 00..05
        assert got[1] == ("2026-01-01 01:00:00", 0.0)
        assert got[3] == ("2026-01-01 03:00:00", 2.0)


class TestStateMergeCombinators:
    """-State/-Merge (AggregatingMergeTree MV pattern, round 7; q127 is
    the oracle twin)."""

    def test_rewrites(self):
        got = rw(
            "SELECT countState() AS c, sumState(v) AS s, uniqState(u) AS us,"
            " avgState(v) AS a, minState(v) AS mn FROM t GROUP BY k"
        )
        assert "count(*) AS c" in got
        assert "sum(v) AS s" in got
        assert "hll_sketch_agg(u) AS us" in got
        assert "named_struct('s', sum(v), 'c', count(v)) AS a" in got
        assert "min(v) AS mn" in got
        got = rw("SELECT countMerge(c), uniqMerge(us), avgMerge(a) FROM p")
        assert "sum(c)" in got
        assert "hll_sketch_estimate(hll_union_agg(us))" in got
        assert "CAST(sum(a.s) AS DOUBLE) / sum(a.c)" in got

    def test_merged_equals_direct(self, spark):
        spark.range(0, 300).selectExpr(
            "id % 4 AS part", "id % 2 AS k", "CAST(id AS DOUBLE) AS v",
            "id % 23 AS u"
        ).createOrReplaceTempView("sm_t")
        inner = rw(
            "SELECT k, part, countState() AS c, sumState(v) AS s,"
            " uniqState(u) AS us, avgState(v) AS a"
            " FROM sm_t GROUP BY k, part"
        )
        spark.sql(inner).createOrReplaceTempView("sm_p")
        merged = {
            r["k"]: r
            for r in spark.sql(
                rw(
                    "SELECT k, countMerge(c) AS n, sumMerge(s) AS s,"
                    " uniqMerge(us) AS u, avgMerge(a) AS a"
                    " FROM sm_p GROUP BY k"
                )
            ).collect()
        }
        direct = {
            r["k"]: r
            for r in spark.sql(
                "SELECT k, count(*) AS n, sum(v) AS s,"
                " count(DISTINCT u) AS u, avg(v) AS a FROM sm_t GROUP BY k"
            ).collect()
        }
        for k in (0, 1):
            assert merged[k]["n"] == direct[k]["n"]
            assert merged[k]["s"] == direct[k]["s"]
            assert merged[k]["u"] == direct[k]["u"]  # 23 distinct: HLL exact
            assert merged[k]["a"] == direct[k]["a"]


class TestWithFillProperty:
    def test_fill_matches_python_reference(self, spark):
        """Property: for random sparse integer series and random
        FROM/TO/STEP, ch_sql's WITH FILL equals a direct Python
        reference of the CH semantics (source rows retained, grid gaps
        inserted zero-filled, TO exclusive)."""
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        @settings(
            max_examples=12,
            deadline=None,
            suppress_health_check=[HealthCheck.too_slow],
        )
        @given(
            keys=st.sets(st.integers(0, 30), min_size=1, max_size=10),
            frm=st.one_of(st.none(), st.integers(0, 10)),
            to=st.one_of(st.none(), st.integers(11, 35)),
            step=st.sampled_from([1, 2, 3]),
        )
        def check(keys, frm, to, step):
            rows = [(k, float(k * 10)) for k in sorted(keys)]
            spark.createDataFrame(rows, "k int, v double").createOrReplaceTempView(
                "wfp_t"
            )
            tail = " WITH FILL"
            if frm is not None:
                tail += f" FROM {frm}"
            if to is not None:
                tail += f" TO {to}"
            tail += f" STEP {step}"
            got = [
                (r["k"], r["v"])
                for r in ch_sql(
                    spark,
                    "SELECT k, sum(v) AS v FROM wfp_t GROUP BY k ORDER BY k"
                    + tail,
                ).collect()
            ]
            lo = frm if frm is not None else min(keys)
            hi_incl = to - 1 if to is not None else max(keys)
            grid = set(range(lo, hi_incl + 1, step))
            expect = sorted(
                [(k, float(k * 10)) for k in keys]
                + [(g, 0.0) for g in grid - keys]
            )
            assert got == expect

        check()


class TestAsofJoinBridge:
    """ch_sql's ASOF JOIN routing through operators/asof.py (round 7;
    q128 is the oracle twin)."""

    @pytest.fixture()
    def views(self, spark):
        from pyspark.sql import Row

        spark.createDataFrame(
            [Row(k=1, ts=10, a="x"), Row(k=1, ts=20, a="y"), Row(k=2, ts=10, a="z")]
        ).createOrReplaceTempView("asof_l")
        spark.createDataFrame(
            [Row(k=1, ts=5, b=1.0), Row(k=1, ts=20, b=2.0), Row(k=3, ts=1, b=9.0)]
        ).createOrReplaceTempView("asof_r")

    def test_left_nonstrict(self, spark, views):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        got = {
            (r["k"], r["ts"]): r["rb"]
            for r in ch_sql(
                spark,
                "SELECT l.k, l.ts, r.b AS rb FROM asof_l l "
                "ASOF LEFT JOIN asof_r r ON l.k = r.k AND l.ts >= r.ts "
                "ORDER BY l.k, l.ts",
            ).collect()
        }
        assert got == {(1, 10): 1.0, (1, 20): 2.0, (2, 10): None}

    def test_inner_strict_and_reversed_inequality(self, spark, views):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        # strict `>`: the ts-equal right row no longer matches at (1,20)
        rows = ch_sql(
            spark,
            "SELECT l.k, l.ts, r.b AS rb FROM asof_l l "
            "ASOF JOIN asof_r r ON r.ts <= l.ts AND l.k = r.k "
            "ORDER BY l.k, l.ts",
        ).collect()
        assert [(r["k"], r["ts"], r["rb"]) for r in rows] == [
            (1, 10, 1.0),
            (1, 20, 2.0),
        ]
        strict = ch_sql(
            spark,
            "SELECT l.k, l.ts, r.b AS rb FROM asof_l l "
            "ASOF JOIN asof_r r ON l.k = r.k AND l.ts > r.ts "
            "ORDER BY l.k, l.ts",
        ).collect()
        assert [(r["k"], r["ts"], r["rb"]) for r in strict] == [
            (1, 10, 1.0),
            (1, 20, 1.0),
        ]

    def test_right_key_reference_maps(self, spark, views):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        got = ch_sql(
            spark,
            "SELECT r.k AS rk, count(*) AS n FROM asof_l l "
            "ASOF JOIN asof_r r ON l.k = r.k AND l.ts >= r.ts "
            "GROUP BY rk ORDER BY rk",
        ).collect()
        assert [(r["rk"], r["n"]) for r in got] == [(1, 2)]

    def test_subquery_side_rejects(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        with pytest.raises(ChSqlError, match="register"):
            ch_sql(
                spark,
                "SELECT 1 FROM (SELECT 1 AS k) l ASOF JOIN asof_r r "
                "ON l.k = r.k AND l.ts >= r.ts",
            )

    def test_earliest_following_rejects(self, spark, views):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        with pytest.raises(ChSqlError, match="EARLIEST"):
            ch_sql(
                spark,
                "SELECT l.k FROM asof_l l ASOF JOIN asof_r r "
                "ON l.k = r.k AND l.ts <= r.ts",
            )


class TestAnyAllJoinBridge:
    """ALL strictness strips (it IS plain JOIN); ANY routes through the
    deterministic one-match bridge (round 7; q129 is the oracle twin)."""

    def test_all_join_strips(self):
        got = rw("SELECT a FROM l ALL LEFT JOIN r ON l.k = r.k")
        assert got == "SELECT a FROM l LEFT JOIN r ON l.k = r.k"
        got = rw("SELECT a FROM l LEFT ALL JOIN r ON l.k = r.k")
        assert got == "SELECT a FROM l LEFT JOIN r ON l.k = r.k"
        # UNION ALL and quantified ALL untouched
        q = "SELECT a FROM t UNION ALL SELECT a FROM u"
        assert rw(q) == q
        q = "SELECT a FROM t WHERE v > ALL (SELECT v FROM u)"
        assert rw(q) == q

    def test_any_join_string_path_rejects_with_pointer(self):
        with pytest.raises(ChSqlError, match="ch_sql"):
            rw("SELECT a FROM l ANY LEFT JOIN r ON l.k = r.k")

    def test_any_left_join_deterministic(self, spark):
        from pyspark.sql import Row

        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        spark.createDataFrame(
            [Row(k=1, a="x"), Row(k=2, a="y")]
        ).createOrReplaceTempView("any_l")
        spark.createDataFrame(
            [Row(k=1, b=5), Row(k=1, b=3), Row(k=3, b=9)]
        ).createOrReplaceTempView("any_r")
        got = {
            r["k"]: r["rb"]
            for r in ch_sql(
                spark,
                "SELECT l.k, r.b AS rb FROM any_l l "
                "ANY LEFT JOIN any_r r ON l.k = r.k ORDER BY l.k",
            ).collect()
        }
        # lowest-full-row match: (1,3) beats (1,5); unmatched keeps null
        assert got == {1: 3, 2: None}

    def test_any_inner_join(self, spark):
        from pyspark.sql import Row

        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        spark.createDataFrame(
            [Row(k=1, a="x"), Row(k=2, a="y")]
        ).createOrReplaceTempView("any_l")
        spark.createDataFrame(
            [Row(k=1, b=5), Row(k=1, b=3)]
        ).createOrReplaceTempView("any_r")
        rows = ch_sql(
            spark,
            "SELECT l.k, r.b AS rb FROM any_l l "
            "ANY JOIN any_r r ON l.k = r.k ORDER BY l.k",
        ).collect()
        assert [(r["k"], r["rb"]) for r in rows] == [(1, 3)]


class TestBridgeConcurrency:
    """Concurrent ASOF and ANY bridge calls on one session each get their
    own temp view. A tracer yields the GIL at every bytecode of the two
    bridge functions, so the threads interleave inside them as they could
    on any build; a view name two calls share lets the second swap the
    first call's frame out and return the wrong rows with no error."""

    def test_concurrent_bridges_keep_their_own_rows(self, spark):
        import threading
        import time

        from pyspark.sql import Row

        from mb8600_clickhouse_spark.functions import chsql

        n_threads, n_calls = 4, 6
        spark.createDataFrame(
            [Row(k=i, ts=5, b=float(i)) for i in range(n_threads)]
        ).createOrReplaceTempView("race_r")
        for i in range(n_threads):
            spark.createDataFrame([Row(k=i, ts=10)]).createOrReplaceTempView(
                f"race_l{i}"
            )
        bridges = {chsql._apply_asof_join.__code__, chsql._apply_any_join.__code__}

        def yield_each_opcode(frame, event, arg):
            if event == "opcode":
                time.sleep(0)
            return yield_each_opcode

        def tracer(frame, event, arg):
            if frame.f_code in bridges:
                frame.f_trace_opcodes = True
                return yield_each_opcode
            return None

        wrong, errors = [], []

        def work(i):
            try:
                for c in range(n_calls):
                    join = (
                        "ASOF LEFT JOIN race_r r ON l.k = r.k AND l.ts >= r.ts"
                        if c % 2 == 0
                        else "ANY LEFT JOIN race_r r ON l.k = r.k"
                    )
                    got = [
                        (r["k"], r["rb"])
                        for r in chsql.ch_sql(
                            spark, f"SELECT l.k, r.b AS rb FROM race_l{i} l {join}"
                        ).collect()
                    ]
                    if got != [(i, float(i))]:
                        wrong.append((i, join.split()[0], got))
            except Exception as e:  # pragma: no cover - reported below
                errors.append(e)

        threading.settrace(tracer)
        try:
            threads = [threading.Thread(target=work, args=(i,)) for i in range(n_threads)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=300)
        finally:
            threading.settrace(None)
        assert not any(t.is_alive() for t in threads)
        assert not errors, errors
        assert not wrong, wrong


class TestBehavioralFunctionRejects:
    """Unbridged CH behavioral/dictionary functions fail with the
    engine's equivalent named (documented-failure contract, round 7).
    retention/windowFunnel/sequenceMatch/sequenceCount graduated to
    real bridges in round 8 (TestBehavioralAggregates); dictGet*
    still rejects."""

    def test_rejects_point_at_equivalents(self):
        for frag, msg in (
            ("dictGetString('d', 'attr', k)", "JOIN"),
        ):
            with pytest.raises(ChSqlError, match=msg):
                rw(f"SELECT {frag} FROM t")

    def test_retention_as_identifier_passes(self):
        # only the CALL form rejects; a column named retention is fine
        q = "SELECT retention FROM t WHERE retention > 0"
        assert rw(q) == q

    def test_multikey_per_group_fill(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        spark.sql(
            "SELECT * FROM VALUES ('a',0,1.0),('a',3,2.0),('b',5,4.0),"
            "('b',9,6.0) AS t(g,k,v)"
        ).createOrReplaceTempView("wf_multi")
        got = [
            (r["g"], r["k"], r["total"])
            for r in ch_sql(
                spark,
                "SELECT g, k, sum(v) AS total FROM wf_multi GROUP BY g, k "
                "ORDER BY g, k WITH FILL STEP 1",
            ).collect()
        ]
        # per-group bounds: a fills 0..3, b fills 5..9 (never 0..9)
        assert [x[:2] for x in got] == [("a", i) for i in range(4)] + [
            ("b", i) for i in range(5, 10)
        ]
        assert got[0][2] == 1.0 and got[1][2] == 0.0

    def test_multikey_interpolate_partitions_by_series(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        spark.sql(
            "SELECT * FROM VALUES ('a',0,1.0),('a',2,2.0),('b',0,7.0),"
            "('b',2,9.0) AS t(g,k,v)"
        ).createOrReplaceTempView("wf_multi2")
        rows = {
            (r["g"], r["k"]): r["total"]
            for r in ch_sql(
                spark,
                "SELECT g, k, sum(v) AS total FROM wf_multi2 GROUP BY g, k "
                "ORDER BY g, k WITH FILL INTERPOLATE (total)",
            ).collect()
        }
        # carry-forward never crosses the series boundary
        assert rows[("a", 1)] == 1.0 and rows[("b", 1)] == 7.0

    def test_fill_on_non_final_key_rejects(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        with pytest.raises(ChSqlError, match="series key"):
            ch_sql(
                spark,
                "SELECT 1 AS a, 2 AS b ORDER BY a + 1, b WITH FILL",
            )


class TestBehavioralAggregates:
    """retention / windowFunnel / sequenceMatch bridges (chsql 2a2) —
    semantics pinned against hand-computed ClickHouse behavior,
    including the sequenceMatch visibility example from the CH docs."""

    def _events(self, spark, rows):
        return spark.createDataFrame(
            [Row(u=u, ts=f"2024-01-01 00:00:{s:02d}", et=et) for u, s, et in rows]
        ).selectExpr("u", "CAST(ts AS TIMESTAMP) AS ts", "et")

    def test_retention_requires_first_condition(self, spark):
        self._events(
            spark, [(1, 1, "view"), (1, 2, "click"), (2, 3, "click")]
        ).createOrReplaceTempView("ev_ret")
        out = spark.sql(
            rw(
                "SELECT u, retention(et = 'view', et = 'click') AS r "
                "FROM ev_ret GROUP BY u ORDER BY u"
            )
        ).collect()
        assert [list(r.r) for r in out] == [[1, 1], [0, 0]]

    def test_window_funnel_window_and_restart(self, spark):
        self._events(
            spark,
            [
                # u=1: view@1 click@11 purchase@21; w=15 cuts purchase
                (1, 1, "view"), (1, 11, "click"), (1, 21, "purchase"),
                # u=2: same but within w=25 -> 3
                (2, 1, "view"), (2, 11, "click"), (2, 21, "purchase"),
                # u=3: late view restarts the chain (max start DP)
                (3, 1, "view"), (3, 30, "view"), (3, 35, "click"),
                # u=4: steps out of order -> stuck at 1
                (4, 5, "click"), (4, 9, "view"),
            ],
        ).createOrReplaceTempView("ev_wf")

        def lvls(w):
            out = spark.sql(
                rw(
                    f"SELECT u, windowFunnel({w})(ts, et = 'view', "
                    "et = 'click', et = 'purchase') AS lvl "
                    "FROM ev_wf GROUP BY u ORDER BY u"
                )
            ).collect()
            return {r.u: r.lvl for r in out}

        assert lvls(15) == {1: 2, 2: 2, 3: 2, 4: 1}
        assert lvls(25) == {1: 3, 2: 3, 3: 2, 4: 1}
        assert lvls(5) == {1: 1, 2: 1, 3: 2, 4: 1}

    def test_sequence_match_visibility(self, spark):
        # the ClickHouse docs example: t=1 n=1, t=2 n=3, t=3 n=2.
        # With conds (n=1, n=2): the n=3 event matches no condition ->
        # invisible -> '(?1)(?2)' matches. Adding n=3 as a condition
        # makes it visible and breaks adjacency; '(?1).*(?2)' still
        # matches.
        self._events(
            spark, [(1, 1, "n1"), (1, 2, "n3"), (1, 3, "n2")]
        ).createOrReplaceTempView("ev_sm")
        q2 = rw(
            "SELECT sequenceMatch('(?1)(?2)')(ts, et = 'n1', et = 'n2') "
            "AS m FROM ev_sm GROUP BY u"
        )
        assert spark.sql(q2).collect()[0].m == 1
        q3 = rw(
            "SELECT sequenceMatch('(?1)(?2)')(ts, et = 'n1', et = 'n2', "
            "et = 'n3') AS m FROM ev_sm GROUP BY u"
        )
        assert spark.sql(q3).collect()[0].m == 0
        q3g = rw(
            "SELECT sequenceMatch('(?1).*(?2)')(ts, et = 'n1', et = 'n2', "
            "et = 'n3') AS m FROM ev_sm GROUP BY u"
        )
        assert spark.sql(q3g).collect()[0].m == 1

    def test_sequence_match_no_match_and_order(self, spark):
        # n2 before n1 only -> no ordered match
        self._events(
            spark, [(1, 1, "n2"), (1, 2, "n1")]
        ).createOrReplaceTempView("ev_sm2")
        q = rw(
            "SELECT sequenceMatch('(?1)(?2)')(ts, et = 'n1', et = 'n2') "
            "AS m FROM ev_sm2 GROUP BY u"
        )
        assert spark.sql(q).collect()[0].m == 0

    def test_sequence_count_greedy_nonoverlap(self, spark):
        # a b a b -> 2 adjacent (view,click) matches; the overlapping
        # start at the second 'a' is consumed by the greedy reset.
        self._events(
            spark,
            [
                (1, 1, "n1"), (1, 2, "n2"), (1, 3, "n1"), (1, 4, "n2"),
                # u=2: a a b -> ONE match (greedy: completes once at b)
                (2, 1, "n1"), (2, 2, "n1"), (2, 3, "n2"),
                # u=3: no completion
                (3, 1, "n2"), (3, 2, "n2"),
            ],
        ).createOrReplaceTempView("ev_sc")
        q = rw(
            "SELECT u, sequenceCount('(?1)(?2)')(ts, et = 'n1', et = 'n2') "
            "AS c FROM ev_sc GROUP BY u ORDER BY u"
        )
        assert [(r.u, r.c) for r in spark.sql(q).collect()] == [
            (1, 2), (2, 1), (3, 0)
        ]
        # single-ref pattern counts every matching event
        q1 = rw(
            "SELECT u, sequenceCount('(?1)')(ts, et = 'n1') AS c "
            "FROM ev_sc GROUP BY u ORDER BY u"
        )
        assert [(r.u, r.c) for r in spark.sql(q1).collect()] == [
            (1, 2), (2, 2), (3, 0)
        ]

    def test_rejects_unbridged_forms(self, spark):
        with pytest.raises(ChSqlError, match="strict"):
            rw("SELECT windowFunnel(10, 'strict_order')(ts, a, b) FROM t GROUP BY u")
        with pytest.raises(ChSqlError, match="quoted literal"):
            rw("SELECT sequenceCount(pat)(ts, a) FROM t GROUP BY u")
        # time constraints: sequenceMatch-only, no ==/!=, no trailing op
        with pytest.raises(ChSqlError, match="sequenceMatch only"):
            rw("SELECT sequenceCount('(?1)(?t>10)(?2)')(ts, a, b) FROM t GROUP BY u")
        with pytest.raises(ChSqlError, match="exact-seconds"):
            rw("SELECT sequenceMatch('(?1)(?t==10)(?2)')(ts, a, b) FROM t GROUP BY u")
        with pytest.raises(ChSqlError, match="trailing time"):
            rw("SELECT sequenceMatch('(?1)(?t>10)')(ts, a) FROM t GROUP BY u")
        with pytest.raises(ChSqlError, match="preceding"):
            rw("SELECT sequenceMatch('(?t>10)(?1)')(ts, a) FROM t GROUP BY u")

    def test_window_funnel_strict_increase(self, spark):
        # overlapping cond1 (n1 or n2) vs cond2 (n2): at equal
        # timestamps the broader flag sorts first, so DEFAULT chains
        # within the same second while strict_increase cannot
        self._events(
            spark,
            [
                (1, 5, "n1"), (1, 5, "n2"),          # same ts: default 2, strict 1
                (2, 5, "n1"), (2, 9, "n2"),          # increasing: both 2
                (3, 5, "n2"),                        # n2 alone matches cond1 too -> 1
            ],
        ).createOrReplaceTempView("ev_si")
        q = rw(
            "SELECT u, windowFunnel(100)(ts, et IN ('n1','n2'), et = 'n2')"
            " AS d, windowFunnel(100, 'strict_increase')"
            "(ts, et IN ('n1','n2'), et = 'n2') AS s "
            "FROM ev_si GROUP BY u ORDER BY u"
        )
        got = {r.u: (r.d, r.s) for r in spark.sql(q).collect()}
        assert got == {1: (2, 1), 2: (2, 2), 3: (1, 1)}

    def test_window_funnel_strict_increase_window_still_applies(self, spark):
        self._events(
            spark, [(1, 1, "n1"), (1, 30, "n2")]
        ).createOrReplaceTempView("ev_si2")
        q = rw(
            "SELECT windowFunnel(10, 'strict_increase')"
            "(ts, et = 'n1', et = 'n2') AS s FROM ev_si2 GROUP BY u"
        )
        assert spark.sql(q).collect()[0].s == 1  # dt 29 > window 10

    def test_window_funnel_other_strict_modes_reject(self):
        for mode in ("strict_order", "strict_deduplication"):
            with pytest.raises(ChSqlError, match="strict_increase"):
                rw(
                    f"SELECT windowFunnel(10, '{mode}')(ts, a, b) "
                    "FROM t GROUP BY u"
                )

    def test_sequence_match_time_constraints(self, spark):
        # (?1)(?t<=6)(?2): adjacent view->click within 6 s
        # (?1).*(?t>8)(?2): any gap, >8 s from SOME earlier view
        self._events(
            spark,
            [
                # u=1: view@1 click@4 -> dt 3: <=6 yes; >8 no
                (1, 1, "view"), (1, 4, "click"),
                # u=2: view@1 click@15 -> adjacent dt 14: <=6 no; >8 yes
                (2, 1, "view"), (2, 15, "click"),
                # u=3: view@1 view@10 click@12 -> adjacency is the
                # LATEST view (dt 2, <=6 yes: max-end relaxation); the
                # >8 gap uses the EARLIEST view (dt 11: min-end)
                (3, 1, "view"), (3, 10, "view"), (3, 12, "click"),
                # u=4: click only -> neither
                (4, 1, "click"),
            ],
        ).createOrReplaceTempView("ev_smt")
        q = rw(
            "SELECT u, "
            "sequenceMatch('(?1)(?t<=6)(?2)')(ts, et = 'view', et = 'click')"
            " AS m_le, "
            "sequenceMatch('(?1).*(?t>8)(?2)')(ts, et = 'view', et = 'click')"
            " AS m_gt FROM ev_smt GROUP BY u ORDER BY u"
        )
        got = {r.u: (r.m_le, r.m_gt) for r in spark.sql(q).collect()}
        assert got == {1: (1, 0), 2: (0, 1), 3: (1, 1), 4: (0, 0)}

    def test_sequence_match_time_with_invisible_events(self, spark):
        # the visibility rule composes with time constraints: the n3
        # event is invisible (matches no condition), so (?1)(?t<=5)(?2)
        # sees n1@1, n2@3 as ADJACENT with dt 2
        self._events(
            spark, [(1, 1, "n1"), (1, 2, "n3"), (1, 3, "n2")]
        ).createOrReplaceTempView("ev_smt2")
        q = rw(
            "SELECT sequenceMatch('(?1)(?t<=5)(?2)')(ts, et = 'n1', "
            "et = 'n2') AS m FROM ev_smt2 GROUP BY u"
        )
        assert spark.sql(q).collect()[0].m == 1
        # making n3 a condition breaks adjacency; '.*(?t<=5)' restores
        q3 = rw(
            "SELECT sequenceMatch('(?1)(?t<=5)(?2)')(ts, et = 'n1', "
            "et = 'n2', et = 'n3') AS m FROM ev_smt2 GROUP BY u"
        )
        assert spark.sql(q3).collect()[0].m == 0
        q3g = rw(
            "SELECT sequenceMatch('(?1).*(?t<=5)(?2)')(ts, et = 'n1', "
            "et = 'n2', et = 'n3') AS m FROM ev_smt2 GROUP BY u"
        )
        assert spark.sql(q3g).collect()[0].m == 1

    def test_sequence_match_three_step_mixed_constraints(self, spark):
        # (?1)(?t<=5)(?2).*(?t>3)(?3): tight adjacent pair then a
        # loose-gap minimum separation
        self._events(
            spark,
            [
                (1, 1, "a"), (1, 3, "b"), (1, 9, "c"),   # dt1=2<=5, dt2=6>3 -> 1
                (2, 1, "a"), (2, 3, "b"), (2, 5, "c"),   # dt2=2 not >3 -> 0
                (3, 1, "a"), (3, 9, "b"), (3, 14, "c"),  # dt1=8 not <=5 -> 0
            ],
        ).createOrReplaceTempView("ev_smt3")
        q = rw(
            "SELECT u, sequenceMatch('(?1)(?t<=5)(?2).*(?t>3)(?3)')"
            "(ts, et = 'a', et = 'b', et = 'c') AS m "
            "FROM ev_smt3 GROUP BY u ORDER BY u"
        )
        assert [(r.u, r.m) for r in spark.sql(q).collect()] == [
            (1, 1), (2, 0), (3, 0)
        ]


class TestDictGetBridge:
    """dictGet*/dictHas → correlated-lookup rewrites (chsql 2a2)."""

    def test_lookup_defaults_and_has(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        spark.createDataFrame(
            [(1, "one", 10), (2, "two", 20)], "k: int, name: string, v: int"
        ).createOrReplaceTempView("dict_d")
        spark.createDataFrame(
            [(1,), (2,), (3,)], "k: int"
        ).createOrReplaceTempView("dict_f")
        rows = ch_sql(
            spark,
            "SELECT k, dictGetString('dict_d', 'name', k) AS nm, "
            "dictGetInt64('dict_d', 'v', k) AS v, "
            "dictGetOrDefault('dict_d', 'name', k, 'dflt') AS nd, "
            "dictHas('dict_d', k) AS h "
            "FROM dict_f ORDER BY k",
            dictionaries={"dict_d": "k"},
        ).collect()
        assert [(r.k, r.nm, r.v, r.nd, r.h) for r in rows] == [
            (1, "one", 10, "one", True),
            (2, "two", 20, "two", True),
            # missing key: typed default '' / 0, explicit default, has=False
            (3, "", 0, "dflt", False),
        ]

    def test_unregistered_and_composite_reject(self):
        with pytest.raises(ChSqlError, match="not registered"):
            rw(
                "SELECT dictGetString('nope', 'a', k) FROM t",
                dictionaries={"other": "k"},
            )
        with pytest.raises(ChSqlError, match="composite"):
            rw(
                "SELECT dictGetString('d', 'a', tuple(k1, k2)) FROM t",
                dictionaries={"d": "k"},
            )
        with pytest.raises(ChSqlError, match="dictionaries="):
            rw("SELECT dictGetString('d', 'a', k) FROM t")


class TestTimedSequenceMatchProperty:
    """Property: the timed sequenceMatch fold equals an INDEPENDENT
    brute-force subsequence search over the visible events, for random
    tiny event sets and a panel of timed patterns (the WITH FILL
    property-test discipline applied to the round-8 automaton)."""

    PATTERNS = [
        ("(?1)(?2)", [(0, False, None, 0), (1, False, None, 0)]),
        ("(?1)(?t<=5)(?2)", [(0, False, None, 0), (1, False, "<=", 5)]),
        ("(?1).*(?t>4)(?2)", [(0, False, None, 0), (1, True, ">", 4)]),
        ("(?1).*(?t<=3)(?2)", [(0, False, None, 0), (1, True, "<=", 3)]),
        (
            "(?1)(?t<6)(?2).*(?t>=2)(?1)",
            [(0, False, None, 0), (1, False, "<", 6), (0, True, ">=", 2)],
        ),
    ]

    @staticmethod
    def _brute(events, steps):
        """events: sorted visible [(t, flags)]; steps: (ci, gap, op, val)."""
        ops = {
            None: lambda d, v: True,
            "<=": lambda d, v: d <= v,
            "<": lambda d, v: d < v,
            ">=": lambda d, v: d >= v,
            ">": lambda d, v: d > v,
        }

        def search(step_i, prev_idx):
            if step_i == len(steps):
                return True
            ci, gap, op, val = steps[step_i]
            lo = 0 if prev_idx is None else prev_idx + 1
            hi = len(events) if (gap or prev_idx is None) else min(
                prev_idx + 2, len(events)
            )
            for v in range(lo, hi):
                if not events[v][1][ci]:
                    continue
                if prev_idx is not None and not ops[op](
                    events[v][0] - events[prev_idx][0], val
                ):
                    continue
                if search(step_i + 1, v):
                    return True
            return False

        return 1 if search(0, None) else 0

    def test_matches_bruteforce(self, spark):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        ev = st.tuples(
            st.integers(0, 12), st.booleans(), st.booleans()
        )

        @settings(
            max_examples=10,
            deadline=None,
            suppress_health_check=[HealthCheck.too_slow],
        )
        @given(events=st.lists(ev, min_size=0, max_size=7))
        def check(events):
            rows = [
                Row(u=1, ts=f"2024-01-01 00:00:{t:02d}", a=bool(a), b=bool(b))
                for t, a, b in events
            ]
            if rows:
                spark.createDataFrame(rows).selectExpr(
                    "u", "CAST(ts AS TIMESTAMP) AS ts", "a", "b"
                ).createOrReplaceTempView("tsm_t")
            else:
                spark.createDataFrame(
                    [], "u int, ts timestamp, a boolean, b boolean"
                ).createOrReplaceTempView("tsm_t")
            # visible = any cond true, sorted by (t, [a, b]) — the
            # engine's deterministic flag-array tiebreak
            vis = sorted(
                ((t, (a, b)) for t, a, b in events if a or b),
                key=lambda e: (e[0], e[1][0], e[1][1]),
            )
            for pat, steps in self.PATTERNS:
                q = rw(
                    f"SELECT sequenceMatch('{pat}')(ts, a, b) AS m "
                    "FROM tsm_t GROUP BY u"
                )
                got = spark.sql(q).collect()
                got_m = got[0]["m"] if got else 0
                want = self._brute(vis, steps)
                assert got_m == want, (pat, events, vis, got_m, want)

        check()


class TestWindowFunnelProperty:
    """Property harness for the funnel folds: DEFAULT mode against an
    independent brute-force max-level subsequence search (the max-start
    DP is provably optimal there: a larger chain start is never tighter
    under t_k - start <= w), and STRICT_INCREASE against a direct
    Python simulation of the per-level (first, last) overwrite policy
    (deliberately NOT brute-force max-level: the overwrite greed is
    ClickHouse's own documented behavior and can under-shoot an
    exhaustive search — the simulation IS the spec)."""

    @staticmethod
    def _visible(events):
        return sorted(
            ((t, (a, b, c)) for t, a, b, c in events if a or b or c),
            key=lambda e: (e[0], e[1][0], e[1][1], e[1][2]),
        )

    @staticmethod
    def _brute_default(vis, w):
        best = 0
        n = len(vis)

        def ext(level, prev_idx, start_t):
            nonlocal best
            best = max(best, level)
            if level == 3:
                return
            for v in range(prev_idx + 1, n):
                t, flags = vis[v]
                if flags[level] and (level == 0 or t - start_t <= w):
                    ext(level + 1, v, t if level == 0 else start_t)

        ext(0, -1, None)
        return best

    @staticmethod
    def _simulate_strict(vis, w):
        slots = [None, None, None]  # (first, last) per level
        for t, flags in vis:
            new = list(slots)
            for p in range(3):
                if not flags[p]:
                    continue
                if p == 0:
                    new[p] = (t, t)
                elif slots[p - 1] is not None:
                    f, l = slots[p - 1]
                    if t - f <= w and l < t:
                        new[p] = (f, t)
            slots = new
        return sum(1 for s in slots if s is not None)

    def test_matches_references(self, spark):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        ev = st.tuples(
            st.integers(0, 10), st.booleans(), st.booleans(), st.booleans()
        )

        @settings(
            max_examples=10,
            deadline=None,
            suppress_health_check=[HealthCheck.too_slow],
        )
        @given(events=st.lists(ev, min_size=0, max_size=7), w=st.sampled_from([2, 5, 30]))
        def check(events, w):
            rows = [
                Row(u=1, ts=f"2024-01-01 00:00:{t:02d}", a=bool(a), b=bool(b), c=bool(c))
                for t, a, b, c in events
            ]
            if rows:
                spark.createDataFrame(rows).selectExpr(
                    "u", "CAST(ts AS TIMESTAMP) AS ts", "a", "b", "c"
                ).createOrReplaceTempView("wfp_ev")
            else:
                spark.createDataFrame(
                    [], "u int, ts timestamp, a boolean, b boolean, c boolean"
                ).createOrReplaceTempView("wfp_ev")
            q = rw(
                f"SELECT windowFunnel({w})(ts, a, b, c) AS d, "
                f"windowFunnel({w}, 'strict_increase')(ts, a, b, c) AS s "
                "FROM wfp_ev GROUP BY u"
            )
            got = spark.sql(q).collect()
            got_d = got[0]["d"] if got else 0
            got_s = got[0]["s"] if got else 0
            vis = self._visible(events)
            assert got_d == self._brute_default(vis, w), (events, w, got_d)
            assert got_s == self._simulate_strict(vis, w), (events, w, got_s)

        check()


class TestSequenceCountProperty:
    """sequenceCount('(?1).*(?2)') against an independent greedy
    leftmost-scan reference over the visible events."""

    @staticmethod
    def _brute(vis):
        count, state = 0, 0  # state: 0 = want cond1, 1 = want cond2
        for _t, (a, b) in vis:
            if state == 0 and a:
                state = 1
            elif state == 1 and b:
                count += 1
                state = 0
        return count

    def test_matches_greedy_reference(self, spark):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        ev = st.tuples(st.integers(0, 10), st.booleans(), st.booleans())

        @settings(
            max_examples=10,
            deadline=None,
            suppress_health_check=[HealthCheck.too_slow],
        )
        @given(events=st.lists(ev, min_size=0, max_size=8))
        def check(events):
            rows = [
                Row(u=1, ts=f"2024-01-01 00:00:{t:02d}", a=bool(a), b=bool(b))
                for t, a, b in events
            ]
            if rows:
                spark.createDataFrame(rows).selectExpr(
                    "u", "CAST(ts AS TIMESTAMP) AS ts", "a", "b"
                ).createOrReplaceTempView("scp_ev")
            else:
                spark.createDataFrame(
                    [], "u int, ts timestamp, a boolean, b boolean"
                ).createOrReplaceTempView("scp_ev")
            q = rw(
                "SELECT sequenceCount('(?1).*(?2)')(ts, a, b) AS c "
                "FROM scp_ev GROUP BY u"
            )
            got = spark.sql(q).collect()
            got_c = got[0]["c"] if got else 0
            vis = sorted(
                ((t, (a, b)) for t, a, b in events if a or b),
                key=lambda e: (e[0], e[1][0], e[1][1]),
            )
            assert got_c == self._brute(vis), (events, vis, got_c)

        check()


class TestMovingAggregatesProperty:
    """groupArrayMovingSum/Avg bridge vs a scaled-integer Python
    reference (the CH AggregateFunctionMovingSum/Avg contract: windowed
    sums ending at each row; Avg divides EVERY element by the window
    size — the unbounded form by the group's row count)."""

    @staticmethod
    def _ref(xs, w=None, avg=False):
        scaled = [round(x * 10000) for x in xs]
        run, acc = [], 0
        for v in scaled:
            acc += v
            run.append(acc)
        n = len(scaled)
        if w is None:
            out = [s / 10000.0 for s in run]
            return [v / n for v in out] if avg else out
        out = [
            (run[i] - (run[i - w] if i >= w else 0)) / 10000.0
            for i in range(n)
        ]
        return [v / w for v in out] if avg else out

    def test_matches_reference(self, spark):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        val = st.decimals(
            min_value=-99, max_value=99, places=3, allow_nan=False
        )

        @settings(
            max_examples=10,
            deadline=None,
            suppress_health_check=[HealthCheck.too_slow],
        )
        @given(vals=st.lists(val, min_size=1, max_size=12),
               w=st.integers(1, 6))
        def check(vals, w):
            xs = [float(v) for v in vals]
            rows = [Row(g=1, x=x, k=i) for i, x in enumerate(xs)]
            spark.createDataFrame(rows).createOrReplaceTempView("mov_t")
            got = ch_sql(
                spark,
                f"SELECT g, groupArrayMovingSum(x, k) AS rs, "
                f"groupArrayMovingSum({w})(x, k) AS ms, "
                f"groupArrayMovingAvg({w})(x, k) AS ma, "
                f"groupArrayMovingAvg(x, k) AS maall "
                f"FROM mov_t GROUP BY g",
            ).collect()[0]
            assert got["rs"] == self._ref(xs), (xs, "rs")
            assert got["ms"] == self._ref(xs, w), (xs, w, "ms")
            assert got["ma"] == self._ref(xs, w, avg=True), (xs, w, "ma")
            assert got["maall"] == self._ref(xs, avg=True), (xs, "maall")

        check()

    def test_one_arg_form_rejects(self, spark):
        import pytest

        from mb8600_clickhouse_spark.functions.chsql import ChSqlError, ch_sql

        with pytest.raises(ChSqlError, match="sort"):
            ch_sql(spark, "SELECT groupArrayMovingSum(x) FROM t GROUP BY g")


class TestUniqUpTo:
    def test_exact_below_and_clamped_above(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        rows = [Row(g=1, x=f"v{i % 2}") for i in range(6)] + [
            Row(g=2, x=f"v{i}") for i in range(7)
        ]
        spark.createDataFrame(rows).createOrReplaceTempView("uut_t")
        got = {
            r["g"]: r["n"]
            for r in ch_sql(
                spark, "SELECT g, uniqUpTo(3)(x) AS n FROM uut_t GROUP BY g"
            ).collect()
        }
        assert got == {1: 2, 2: 4}  # exact 2; 7 distinct clamps to N+1=4

    def test_rejects_bad_params(self, spark):
        import pytest

        from mb8600_clickhouse_spark.functions.chsql import ChSqlError, ch_sql

        with pytest.raises(ChSqlError):
            ch_sql(spark, "SELECT uniqUpTo(0)(x) FROM t")
        with pytest.raises(ChSqlError):
            ch_sql(spark, "SELECT uniqUpTo(2)(x, y) FROM t")


class TestMapAggregates:
    """sumMap/minMap/maxMap bridge — CH's map-aggregate family as exact
    scaled-BIGINT folds over collected (key, value) pairs."""

    def test_multi_row_multi_key(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        rows = [
            Row(g=1, ks=["b", "a"], vs=[1.5, 2.25]),
            Row(g=1, ks=["a", "c"], vs=[0.5, -1.0]),
            Row(g=2, ks=["x"], vs=[7.0]),
        ]
        spark.createDataFrame(rows).createOrReplaceTempView("map_t")
        got = {
            r["g"]: r
            for r in ch_sql(
                spark,
                "SELECT g, sumMap(ks, vs) AS s, minMap(ks, vs) AS mn, "
                "maxMap(ks, vs) AS mx FROM map_t GROUP BY g",
            ).collect()
        }
        assert got[1]["s"]["k"] == ["a", "b", "c"]
        assert got[1]["s"]["v"] == [2.75, 1.5, -1.0]
        assert got[1]["mn"]["v"] == [0.5, 1.5, -1.0]
        assert got[1]["mx"]["v"] == [2.25, 1.5, -1.0]
        assert got[2]["s"]["v"] == [7.0]

    def test_map_form_rejects(self, spark):
        import pytest

        from mb8600_clickhouse_spark.functions.chsql import ChSqlError, ch_sql

        with pytest.raises(ChSqlError, match="2-array"):
            ch_sql(spark, "SELECT sumMap(m) FROM t")


class TestLttbProperty:
    """largestTriangleThreeBuckets bridge vs a pure-Python Steinarsson
    reference over random series (y pre-scaled to integral doubles —
    the exact-area contract)."""

    @staticmethod
    def _ref(pts, n):
        import math

        sz = len(pts)
        if n >= sz:
            return list(pts)
        every = (sz - 2) / (n - 2)
        out = [pts[0]]
        prev = pts[0]
        for i in range(n - 2):
            a_lo = math.floor((i + 1) * every) + 1
            a_hi = min(math.floor((i + 2) * every) + 1, sz)
            nb = pts[a_lo:a_hi] or [pts[sz - 1]]
            nav = (sum(p[0] for p in nb) / len(nb),
                   sum(p[1] for p in nb) / len(nb))
            bucket = pts[math.floor(i * every) + 1:
                         math.floor((i + 1) * every) + 1]
            best, best_a = bucket[0], -1.0
            for c in bucket:
                area = abs((prev[0] - nav[0]) * (c[1] - prev[1])
                           - (prev[0] - c[0]) * (nav[1] - prev[1]))
                if area > best_a:
                    best, best_a = c, area
            out.append(best)
            prev = best
        out.append(pts[sz - 1])
        return out

    def test_matches_reference(self, spark):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        pt = st.tuples(
            st.integers(0, 100000),
            st.decimals(min_value=-99, max_value=99, places=3,
                        allow_nan=False),
        )

        @settings(
            max_examples=8,
            deadline=None,
            suppress_health_check=[HealthCheck.too_slow],
        )
        @given(raw=st.lists(pt, min_size=1, max_size=30, unique_by=lambda p: p[0]),
               n=st.integers(3, 8))
        def check(raw, n):
            data = sorted((float(x), float(y)) for x, y in raw)
            rows = [Row(g=1, x=x, y=y) for x, y in data]
            spark.createDataFrame(rows).createOrReplaceTempView("lttb_pt")
            got = ch_sql(
                spark,
                f"SELECT g, largestTriangleThreeBuckets({n})(x, y) AS s "
                f"FROM lttb_pt GROUP BY g",
            ).collect()[0]["s"]
            scaled = [(x, float(round(y * 10000))) for x, y in data]
            want = self._ref(scaled, n)
            assert list(got["x"]) == [p[0] for p in want], (data, n)
            assert list(got["y"]) == [p[1] / 10000.0 for p in want], (data, n)

        check()

    def test_rejects_bad_params(self, spark):
        import pytest

        from mb8600_clickhouse_spark.functions.chsql import ChSqlError, ch_sql

        with pytest.raises(ChSqlError):
            ch_sql(spark, "SELECT lttb(2)(x, y) FROM t")
        with pytest.raises(ChSqlError):
            ch_sql(spark, "SELECT largestTriangleThreeBuckets(5)(x) FROM t")


class TestRegressionAndArrayScalars:
    def test_simple_linear_regression_exact_line(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        # exact line: slope/intercept recovered exactly from snapped sums
        rows = [Row(g=1, x=float(i), y=2.5 * i + 3.0) for i in range(12)]
        spark.createDataFrame(rows).createOrReplaceTempView("slr_x")
        r = ch_sql(
            spark,
            "SELECT g, simpleLinearRegression(x, y) AS lr FROM slr_x GROUP BY g",
        ).collect()[0]["lr"]
        assert r["k"] == 2.5 and r["b"] == 3.0

    def test_array_scalars(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        spark.createDataFrame(
            [Row(arr=[3, 1, 4, 1, 5])]
        ).createOrReplaceTempView("arr_x")
        r = ch_sql(
            spark,
            "SELECT arrayCumSum(arr) AS cs, arrayDifference(arr) AS df, "
            "arrayCumSum(arraySort(arr)) AS css FROM arr_x",
        ).collect()[0]
        assert r["cs"] == [3.0, 4.0, 8.0, 9.0, 14.0]
        assert r["df"] == [0, -2, 3, -3, 4]
        assert r["css"] == [1.0, 2.0, 5.0, 9.0, 14.0]

    def test_regression_rejects_bad_arity(self, spark):
        import pytest

        from mb8600_clickhouse_spark.functions.chsql import ChSqlError, ch_sql

        with pytest.raises(ChSqlError):
            ch_sql(spark, "SELECT simpleLinearRegression(x) FROM t")


class TestStatsAggregates:
    """Round-8 statistical aggregate bridge: exact scaled-moment algebra
    (chsql._rewrite_stats_aggs) vs pure-Python references computed with
    the same definitions (central moments /n; Pop vs Samp switches only
    the variance denominator; kurt is non-excess; MW uses avg ranks +
    tie-corrected z, no continuity correction)."""

    @pytest.fixture(scope="class")
    def stats_view(self, spark):
        import random

        rng = random.Random("stats-agg-13")
        rows = [
            Row(
                g="a" if i % 3 else "b",
                x=round(rng.uniform(-50.0, 150.0), 4),
                w=float(1 + i % 7),
                s=i % 2,
                t=1_700_000_000 + i * 37,
            )
            for i in range(400)
        ]
        # every 11th row reuses row 0's x: planted ties exercise the
        # MW tie-correction path
        spark.createDataFrame(
            [Row(g=r.g, x=r.x if i % 11 else rows[0].x, w=r.w, s=r.s, t=r.t)
             for i, r in enumerate(rows)]
        ).createOrReplaceTempView("stats_t")
        return [
            (r.g, r.x if i % 11 else rows[0].x, r.w, r.s, r.t)
            for i, r in enumerate(rows)
        ]

    def _snap(self, v):
        from decimal import Decimal

        return int(Decimal(str(v)).quantize(Decimal("0.0001")) * 10000)

    def test_moments_match_python(self, spark, stats_view):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        rows = ch_sql(
            spark,
            "SELECT g, skewPop(x) AS sp, skewSamp(x) AS ss, "
            "kurtPop(x) AS kp, kurtSamp(x) AS ks, "
            "avgWeighted(x, w) AS aw, covarPop(x, w) AS cp, "
            "covarSamp(x, w) AS cs FROM stats_t GROUP BY g ORDER BY g",
        ).collect()
        import math

        for r in rows:
            xs = [self._snap(x) for (g, x, w, s, t) in stats_view if g == r.g]
            ws = [self._snap(w) for (g, x, w, s, t) in stats_view if g == r.g]
            n = len(xs)
            mu = sum(xs) / n
            m2 = sum(v * v for v in xs) / n - mu * mu
            r3 = sum(v ** 3 for v in xs) / n
            r2 = sum(v * v for v in xs) / n
            m3 = r3 - 3 * mu * r2 + 2 * mu ** 3
            m4 = (
                sum(v ** 4 for v in xs) / n
                - 4 * mu * r3 + 6 * mu * mu * r2 - 3 * mu ** 4
            )
            vs = m2 * (n / (n - 1))
            assert r.sp == pytest.approx(m3 / (m2 * math.sqrt(m2)), rel=1e-9)
            assert r.ss == pytest.approx(m3 / (vs * math.sqrt(vs)), rel=1e-9)
            assert r.kp == pytest.approx(m4 / (m2 * m2), rel=1e-9)
            assert r.ks == pytest.approx(m4 / (vs * vs), rel=1e-9)
            aw = sum(x * w for x, w in zip(xs, ws)) / sum(ws) / 10000.0
            assert r.aw == pytest.approx(aw, rel=1e-9)
            sxy = sum(x * w for x, w in zip(xs, ws))
            cp = (sxy / n - (sum(xs) / n) * (sum(ws) / n)) / 1e8
            cs = (sxy - sum(xs) * sum(ws) / n) / (n - 1) / 1e8
            assert r.cp == pytest.approx(cp, rel=1e-9)
            assert r.cs == pytest.approx(cs, rel=1e-9)

    def test_ttests_and_mw_match_python(self, spark, stats_view):
        import math

        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        rows = ch_sql(
            spark,
            "SELECT g, studentTTest(x, s).t_stat AS ts, "
            "welchTTest(x, s).t_stat AS tw, welchTTest(x, s).df AS dfw, "
            "mannWhitneyUTest(x, s).u0 AS u0, mannWhitneyUTest(x, s).u1 "
            "AS u1, mannWhitneyUTest(x, s).z AS z "
            "FROM stats_t GROUP BY g ORDER BY g",
        ).collect()
        for r in rows:
            a = [self._snap(x) for (g, x, w, s, t) in stats_view
                 if g == r.g and s == 0]
            b = [self._snap(x) for (g, x, w, s, t) in stats_view
                 if g == r.g and s == 1]
            n0, n1 = len(a), len(b)
            mu0, mu1 = sum(a) / n0, sum(b) / n1
            ss0 = sum(v * v for v in a) - sum(a) ** 2 / n0
            ss1 = sum(v * v for v in b) - sum(b) ** 2 / n1
            sp2 = (ss0 + ss1) / (n0 + n1 - 2)
            ts = (mu0 - mu1) / math.sqrt(sp2 * (1 / n0 + 1 / n1))
            q0, q1 = ss0 / (n0 - 1) / n0, ss1 / (n1 - 1) / n1
            tw = (mu0 - mu1) / math.sqrt(q0 + q1)
            dfw = (q0 + q1) ** 2 / (q0 * q0 / (n0 - 1) + q1 * q1 / (n1 - 1))
            assert r.ts == pytest.approx(ts, rel=1e-9)
            assert r.tw == pytest.approx(tw, rel=1e-9)
            assert r.dfw == pytest.approx(dfw, rel=1e-9)
            both = a + b
            nn = len(both)
            r0 = sum(
                sum(1 for q in both if q < v)
                + (sum(1 for q in both if q == v) + 1) / 2
                for v in a
            )
            u0 = r0 - n0 * (n0 + 1) / 2
            assert r.u0 == u0 and r.u1 == n0 * n1 - u0
            from collections import Counter

            tsum = sum(c ** 3 - c for c in Counter(both).values())
            z = (u0 - n0 * n1 / 2) / math.sqrt(
                (n0 * n1 / 12) * ((nn + 1) - tsum / (nn * (nn - 1)))
            )
            assert r.z == pytest.approx(z, rel=1e-9)

    def test_entropy_matches_python(self, spark, stats_view):
        import math
        from collections import Counter

        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        rows = ch_sql(
            spark,
            "SELECT g, CAST(entropy(s) AS DOUBLE) AS h FROM stats_t "
            "GROUP BY g ORDER BY g",
        ).collect()
        for r in rows:
            c = Counter(s for (g, x, w, s, t) in stats_view if g == r.g)
            n = sum(c.values())
            h = math.log2(n) - sum(v * math.log2(v) for v in c.values()) / n
            assert r.h == pytest.approx(h, abs=2e-6)

    def test_degenerate_groups_null_not_error(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        spark.createDataFrame(
            [Row(g="one", x=5.0, s=0), Row(g="tied", x=7.0, s=0),
             Row(g="tied", x=7.0, s=1)]
        ).createOrReplaceTempView("stats_degen")
        r = ch_sql(
            spark,
            "SELECT g, skewPop(x) AS sp, skewSamp(x) AS ss, "
            "covarSamp(x, x) AS cv, boundingRatio(x, x) AS br, "
            "studentTTest(x, s).t_stat AS ts, "
            "mannWhitneyUTest(x, s).z AS z "
            "FROM stats_degen GROUP BY g ORDER BY g",
        ).collect()
        one = r[0]
        assert one.sp is None and one.ss is None and one.cv is None
        assert one.br is None and one.ts is None and one.z is None
        tied = r[1]  # two equal values: zero variance, tied ranks
        assert tied.sp is None and tied.ts is None and tied.z is None

    def test_arity_rejects(self):
        with pytest.raises(ChSqlError):
            rw("SELECT skewPop(a, b) FROM t")
        with pytest.raises(ChSqlError):
            rw("SELECT avgWeighted(a) FROM t")
        with pytest.raises(ChSqlError):
            rw("SELECT mannWhitneyUTest(a) FROM t")

    def test_oracle_dialect_rejects_fold_families(self):
        from mb8600_clickhouse_spark.functions.chsql import stats_agg_sql

        with pytest.raises(ChSqlError):
            stats_agg_sql("entropy", ["x"], dialect="duck")
        with pytest.raises(ChSqlError):
            stats_agg_sql("mannWhitneyUTest", ["x", "g"], dialect="duck")


class TestDeltaEmaBridge:
    """Round-8 counter/time-series bridges (chsql._rewrite_delta_ema):
    deltaSum/deltaSumTimestamp keyed folds, EMA weighted mean, and the
    nonNegativeDerivative window expansion."""

    @pytest.fixture(scope="class", autouse=True)
    def _data(self, spark):
        register_clickhouse_functions(spark)
        # one user: counter 10 -> 15 -> 12 (reset) -> 20; dt = 10s each
        rows = [
            Row(u=1, k=1, t=1000, v=10.0),
            Row(u=1, k=2, t=1010, v=15.0),
            Row(u=1, k=3, t=1020, v=12.0),
            Row(u=1, k=4, t=1030, v=20.0),
            Row(u=2, k=1, t=1000, v=5.0),
        ]
        spark.createDataFrame(rows).createOrReplaceTempView("delta_t")

    def test_delta_sum_skips_resets(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        rows = ch_sql(
            spark,
            "SELECT u, deltaSum(v, k) AS ds FROM delta_t GROUP BY u "
            "ORDER BY u",
        ).collect()
        # 10->15 (+5), 15->12 (reset, 0), 12->20 (+8) = 13
        assert [(r.u, r.ds) for r in rows] == [(1, 13.0), (2, 0.0)]

    def test_ema_matches_python(self, spark):
        import math

        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        r = ch_sql(
            spark,
            "SELECT CAST(exponentialMovingAverage(10)(v, t) AS DOUBLE) "
            "AS e FROM delta_t WHERE u = 1",
        ).collect()[0].e
        ts, vs = [1000, 1010, 1020, 1030], [10.0, 15.0, 12.0, 20.0]
        ws = [2.0 ** ((t - max(ts)) / 10.0) for t in ts]
        want = sum(v * w for v, w in zip(vs, ws)) / sum(ws)
        assert r == pytest.approx(want, abs=2e-6)

    def test_nonnegative_derivative_clamps(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        rows = ch_sql(
            spark,
            "SELECT k, nonNegativeDerivative(v, t) OVER "
            "(PARTITION BY u ORDER BY k) AS d FROM delta_t WHERE u = 1 "
            "ORDER BY k",
        ).collect()
        # +5/10s, reset clamps to 0, +8/10s; first row NULL
        assert [(r.k, r.d) for r in rows] == [
            (1, None), (2, 0.5), (3, 0.0), (4, 0.8),
        ]

    def test_lag_lead_in_frame(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        rows = ch_sql(
            spark,
            "SELECT k, lagInFrame(v) OVER w AS pv, leadInFrame(v, 2) "
            "OVER w AS nv2 FROM delta_t WHERE u = 1 "
            "WINDOW w AS (ORDER BY k) ORDER BY k",
        ).collect()
        assert [(r.k, r.pv, r.nv2) for r in rows] == [
            (1, None, 12.0), (2, 10.0, 20.0), (3, 15.0, None),
            (4, 12.0, None),
        ]

    def test_rejects(self):
        with pytest.raises(ChSqlError):
            rw("SELECT deltaSum(v) FROM t GROUP BY u")
        with pytest.raises(ChSqlError):
            rw("SELECT exponentialMovingAverage(0)(v, t) FROM t")
        with pytest.raises(ChSqlError):
            rw("SELECT exponentialMovingAverage('x')(v, t) FROM t")
        with pytest.raises(ChSqlError):
            rw("SELECT nonNegativeDerivative(v, t) OVER w FROM t "
               "WINDOW w AS (ORDER BY k)")
        with pytest.raises(ChSqlError):
            rw("SELECT nonNegativeDerivative(v, t, INTERVAL 1 SECOND) "
               "OVER (ORDER BY k) FROM t")


class TestIntervalAggregates:
    """Round-8 interval sweep aggregates: known-answer pins for the
    half-open contract and first-peak position (q171 hash-pins the
    relational-vs-fold equivalence)."""

    @pytest.fixture(scope="class", autouse=True)
    def _data(self, spark):
        register_clickhouse_functions(spark)
        # [0,10) [5,15) [20,30) [30,40): union 35; peak 2 at x=5;
        # touching 30 does NOT intersect (half-open)
        rows = [
            Row(g="a", s=0, e=10), Row(g="a", s=5, e=15),
            Row(g="a", s=20, e=30), Row(g="a", s=30, e=40),
            # overlapping triple for the position check
            Row(g="b", s=0, e=100), Row(g="b", s=10, e=50),
            Row(g="b", s=20, e=30), Row(g="b", s=60, e=70),
        ]
        spark.createDataFrame(rows).createOrReplaceTempView("iv_t")

    def test_known_answers(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        rows = ch_sql(
            spark,
            "SELECT g, intervalLengthSum(s, e) AS ls, "
            "maxIntersections(s, e) AS mi, "
            "maxIntersectionsPosition(s, e) AS mp "
            "FROM iv_t GROUP BY g ORDER BY g",
        ).collect()
        a, b = rows
        assert (a.ls, a.mi, a.mp) == (35, 2, 5)
        assert (b.ls, b.mi, b.mp) == (100, 3, 20)

    def test_property_vs_bruteforce(self, spark):
        import random

        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        rng = random.Random("interval-sweep-7")
        rows = []
        want = {}
        for g in range(6):
            ivs = []
            for _ in range(rng.randint(1, 25)):
                s = rng.randint(0, 200)
                e = s + rng.randint(1, 60)
                ivs.append((s, e))
                rows.append(Row(g=str(g), s=s, e=e))
            pts = set()
            for s, e in ivs:
                pts.update(range(s, e))
            peak = max(
                sum(1 for s, e in ivs if s <= x < e)
                for x in range(0, 261)
            )
            want[str(g)] = (len(pts), peak)
        spark.createDataFrame(rows).createOrReplaceTempView("iv_rand")
        got = ch_sql(
            spark,
            "SELECT g, intervalLengthSum(s, e) AS ls, "
            "maxIntersections(s, e) AS mi FROM iv_rand GROUP BY g",
        ).collect()
        for r in got:
            assert (r.ls, r.mi) == want[r.g], r.g

    def test_arity_reject(self):
        with pytest.raises(ChSqlError):
            rw("SELECT intervalLengthSum(s) FROM t")


class TestKsAssociation:
    """Round-8 KS + association bridges vs pure-Python references."""

    @pytest.fixture(scope="class", autouse=True)
    def _data(self, spark):
        import random

        register_clickhouse_functions(spark)
        rng = random.Random("ks-assoc-5")
        rows = [
            Row(
                g="x" if i % 2 else "y",
                v=round(rng.uniform(0, 50) + (10 if i % 3 == 0 else 0), 4),
                s=i % 3 % 2,
                a=str(i % 4),
                b=str((i % 4 + i % 2) % 4),
            )
            for i in range(300)
        ]
        spark.createDataFrame(rows).createOrReplaceTempView("ksa_t")
        return rows

    def test_ks_matches_python(self, spark, _data):
        from decimal import Decimal

        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        got = {
            r.g: r.d
            for r in ch_sql(
                spark,
                "SELECT g, kolmogorovSmirnovTest(v, s).d AS d FROM ksa_t "
                "GROUP BY g",
            ).collect()
        }
        for grp in ("x", "y"):
            vs = [
                (int(Decimal(str(r.v)).quantize(Decimal("0.0001")) * 10000),
                 r.s)
                for r in _data if r.g == grp
            ]
            a = [v for v, s in vs if s == 0]
            b = [v for v, s in vs if s == 1]
            n0, n1 = len(a), len(b)
            dnum = max(
                abs(n1 * sum(1 for x in a if x <= u)
                    - n0 * sum(1 for x in b if x <= u))
                for u in {v for v, _ in vs}
            )
            assert got[grp] == dnum / (n0 * n1), grp

    def test_assoc_matches_python(self, spark, _data):
        import math
        from collections import Counter
        from decimal import Decimal

        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        rows = ch_sql(
            spark,
            "SELECT g, CAST(cramersV(a, b) AS DOUBLE) AS cv, "
            "CAST(contingency(a, b) AS DOUBLE) AS ct, "
            "CAST(theilsU(a, b) AS DOUBLE) AS tu FROM ksa_t GROUP BY g",
        ).collect()
        for r in rows:
            pairs = [(d.a, d.b) for d in _data if d.g == r.g]
            n = len(pairs)
            cells = Counter(pairs)
            rac = Counter(p[0] for p in pairs)
            cbc = Counter(p[1] for p in pairs)
            chi2 = sum(
                (o - rac[x] * cbc[y] / n) ** 2 / (rac[x] * cbc[y] / n)
                for (x, y), o in cells.items()
            )
            chis = float(Decimal(str(chi2)).quantize(Decimal("0.000001")))
            cv = math.sqrt(chis / (n * (min(len(rac), len(cbc)) - 1)))
            ct = math.sqrt(chis / (chis + n))
            ha = math.log(n) - sum(
                c * math.log(c) for c in rac.values()
            ) / n
            hab = -sum(
                (o / n) * math.log(o / cbc[y])
                for (x, y), o in cells.items()
            )
            tu = (ha - hab) / ha
            assert r.cv == pytest.approx(cv, abs=2e-6)
            assert r.ct == pytest.approx(ct, abs=2e-6)
            assert r.tu == pytest.approx(tu, abs=2e-6)

    def test_degenerate_nulls(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        spark.createDataFrame(
            [Row(g="one", v=1.0, s=0, a="x", b="p"),
             Row(g="one", v=2.0, s=0, a="x", b="q")]
        ).createOrReplaceTempView("ksa_degen")
        r = ch_sql(
            spark,
            "SELECT kolmogorovSmirnovTest(v, s).d AS d, "
            "cramersV(a, b) AS cv FROM ksa_degen GROUP BY g",
        ).collect()[0]
        assert r.d is None and r.cv is None  # one-sample / one-category


class TestWeightedAggregates:
    @pytest.fixture(scope="class", autouse=True)
    def _data(self, spark):
        register_clickhouse_functions(spark)
        rows = [Row(g="a", v=float(v), w=w)
                for v, w in [(1, 1), (2, 3), (3, 1), (4, 5), (5, 2)]]
        rows += [Row(g="u", v=float(v), w=1) for v in range(1, 11)]
        spark.createDataFrame(rows).createOrReplaceTempView("wagg_t")

    def test_quantile_exact_weighted_pick_rule(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        rows = ch_sql(
            spark,
            "SELECT g, quantileExactWeighted(0.5)(v, w) AS med, "
            "quantileExactWeighted(0.0)(v, w) AS q0, "
            "quantileExactWeighted(1.0)(v, w) AS q1 "
            "FROM wagg_t GROUP BY g ORDER BY g",
        ).collect()
        a, u = rows
        # W=12, thr=6; cum 1,4,5,10 -> first >= 6 is v=4
        assert (a.med, a.q0, a.q1) == (4.0, 1.0, 5.0)
        # unit weights, n=10: thr=5 -> v=5 (CH's >= rule, lower median)
        assert (u.med, u.q0, u.q1) == (5.0, 1.0, 10.0)

    def test_topk_weighted_and_sorted(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        rows = ch_sql(
            spark,
            "SELECT g, topKWeighted(2)(v, w) AS t2, "
            "groupArraySorted(3)(v) AS s3 "
            "FROM wagg_t GROUP BY g ORDER BY g",
        ).collect()
        a, u = rows
        assert a.t2 == [4.0, 2.0]      # by weight 5, 3
        assert u.t2 == [1.0, 2.0]      # all tied -> value asc
        assert a.s3 == [1.0, 2.0, 3.0] and u.s3 == [1.0, 2.0, 3.0]

    def test_rejects(self):
        with pytest.raises(ChSqlError):
            rw("SELECT quantileExactWeighted(1.5)(v, w) FROM t")
        with pytest.raises(ChSqlError):
            rw("SELECT topKWeighted(k)(v, w) FROM t")
        with pytest.raises(ChSqlError):
            rw("SELECT groupArraySorted(3)(v, w) FROM t")


class TestBitFoldMapping:
    def test_bit_renames_and_folds(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        register_clickhouse_functions(spark)
        spark.createDataFrame(
            [Row(g=1, m=0b1100), Row(g=1, m=0b1010), Row(g=1, m=0b1001)]
        ).createOrReplaceTempView("bit_t")
        r = ch_sql(
            spark,
            "SELECT groupBitAnd(m) AS a, groupBitOr(m) AS o, "
            "groupBitXor(m) AS x, bitCount(groupBitOr(m)) AS bc, "
            "arrayFold((acc, v) -> acc + v, array(1, 2, 3), "
            "CAST(0 AS BIGINT)) AS fs, "
            "arrayReduce('max', array(3, 1, 2)) AS rm, "
            "arrayReduce('uniqExact', array(1, 1, 2)) AS ru, "
            "transformCH('1', array('0','1'), array('a','b'), 'z') AS tr, "
            "transformCH('9', array('0','1'), array('a','b'), 'z') AS trd "
            "FROM bit_t GROUP BY g",
        ).collect()[0]
        assert (r.a, r.o, r.x, r.bc) == (0b1000, 0b1111, 0b1111, 4)
        assert (r.fs, r.rm, r.ru) == (6, 3, 2)
        assert (r.tr, r.trd) == ("b", "z")

    def test_array_reduce_rejects_unknown(self):
        with pytest.raises(ChSqlError):
            rw("SELECT arrayReduce('median', arr) FROM t")
        with pytest.raises(ChSqlError):
            rw("SELECT arrayFold((a, x) -> a + x, arr) FROM t")


class TestSequenceNextNode:
    @pytest.fixture(scope="class", autouse=True)
    def _data(self, spark):
        from datetime import datetime as dt

        register_clickhouse_functions(spark)

        def T(s):
            return dt(2024, 1, 1, 0, 0, s)

        rows = [
            Row(u=1, t=T(1), e="A"), Row(u=1, t=T(2), e="B"),
            Row(u=1, t=T(3), e="C"), Row(u=1, t=T(4), e="D"),
            Row(u=2, t=T(1), e="X"), Row(u=2, t=T(2), e="A"),
            Row(u=2, t=T(3), e="B"),
            Row(u=3, t=T(1), e="A"),
        ]
        spark.createDataFrame(rows).createOrReplaceTempView("snn_t")

    def test_directions_and_bases(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        rows = ch_sql(
            spark,
            "SELECT u, "
            "sequenceNextNode('forward', 'head')(t, e, e = 'A', "
            "e = 'A', e = 'B') AS nh, "
            "sequenceNextNode('forward', 'first_match')(t, e, e = 'A', "
            "e = 'A', e = 'B') AS nf, "
            "sequenceNextNode('backward', 'tail')(t, e, e = 'D', "
            "e = 'D', e = 'C') AS nb "
            "FROM snn_t GROUP BY u ORDER BY u",
        ).collect()
        # u1 A B C D: head A->B next C; backward tail D,C previous B
        assert [tuple(r) for r in rows] == [
            (1, "C", "C", "B"),
            (2, None, None, None),  # head is X; A->B ends the sequence
            (3, None, None, None),  # single event, no chain
        ]

    def test_first_match_mid_sequence(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        r = ch_sql(
            spark,
            "SELECT sequenceNextNode('forward', 'first_match')"
            "(t, e, e = 'B', e = 'B', e = 'C') AS x "
            "FROM snn_t WHERE u = 1 GROUP BY u",
        ).collect()[0].x
        assert r == "D"  # chain B,C found mid-sequence; next is D

    def test_rejects(self):
        with pytest.raises(ChSqlError):
            rw("SELECT sequenceNextNode('forward', 'last_match')"
               "(t, e, c, c1) FROM t")
        with pytest.raises(ChSqlError):
            rw("SELECT sequenceNextNode('sideways', 'head')"
               "(t, e, c, c1) FROM t")
        with pytest.raises(ChSqlError):
            rw("SELECT sequenceNextNode('forward', 'head')(t, e, c) FROM t")


class TestArrayCombinators:
    def test_array_combinators_and_gated_argminmax(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        register_clickhouse_functions(spark)
        spark.createDataFrame(
            [
                Row(g=1, xs=[1.0, 2.0], eid=10, v=5, even=True),
                Row(g=1, xs=[2.0, 4.0], eid=20, v=9, even=False),
                Row(g=1, xs=[], eid=30, v=7, even=True),
            ]
        ).createOrReplaceTempView("arrc_t")
        r = ch_sql(
            spark,
            "SELECT sumArray(xs) AS s, avgArray(xs) AS a, "
            "minArray(xs) AS mn, maxArray(xs) AS mx, "
            "countArray(xs) AS c, uniqExactArray(xs) AS u, "
            "argMaxIf(eid, v, even) AS amx, "
            "argMinIf(eid, v, NOT even) AS amn "
            "FROM arrc_t GROUP BY g",
        ).collect()[0]
        assert (r.s, r.a, r.mn, r.mx, r.c, r.u) == (9.0, 2.25, 1.0, 4.0, 4, 3)
        assert r.amx == 30  # heaviest among even rows (v=7 > 5)
        assert r.amn == 20  # only odd row

    def test_arity_rejects(self):
        with pytest.raises(ChSqlError):
            rw("SELECT argMaxIf(x, v) FROM t")


class TestMedianQuantileVariants:
    def test_rewrites(self):
        assert rw("SELECT quantileTiming(0.9)(v) FROM t") == (
            "SELECT percentile_approx(v, 0.9) FROM t"
        )
        assert rw("SELECT quantileDeterministic(0.5)(v, seed) FROM t") == (
            "SELECT percentile_approx(v, 0.5) FROM t"
        )
        assert rw("SELECT medianExact(v) FROM t") == (
            "SELECT percentile(v, 0.5) FROM t"
        )
        assert rw("SELECT medianTiming(v) FROM t") == (
            "SELECT percentile_approx(v, 0.5) FROM t"
        )
        # medianExactWeighted chains into the weighted-quantile rewrite
        out = rw("SELECT medianExactWeighted(v, w) FROM t GROUP BY g")
        assert "collect_list" in out and "0.5" in out

    def test_deterministic_arity_reject(self):
        with pytest.raises(ChSqlError):
            rw("SELECT quantileDeterministic(0.5)(v) FROM t")


class TestWithConstants:
    def test_scalar_with_forms(self):
        assert rw("WITH 3600 AS bucket SELECT intDiv(x, bucket) FROM t") == (
            "SELECT intDiv(x, (3600)) FROM t"
        )
        out = rw("WITH 2 + 3 AS five, 'x' AS tag SELECT five * 2, tag FROM t")
        assert out == "SELECT (2 + 3) * 2, ('x') FROM t"

    def test_scalar_subquery_with(self):
        out = rw("WITH (SELECT max(x) FROM t) AS mx SELECT x / mx FROM t")
        assert out == "SELECT x / (SELECT max(x) FROM t) FROM t"

    def test_ctes_left_alone_and_mixed(self):
        assert rw("WITH c AS (SELECT 1 AS a) SELECT a FROM c") == (
            "WITH c AS (SELECT 1 AS a) SELECT a FROM c"
        )
        out = rw("WITH c AS (SELECT 1 AS a), 10 AS lim "
                 "SELECT a + lim FROM c")
        assert out == "WITH c AS (SELECT 1 AS a) SELECT a + (10) FROM c"

    def test_string_literals_not_substituted(self):
        out = rw("WITH 5 AS k SELECT 'k is k', k FROM t")
        assert out == "SELECT 'k is k', (5) FROM t"

    def test_inter_constant_references_resolve(self):
        # ADVICE r08: a constant defined in terms of an earlier one
        # must expand fully, not leave the inner name dangling
        out = rw("WITH 60 AS m, m * 60 AS h SELECT h FROM t")
        assert out == "SELECT ((60) * 60) FROM t"
        # three-deep chain
        out = rw("WITH 2 AS a, a * 3 AS b, b + a AS c SELECT c FROM t")
        assert out == "SELECT (((2) * 3) + (2)) FROM t"

    def test_cyclic_constants_reject(self):
        with pytest.raises(ChSqlError, match="cyclic"):
            rw("WITH b + 1 AS a, a + 1 AS b SELECT a FROM t")

    def test_integer_constant_as_ordinal_item_rejects(self):
        # Spark reads a substituted bare integer literal in GROUP BY /
        # ORDER BY as a POSITIONAL ordinal; ClickHouse resolves the
        # alias to a constant — silent wrong results, so reject
        with pytest.raises(ChSqlError, match="positional"):
            rw("WITH 2 AS k SELECT a, b FROM t ORDER BY k")
        with pytest.raises(ChSqlError, match="positional"):
            rw("WITH 1 AS k SELECT count(*) AS c FROM t GROUP BY k")
        with pytest.raises(ChSqlError, match="positional"):
            rw("WITH 2 AS k SELECT a, b FROM t ORDER BY a, k DESC")
        # an apostrophe in a comment or identifier in the list does not
        # hide the bare item
        with pytest.raises(ChSqlError, match="positional"):
            rw("WITH 2 AS k SELECT v, count() FROM t GROUP BY /* it's */ k")
        with pytest.raises(ChSqlError, match="positional"):
            rw("WITH 2 AS k SELECT v, count() FROM t GROUP BY `a'b`, k")
        # whichever clause follows the list
        for tail in ("QUALIFY n > 0", "HAVING n > 0",
                     "WINDOW w AS (ORDER BY n)"):
            with pytest.raises(ChSqlError, match="positional"):
                rw("WITH 2 AS k SELECT k, count() AS n FROM t "
                   f"GROUP BY k {tail}")
        # inside a subquery block too
        with pytest.raises(ChSqlError, match="positional"):
            rw("WITH 1 AS k SELECT * FROM "
               "(SELECT a, count(*) AS c FROM t GROUP BY a ORDER BY k) s")

    def test_integer_constant_in_expression_items_fine(self):
        # expression items are NOT ordinal-ized by either engine
        out = rw("WITH 2 AS k SELECT a, b FROM t ORDER BY a + k")
        assert out == "SELECT a, b FROM t ORDER BY a + (2) NULLS LAST"
        # non-integer constants are never ordinals
        out = rw("WITH 1.5 AS k SELECT a, b FROM t ORDER BY k")
        assert out == "SELECT a, b FROM t ORDER BY (1.5) NULLS LAST"
        # the name inside SELECT only — no clause collision
        out = rw("WITH 2 AS k SELECT a * k AS ak FROM t ORDER BY ak")
        assert out == "SELECT a * (2) AS ak FROM t ORDER BY ak NULLS LAST"

    def test_constants_substitute_into_cte_bodies(self):
        # ADVICE r08: CH scoping makes scalar constants visible inside
        # CTE bodies; the old rewrite left them unresolved there
        out = rw(
            "WITH 3600 AS b, x AS (SELECT value * b AS vb FROM t) "
            "SELECT vb FROM x"
        )
        assert out == (
            "WITH x AS (SELECT value * (3600) AS vb FROM t) "
            "SELECT vb FROM x"
        )

    def test_constants_substitute_into_subqueries(self):
        out = rw(
            "WITH 10 AS lim SELECT * FROM "
            "(SELECT a FROM t WHERE a < lim) s"
        )
        assert out == (
            "SELECT * FROM (SELECT a FROM t WHERE a < (10)) s"
        )

    def test_constant_expr_substitutes_into_cte(self):
        # a function-call constant lands inside the CTE body verbatim
        # (intDiv is a REGISTERED runtime scalar, not a rewrite — the
        # touched re-pass re-rewrites the block and correctly leaves
        # registered names alone)
        out = rw(
            "WITH intDiv(7, 2) AS q, x AS (SELECT a * q AS aq FROM t) "
            "SELECT aq FROM x"
        )
        assert out == (
            "WITH x AS (SELECT a * (intDiv(7, 2)) AS aq FROM t) "
            "SELECT aq FROM x"
        )

    def test_constant_in_cte_executes(self, spark):
        # end-to-end: the ADVICE repro shape, through a live session
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        spark.createDataFrame(
            [Row(value=7200.0), Row(value=10800.0)]
        ).createOrReplaceTempView("wc_t")
        rows = ch_sql(
            spark,
            "WITH 3600 AS b, x AS (SELECT value / b AS hrs FROM wc_t) "
            "SELECT hrs FROM x ORDER BY hrs",
        ).collect()
        assert [r.hrs for r in rows] == [2.0, 3.0]

    def test_shadowed_constant_in_cte_rejects(self):
        with pytest.raises(ChSqlError, match="shadow"):
            rw(
                "WITH 5 AS b, x AS (SELECT a AS b FROM t) "
                "SELECT b FROM x"
            )

    def test_scalar_subquery_constant_in_cte_rejects(self):
        with pytest.raises(ChSqlError, match="nesting"):
            rw(
                "WITH (SELECT max(a) FROM t) AS mx, "
                "x AS (SELECT a FROM t WHERE a < mx) SELECT a FROM x"
            )


class TestLagInFrameGuards:
    def test_default_frame_renames(self):
        out = rw("SELECT lagInFrame(v) OVER (PARTITION BY g ORDER BY k) "
                 "FROM t")
        assert "lag(v)" in out and "lagInFrame" not in out

    def test_explicit_frame_rejects(self):
        # ADVICE r08: Spark lag/lead ignore frames, CH lagInFrame
        # respects them — the blind rename silently diverged
        with pytest.raises(ChSqlError, match="frame"):
            rw("SELECT lagInFrame(v) OVER (ORDER BY k ROWS BETWEEN 2 "
               "PRECEDING AND CURRENT ROW) FROM t")
        with pytest.raises(ChSqlError, match="frame"):
            rw("SELECT leadInFrame(v, 2) OVER (ORDER BY k RANGE "
               "BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) FROM t")

    def test_named_window_with_frame_rejects(self):
        with pytest.raises(ChSqlError, match="frame"):
            rw("SELECT lagInFrame(v) OVER w FROM t WINDOW w AS "
               "(ORDER BY k ROWS UNBOUNDED PRECEDING)")

    def test_named_window_default_frame_renames(self):
        out = rw("SELECT lagInFrame(v) OVER w FROM t "
                 "WINDOW w AS (ORDER BY k)")
        assert "lag(v)" in out and "lagInFrame" not in out

    def test_unresolvable_named_window_rejects(self):
        with pytest.raises(ChSqlError, match="not found"):
            rw("SELECT lagInFrame(v) OVER nosuch FROM t")


class TestRunningDifferenceFirstValue:
    def test_variant_carries_first_value(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        spark.createDataFrame(
            [Row(k=1, v=10.0), Row(k=2, v=15.0), Row(k=3, v=12.0)]
        ).createOrReplaceTempView("rdf_t")
        rows = ch_sql(
            spark,
            "SELECT k, runningDifferenceStartingWithFirstValue(v) AS d "
            "FROM rdf_t ORDER BY k",
        ).collect()
        assert [(r.k, r.d) for r in rows] == [(1, 10.0), (2, 5.0), (3, -3.0)]


class TestWeightedQuantileProperty:
    """Hypothesis: quantileExactWeighted equals a brute-force expansion
    (each value repeated weight times, CH's cumulative >= p*W pick)."""

    def test_matches_expansion(self, spark):
        from decimal import Decimal

        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        register_clickhouse_functions(spark)

        @settings(
            max_examples=12, deadline=None,
            suppress_health_check=[HealthCheck.function_scoped_fixture],
        )
        @given(
            data=st.lists(
                st.tuples(
                    st.floats(-100, 100, allow_nan=False).map(
                        lambda v: round(v, 4)
                    ),
                    st.integers(1, 9),
                ),
                min_size=1, max_size=25,
            ),
            p=st.sampled_from([0.0, 0.1, 0.25, 0.5, 0.9, 1.0]),
        )
        def check(data, p):
            rows = [Row(v=float(v), w=w) for v, w in data]
            spark.createDataFrame(rows).createOrReplaceTempView("wqp_t")
            got = ch_sql(
                spark,
                f"SELECT quantileExactWeighted({p})(v, w) AS q "
                "FROM wqp_t GROUP BY 1.0",
            ).collect()[0].q
            snapped = sorted(
                (int(Decimal(str(v)).quantize(Decimal("0.0001")) * 10000), w)
                for v, w in data
            )
            total = sum(w for _, w in snapped)
            thr = p * total
            cum = 0
            want = None
            for v, w in snapped:
                cum += w
                if want is None and float(cum) >= thr:
                    want = v / 10000.0
            assert got == want, (data, p, got, want)

        check()


class TestSequenceNextNodeProperty:
    """Hypothesis: forward/first_match equals a brute-force scan."""

    def test_matches_bruteforce(self, spark):
        from datetime import datetime as dt

        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        register_clickhouse_functions(spark)

        @settings(
            max_examples=12, deadline=None,
            suppress_health_check=[HealthCheck.function_scoped_fixture],
        )
        @given(
            evs=st.lists(st.sampled_from("ABCX"), min_size=1, max_size=14),
        )
        def check(evs):
            rows = [
                Row(u=1, t=dt(2024, 1, 1, 0, 0, i), e=e)
                for i, e in enumerate(evs)
            ]
            spark.createDataFrame(rows).createOrReplaceTempView("snnp_t")
            got = ch_sql(
                spark,
                "SELECT sequenceNextNode('forward', 'first_match')"
                "(t, e, e = 'A', e = 'A', e = 'B') AS x "
                "FROM snnp_t GROUP BY u",
            ).collect()[0].x
            want = None
            for i in range(len(evs) - 1):
                if evs[i] == "A" and evs[i + 1] == "B":
                    want = evs[i + 2] if i + 2 < len(evs) else None
                    break
            assert got == want, (evs, got, want)

        check()


class TestLimitWithTiesAndNativeForms:
    @pytest.fixture(scope="class", autouse=True)
    def _data(self, spark):
        spark.createDataFrame(
            [Row(k=i, v=[10.0, 20.0, 20.0, 20.0, 30.0][i]) for i in range(5)]
        ).createOrReplaceTempView("ties_t")

    def test_limit_with_ties(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        rows = ch_sql(
            spark,
            "SELECT k, v FROM ties_t ORDER BY v LIMIT 2 WITH TIES",
        ).collect()
        # second row's v=20.0 ties rows 3 and 4 -> 4 rows total
        assert sorted(r.v for r in rows) == [10.0, 20.0, 20.0, 20.0]
        assert rows[0].asDict().keys() == {"k", "v"}  # rank projected away

    def test_limit_with_ties_no_ties(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        rows = ch_sql(
            spark,
            "SELECT k, v FROM ties_t ORDER BY v DESC LIMIT 1 WITH TIES",
        ).collect()
        assert [r.v for r in rows] == [30.0]

    def test_requires_order_by(self):
        with pytest.raises(ChSqlError):
            rw("SELECT k FROM t LIMIT 3 WITH TIES")

    def test_group_by_all_and_star_except_native(self, spark):
        # CH's GROUP BY ALL and column-exclusion star both run natively
        # in Spark 4 — pinned so a regression is loud
        rows = spark.sql(
            "SELECT v, count(*) AS n FROM ties_t GROUP BY ALL ORDER BY v"
        ).collect()
        assert [(r.v, r.n) for r in rows] == [(10.0, 1), (20.0, 3), (30.0, 1)]
        r = spark.sql("SELECT * EXCEPT (k) FROM ties_t LIMIT 1").collect()[0]
        assert r.asDict().keys() == {"v"}


class TestGroupArrayInsertAt:
    def test_positional_assembly(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        register_clickhouse_functions(spark)
        spark.createDataFrame(
            [Row(g=1, x="a", p=0), Row(g=1, x="b", p=2),
             Row(g=1, x="z", p=2),  # collision: min kept (documented)
             Row(g=1, x="c", p=9)]  # out of range: dropped
        ).createOrReplaceTempView("gai_t")
        r = ch_sql(
            spark,
            "SELECT groupArrayInsertAt('-', 4)(x, p) AS arr "
            "FROM gai_t GROUP BY g",
        ).collect()[0].arr
        assert r == ["a", "-", "b", "-"]

    def test_rejects(self):
        with pytest.raises(ChSqlError):
            rw("SELECT groupArrayInsertAt('-')(x, p) FROM t")
        with pytest.raises(ChSqlError):
            rw("SELECT groupArrayInsertAt('-', n)(x, p) FROM t")


class TestDistinctCombinators:
    def test_rewrites_and_executes(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        assert rw("SELECT sumDistinct(v) FROM t") == (
            "SELECT sum(DISTINCT v) FROM t"
        )
        assert rw("SELECT countDistinct(v), avgDistinct(v) FROM t") == (
            "SELECT count(DISTINCT v), avg(DISTINCT v) FROM t"
        )
        spark.createDataFrame(
            [Row(v=1.0), Row(v=1.0), Row(v=3.0)]
        ).createOrReplaceTempView("dist_t")
        r = ch_sql(
            spark,
            "SELECT sumDistinct(v) AS s, countDistinct(v) AS c, "
            "avgDistinct(v) AS a FROM dist_t",
        ).collect()[0]
        assert (r.s, r.c, r.a) == (4.0, 2, 2.0)


class TestNumbersTableFunction:
    def test_numbers_forms(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        rows = ch_sql(
            spark, "SELECT number * 2 AS d FROM numbers(5) ORDER BY number"
        ).collect()
        assert [r.d for r in rows] == [0, 2, 4, 6, 8]
        rows = ch_sql(
            spark,
            "SELECT number FROM numbers(10, 3) ORDER BY number",
        ).collect()
        assert [r.number for r in rows] == [10, 11, 12]

    def test_composes_with_bridges(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        # numbers() feeding a bridged aggregate in one statement
        r = ch_sql(
            spark,
            "SELECT quantileExactWeighted(0.5)(number, 1) AS med "
            "FROM numbers(101) GROUP BY 1.0",
        ).collect()[0].med
        assert r == 50.0


class TestWithConstantLambdaCollision:
    """A scalar WITH constant sharing a name with a lambda parameter is
    a LOUD reject (round 9): whole-word substitution would rewrite the
    parameter itself ('(5) -> (5) + 1') — a silent wrong-output class."""

    def test_single_param_collision_rejects(self):
        with pytest.raises(ChSqlError, match="lambda parameter"):
            rw("WITH 5 AS i SELECT transform(a, i -> i + 1) FROM t")

    def test_multi_param_collision_rejects(self):
        with pytest.raises(ChSqlError, match="lambda parameter"):
            rw("WITH 5 AS k SELECT transform(a, (x, k) -> x + k) FROM t")

    def test_collision_inside_cte_rejects(self):
        with pytest.raises(ChSqlError, match="lambda parameter"):
            rw("WITH 3600 AS b, x AS (SELECT transform(v, b -> b) AS z "
               "FROM t) SELECT z FROM x")

    def test_distinct_names_still_substitute(self):
        out = rw("WITH 5 AS k SELECT transform(a, x -> x + k) FROM t")
        assert out == "SELECT transform(a, x -> x + (5)) FROM t"


class TestAliasInliningSafety:
    """ADVICE r09: alias inlining must be string-literal- and
    qualifier-aware, accept any keyword case, and handle the
    conservative implicit-alias form — never corrupt non-references."""

    def test_string_literal_untouched(self):
        out = rw("SELECT x + 1 AS n FROM t WHERE tag = 'n'")
        assert "tag = 'n'" in out

    def test_table_qualifier_untouched(self):
        out = rw("SELECT a + 1 AS n FROM t JOIN n ON t.id = n.id "
                 "WHERE n.id > 2")
        assert "WHERE n.id > 2" in out

    def test_function_call_head_untouched(self):
        out = rw("SELECT a + 1 AS n FROM t WHERE n(b) > 2 AND n > 1")
        assert "n(b) > 2" in out and "(a + 1) > 1" in out

    def test_lowercase_as_inlines(self):
        out = rw("SELECT x + 1 as n FROM t WHERE n > 2")
        assert "WHERE (x + 1) > 2" in out

    def test_implicit_alias_inlines(self):
        out = rw("SELECT count(*) c FROM t GROUP BY k ORDER BY c")
        assert "ORDER BY (count(*))" in out or "ORDER BY c" in out
        out = rw("SELECT sum(v) s FROM t WHERE s > 2")
        assert "WHERE (sum(v)) > 2" in out

    def test_implicit_alias_not_misdetected(self):
        # a bare trailing identifier after an operator/keyword is NOT
        # an implicit alias (a OR b; INTERVAL units; window tails)
        assert "WHERE b > 2" in rw("SELECT a OR b FROM t WHERE b > 2")
        assert "WHERE x = 1" in rw(
            "SELECT ts + INTERVAL 1 DAY FROM t WHERE x = 1"
        )
        assert "WHERE w > 1" in rw(
            "SELECT rank() OVER w FROM t WHERE w > 1"
        )

    def test_alias_visibility_end_to_end(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        got = sorted(
            r["n"]
            for r in ch_sql(
                spark,
                "SELECT number + 1 as n FROM numbers(5) "
                "WHERE n > 2 AND 'n' != 'm'",
            ).collect()
        )
        assert got == [3, 4, 5]


class TestNestedTernary:
    """ADVICE r09: a nested ternary in the THEN branch is legal C/CH
    (right-associative) — the else-operand scan must stop at the outer
    ternary's same-depth ':' instead of over-extending."""

    def test_then_branch_nesting(self):
        out = rw("SELECT a ? b ? c : d : e AS s FROM t")
        assert "if(a, if(b, c, d), e)" in re.sub(r"\s+", " ", out)

    def test_else_branch_nesting_still_works(self):
        out = rw("SELECT a ? b : c ? d : e AS s FROM t")
        assert "if(a, b, if(c, d, e))" in re.sub(r"\s+", " ", out)

    def test_cast_in_else_operand(self):
        out = rw("SELECT a ? b : c::Int64 AS s FROM t")
        assert "if(a, b, c::BIGINT)" in re.sub(r"\s+", " ", out)

    def test_then_branch_nesting_executes(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        r = [
            x["s"]
            for x in ch_sql(
                spark,
                "SELECT number < 2 ? number = 0 ? 'zero' : 'one' "
                ": 'many' AS s FROM numbers(3) ORDER BY number",
            ).collect()
        ]
        assert r == ["zero", "one", "many"]


class TestStackedCombinators:
    """Round-10 probing wave: CH combinator STACKS (-IfOrNull,
    -ArrayIf, quantile*If, countDistinctIf) bridge to the composed
    spellings; anything unbridged fails loudly with the stack named
    (never Spark's unknown-function error), and dictGetOrNull joins
    the dictionary bridge."""

    def test_if_ornull_stacks(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        spark.createDataFrame(
            [Row(x=1.0, c=True), Row(x=2.0, c=False), Row(x=None, c=True)]
        ).createOrReplaceTempView("stack_t")
        r = ch_sql(
            spark,
            "SELECT sumIfOrNull(x, c) AS a, sumIfOrNull(x, x > 99) AS b, "
            "countIfOrNull(c) AS c1, countIfOrNull(x > 99) AS c0, "
            "sumIfOrDefault(x, x > 99) AS d, anyIfOrNull(x, x > 99) AS e "
            "FROM stack_t",
        ).collect()[0]
        assert (r.a, r.b, r.c1, r.c0, r.d, r.e) == (1.0, None, 2, None, 0, None)

    def test_both_stack_orders_normalize(self):
        a = rw("SELECT sumIfOrNull(x, c) FROM t")
        b = rw("SELECT sumOrNullIf(x, c) FROM t")
        assert a == b == "SELECT sum(CASE WHEN c THEN x END) FROM t"

    def test_unbridgeable_stack_legs_reject(self):
        with pytest.raises(ChSqlError, match="not bridged for min"):
            rw("SELECT minIfOrDefault(x, c) FROM t")
        with pytest.raises(ChSqlError, match="not bridged for uniq"):
            rw("SELECT uniqIfOrNull(x, c) FROM t")

    def test_array_if_stack(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        spark.createDataFrame(
            [Row(arr=[1.0, 2.0], c=True), Row(arr=[10.0], c=False)]
        ).createOrReplaceTempView("stack_arr_t")
        r = ch_sql(
            spark,
            "SELECT sumArrayIf(arr, c) AS s, countArrayIf(arr, c) AS n, "
            "minArrayIf(arr, c) AS mn FROM stack_arr_t",
        ).collect()[0]
        assert (r.s, r.n, r.mn) == (3.0, 2, 1.0)

    def test_quantile_and_distinct_if(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        r = ch_sql(
            spark,
            "SELECT quantileExactIf(0.5)(number, number < 5) AS q, "
            "countDistinctIf(number % 3, number < 6) AS d, "
            "medianExactIf(number, number < 5) AS m "
            "FROM numbers(100)",
        ).collect()[0]
        assert (r.q, r.d, r.m) == (2.0, 3, 2.0)

    def test_unbridged_stacks_fail_loudly(self):
        for bad in (
            "SELECT sumForEach(arr) FROM t",
            "SELECT avgStateIf(x, c) FROM t",
            "SELECT quantileMerge(s) FROM t",
            "SELECT maxResample(1, 10, 1)(x, k) FROM t",
        ):
            with pytest.raises(ChSqlError, match="combinator stack"):
                rw(bad)

    def test_no_false_positives(self):
        # names that merely LOOK suffixed must pass through
        for ok in (
            "SELECT countEqual(arr, 1) FROM t",
            "SELECT count_if(c) FROM t",
            "SELECT min_by(a, b) FROM t",
            "SELECT topKWeighted(3)(x, w) FROM t",
            "SELECT sumCount(x) FROM t",
        ):
            rw(ok)  # must not raise

    def test_dictget_ornull(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        spark.createDataFrame(
            [Row(key=1, attr="a"), Row(key=2, attr="b")]
        ).createOrReplaceTempView("dict_on_t")
        spark.range(4).createOrReplaceTempView("dict_on_src")
        got = [
            r.v
            for r in ch_sql(
                spark,
                "SELECT dictGetOrNull('dict_on_t', 'attr', id) AS v "
                "FROM dict_on_src ORDER BY id",
                dictionaries={"dict_on_t": "key"},
            ).collect()
        ]
        assert got == [None, "a", "b", None]


class TestArrayJoinFinalComposition:
    """Round-10 probing wave: FROM t FINAL composed with ARRAY JOIN —
    the FINAL dedup (latest version per key) must resolve BEFORE the
    explode, so a superseded row's array never contributes elements."""

    def test_inner_array_join_after_final(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        spark.createDataFrame(
            [Row(k=1, ver=1, arr=[10, 11]), Row(k=1, ver=2, arr=[20, 21]),
             Row(k=2, ver=1, arr=[30])]
        ).createOrReplaceTempView("ajf_t")
        rows = [
            tuple(r)
            for r in ch_sql(
                spark,
                "SELECT k, x FROM ajf_t FINAL ARRAY JOIN arr AS x "
                "ORDER BY k, x",
                final_tables={"ajf_t": ("k", "ver")},
            ).collect()
        ]
        assert rows == [(1, 20), (1, 21), (2, 30)]

    def test_left_array_join_after_final_empty_array(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        spark.createDataFrame(
            [Row(k=1, ver=1, arr=[10]), Row(k=1, ver=2, arr=[]),
             Row(k=2, ver=5, arr=[30])]
        ).createOrReplaceTempView("ajf_t2")
        rows = [
            tuple(r)
            for r in ch_sql(
                spark,
                "SELECT k, x FROM ajf_t2 FINAL LEFT ARRAY JOIN arr AS x "
                "ORDER BY k",
                final_tables={"ajf_t2": ("k", "ver")},
            ).collect()
        ]
        assert rows == [(1, None), (2, 30)]


class TestLimitByOffset:
    """Round-10 probing wave: CH's LIMIT [offset,] n BY and
    LIMIT n OFFSET m BY — rows offset+1..offset+n per group. The
    OFFSET spelling previously slipped through unrewritten."""

    def test_both_offset_spellings(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        spark.createDataFrame(
            [Row(k=i % 2, v=i) for i in range(8)]
        ).createOrReplaceTempView("lby_t")
        for q in (
            "SELECT k, v FROM lby_t ORDER BY v LIMIT 1, 2 BY k",
            "SELECT k, v FROM lby_t ORDER BY v LIMIT 2 OFFSET 1 BY k",
        ):
            rows = sorted(tuple(r) for r in ch_sql(spark, q).collect())
            # per k: skip the smallest v, keep the next two
            assert rows == [(0, 2), (0, 4), (1, 3), (1, 5)], (q, rows)

    def test_plain_limit_offset_untouched(self):
        sql = "SELECT k FROM t ORDER BY k LIMIT 2 OFFSET 1"
        assert rw(sql) == (
            "SELECT k FROM t ORDER BY k NULLS LAST LIMIT 2 OFFSET 1"
        )


class TestArrayFoldsNonAnsi:
    """Round-10: the engine's fixture mode runs ANSI OFF (tables.py),
    where size(NULL) is legacy -1 — the -Array count/avg folds must be
    mode-independent (a NULL array row contributes nothing, never -1)."""

    def test_count_avg_array_null_rows_both_modes(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        spark.createDataFrame(
            [Row(arr=[1.0, 2.0], c=True), Row(arr=[10.0], c=False),
             Row(arr=None, c=True)]
        ).createOrReplaceTempView("nonansi_arr_t")
        q = ("SELECT countArrayIf(arr, c) AS n, countArray(arr) AS na, "
             "avgArrayIf(arr, c) AS a FROM nonansi_arr_t")
        prev = spark.conf.get("spark.sql.ansi.enabled")
        try:
            for mode in ("true", "false"):
                spark.conf.set("spark.sql.ansi.enabled", mode)
                r = ch_sql(spark, q).collect()[0]
                assert (r.n, r.na, r.a) == (2, 3, 1.5), (mode, tuple(r))
        finally:
            spark.conf.set("spark.sql.ansi.enabled", prev)


class TestTernaryPropertyPin:
    """Randomized nested-ternary pin (round 10): 60 deterministic
    random ternary trees over literal operands, rendered in CH syntax
    WITHOUT parentheses around the nesting, rewritten, and executed in
    one statement — each must equal Python's right-associative
    conditional evaluation."""

    def _gen(self, rng, depth):
        # returns (ch_text, python_value)
        if depth == 0 or rng.random() < 0.4:
            v = rng.randrange(0, 100)
            return str(v), v
        cond = rng.random() < 0.5
        ctext = "1 = 1" if cond else "1 = 2"
        t_text, t_val = self._gen(rng, depth - 1)
        e_text, e_val = self._gen(rng, depth - 1)
        return f"{ctext} ? {t_text} : {e_text}", (t_val if cond else e_val)

    def test_random_nestings(self, spark):
        import random

        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        rng = random.Random(20260816)
        items, want = [], []
        for i in range(60):
            text, val = self._gen(rng, 3)
            if "?" not in text:
                continue
            items.append(f"({text}) AS c{i}")
            want.append(val)
        row = ch_sql(spark, "SELECT " + ", ".join(items)).collect()[0]
        assert list(row) == want


class TestWithConstantQualifierSafety:
    """Round 10 (the ADVICE r09 class, applied to _subst_const): a
    scalar WITH constant sharing a name with a table alias, a
    qualified column, or a function must never substitute into the
    qualified/invocation position — CH resolves those to the table/
    function, not the constant."""

    def test_table_qualifier_preserved(self):
        out = rw("WITH 5 AS n SELECT t.n + n FROM t WHERE n.id > 1")
        assert out == "SELECT t.n + (5) FROM t WHERE n.id > 1"

    def test_function_head_preserved(self):
        out = rw("WITH 5 AS f SELECT f(x), f FROM t")
        assert out == "SELECT f(x), (5) FROM t"

    def test_qualified_hit_is_not_a_cycle(self):
        # q's expr contains "n" only as a qualified column — the
        # fixed-point cycle check must not trip on it
        out = rw("WITH t.n AS q, 5 AS n SELECT q + n FROM t")
        assert out == "SELECT (t.n) + (5) FROM t"

    def test_executes(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        spark.range(3).selectExpr("id AS n").createOrReplaceTempView(
            "wq_t"
        )
        got = sorted(
            r.s
            for r in ch_sql(
                spark,
                "WITH 10 AS n SELECT wq_t.n + n AS s FROM wq_t",
            ).collect()
        )
        assert got == [10, 11, 12]


class TestRound10GapProbe:
    """Round-10 dashboard-scalar gap probe: tuple/tupleElement,
    composite-key IN, toDecimal*, and the new registered scalars."""

    def test_tuple_and_element(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        r = ch_sql(
            spark,
            "SELECT tuple(1, 'x') AS tp, tuple(1, 'x').2 AS e2, "
            "tupleElement(tuple(7, 8), 1) AS e1",
        ).collect()[0]
        assert (tuple(r.tp), r.e2, r.e1) == ((1, "x"), "x", 7)

    def test_tuple_in_literal_list(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        spark.createDataFrame(
            [Row(a=i % 3, b=i % 2) for i in range(6)]
        ).createOrReplaceTempView("tin_t")
        got = sorted(
            tuple(r)
            for r in ch_sql(
                spark,
                "SELECT a, b FROM tin_t WHERE (a, b) IN ((0, 0), (2, 1))",
            ).collect()
        )
        assert got == [(0, 0), (2, 1)]
        got = sorted(
            tuple(r)
            for r in ch_sql(
                spark,
                "SELECT a, b FROM tin_t WHERE (a, b) NOT IN ((0, 0), (2, 1))",
            ).collect()
        )
        assert got == [(0, 1), (1, 0), (1, 1), (2, 0)]

    def test_todecimal_family(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        r = ch_sql(
            spark,
            "SELECT toDecimal64(1.23456, 4) AS a, "
            "toDecimal32OrNull('xx', 2) AS b, "
            "toDecimal64OrZero('xx', 3) AS c, "
            "toDecimal32OrNull('1.5', 2) AS d",
        ).collect()[0]
        from decimal import Decimal

        assert (r.a, r.b, r.c, r.d) == (
            Decimal("1.2346"), None, Decimal("0.000"), Decimal("1.50"),
        )

    def test_new_scalars_execute(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql
        from mb8600_clickhouse_spark.functions.clickhouse import (
            register_clickhouse_functions,
        )

        register_clickhouse_functions(spark)
        r = ch_sql(
            spark,
            "SELECT exp2(10.0) AS e, isFinite(1.5) AS f1, "
            "isFinite(CAST('NaN' AS DOUBLE)) AS f0, "
            "isInfinite(CAST('Infinity' AS DOUBLE)) AS i1, "
            "monthName(TIMESTAMP '2024-04-05 01:02:03') AS mn, "
            "formatReadableSize(1536.0) AS fs, "
            "formatReadableSize(3.0) AS fb, "
            "timeSlot(TIMESTAMP '2024-04-05 01:47:03') AS sl, "
            "size(timeSlots(TIMESTAMP '2024-04-05 01:47:03', 3600)) AS ns, "
            "arrayProduct(array(2.0, 3.0, 4.0)) AS pr, "
            "visitParamExtractString('{\"k\":\"v\"}', 'k') AS vp, "
            "simpleJSONExtractInt('{\"n\": 42}', 'n') AS sj, "
            "toTypeName(1.5D) AS tn",
        ).collect()[0]
        import datetime

        assert r.e == 1024.0
        assert (r.f1, r.f0, r.i1) == (1, 0, 1)
        assert r.mn == "April"
        assert (r.fs, r.fb) == ("1.50 KiB", "3.00 B")
        assert r.sl == datetime.datetime(2024, 4, 5, 1, 30)
        assert r.ns == 3  # 01:30, 02:00, 02:30 cover [01:47, 02:47]
        assert r.pr == 24.0
        assert (r.vp, r.sj) == ("v", 42)
        assert r.tn == "double"

    def test_rejects_with_guidance(self):
        with pytest.raises(ChSqlError, match="best-effort"):
            rw("SELECT parseDateTimeBestEffort(s) FROM t")
        with pytest.raises(ChSqlError, match="FixedString"):
            rw("SELECT toFixedString(s, 8) FROM t")
        with pytest.raises(ChSqlError, match="DECIMAL\\(38\\)"):
            rw("SELECT toDecimal256(x, 10) FROM t")
        with pytest.raises(ChSqlError, match="field dispatch"):
            rw("SELECT tupleElement(tp, n) FROM t")

    def test_subquery_and_scalar_in_untouched(self):
        q1 = "SELECT x FROM t WHERE (a, b) IN (SELECT p, q FROM u)"
        assert rw(q1) == q1
        q2 = "SELECT x FROM t WHERE a IN (1, 2, 3)"
        assert rw(q2) == q2


class TestInfraSurfaceRejects:
    """Round-10: CH infra table functions and dynamic column
    transformers fail at rewrite time with the Spark-side recipe, not
    as downstream resolver/parse errors."""

    def test_cluster_and_external_table_functions(self):
        for bad, why in (
            ("SELECT x FROM remote('h', db, t)", "single-catalog"),
            ("SELECT x FROM a JOIN cluster('c', db.t) ON 1=1",
             "single-catalog"),
            ("SELECT x FROM s3('https://b/k.parquet')", "read side"),
            ("SELECT x FROM file('f.csv', 'CSV')", "read side"),
        ):
            with pytest.raises(ChSqlError, match=why):
                rw(bad)

    def test_column_transformers_and_collate(self):
        with pytest.raises(ChSqlError, match="explicitly"):
            rw("SELECT * EXCEPT (x) APPLY (sum) FROM t")
        with pytest.raises(ChSqlError, match="explicitly"):
            rw("SELECT * REPLACE (x + 1 AS x) FROM t")
        with pytest.raises(ChSqlError, match="schema analysis"):
            rw("SELECT COLUMNS('^ab') FROM t")
        with pytest.raises(ChSqlError, match="collation"):
            rw("SELECT x FROM t ORDER BY x COLLATE 'tr'")

    def test_non_hits_untouched(self):
        for ok in (
            "SELECT * EXCEPT (x) FROM t",
            "SELECT replace(s, 'a', 'b') FROM t",
            "SELECT *, replace(s, 'a', 'b') FROM t",
            "SELECT apply(x) FROM t",
        ):
            rw(ok)  # must not raise


class TestMaintenanceStatementRejects:
    """Round-10: CH maintenance/DDL statements name the owning engine
    API instead of falling through to Spark's parser."""

    def test_rejects_name_the_api(self):
        for bad, why in (
            ("OPTIMIZE TABLE docsis FINAL", "compact"),
            ("ALTER TABLE docsis DELETE WHERE x > 1", "delete_where"),
            ("ALTER TABLE docsis UPDATE x = 1 WHERE y = 2", "update_where"),
            ("SYSTEM FLUSH LOGS", "SparkSession"),
            ("CREATE TABLE t (x Int64) ENGINE = MergeTree ORDER BY x",
             "MIGRATION"),
            ("CREATE TABLE t (x Int64) ENGINE = ReplacingMergeTree(v)",
             "MIGRATION"),
        ):
            with pytest.raises(ChSqlError, match=why):
                rw(bad)

    def test_selects_and_inserts_untouched(self):
        # INSERT INTO ... SELECT is valid Spark SQL for catalog tables
        # and its SELECT body still rewrites
        out = rw("INSERT INTO t SELECT sumIf(x, c) FROM u")
        assert out == "INSERT INTO t SELECT sum(CASE WHEN c THEN x END) FROM u"
        q = "SELECT x FROM system_metrics"  # 'system' prefix inside a word
        assert rw(q) == q


class TestFormatDateTimeRound10Codes:
    """Round-10: widened exact %-code subset (%a %b %W %Q %h %I %r %R
    %D %f %c %n %t) and actionable hints on the ambiguous rejects."""

    def test_new_codes_exact(self, spark):
        import datetime

        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        spark.createDataFrame(
            [Row(ts=datetime.datetime(2024, 4, 8, 13, 2, 3, 456000))]
        ).createOrReplaceTempView("fmt10_t")
        r = ch_sql(
            spark,
            "SELECT formatDateTime(ts, '%a %b %W %Q %h %I %r %R %D "
            "%f %c') AS f FROM fmt10_t",
        ).collect()[0]
        assert r.f == (
            "Mon Apr Monday 2 01 01 01:02:03 PM 13:02 04/08/24 456000 04"
        )

    def test_ambiguous_codes_hint(self):
        with pytest.raises(ChSqlError, match="version-ambiguous"):
            rw("SELECT formatDateTime(ts, '%H:%M') FROM t")
        with pytest.raises(ChSqlError, match="zero-padded"):
            rw("SELECT formatDateTime(ts, '%e') FROM t")
        with pytest.raises(ChSqlError, match="toISOWeek"):
            rw("SELECT formatDateTime(ts, '%V') FROM t")


class TestParseDateTimeBridge:
    """Round-10: parseDateTime (CH's exact-format parse, the inverse
    of formatDateTime) shares the same exact %-code subset; -OrNull ->
    try_to_timestamp, -OrZero -> the DateTime-zero coalesce; the
    BestEffort heuristics family keeps its loud reject."""

    def test_roundtrip(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        r = ch_sql(
            spark,
            "SELECT parseDateTime('2024-04-08 13:02:03', "
            "'%Y-%m-%d %H:%i:%S') AS p, "
            "parseDateTimeOrNull('nope', '%Y-%m-%d') AS pn, "
            "parseDateTimeOrZero('nope', '%Y-%m-%d') AS pz, "
            "formatDateTime(parseDateTime('08/04/24', '%d/%m/%y'), "
            "'%F') AS rt",
        ).collect()[0]
        import datetime

        assert r.p == datetime.datetime(2024, 4, 8, 13, 2, 3)
        assert r.pn is None
        assert r.pz == datetime.datetime(1970, 1, 1)
        assert r.rt == "2024-04-08"

    def test_rejects(self):
        with pytest.raises(ChSqlError, match="best-effort"):
            rw("SELECT parseDateTimeBestEffort(s) FROM t")
        with pytest.raises(ChSqlError, match="timezone argument"):
            rw("SELECT parseDateTime(s, '%Y', 'UTC') FROM t")
        with pytest.raises(ChSqlError, match="version-ambiguous"):
            rw("SELECT parseDateTime(s, '%M') FROM t")
        with pytest.raises(ChSqlError, match="LITERAL format"):
            rw("SELECT parseDateTime(s, f) FROM t")


class TestAdviceR10Fixes:
    """Round 11: the four ADVICE r10 findings, pinned with EXECUTED
    semantics (the text pins live in the rename/combinator tests)."""

    def test_any_family_skips_nulls(self, spark):
        """CH aggregates skip NULLs; the -If gate introduces them. A
        leading NULL / non-match must not mask real values — the exact
        verified failure: anyIfOrNull over [(NULL,false),(1.0,true),
        (2.0,true)] returned NULL instead of a matching value."""
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        spark.createDataFrame(
            [Row(x=None, c=False), Row(x=1.0, c=True), Row(x=2.0, c=True)]
        ).createOrReplaceTempView("advice_any_t")
        r = ch_sql(
            spark,
            "SELECT anyIfOrNull(x, c) AS a, anyOrNull(x) AS b, "
            "anyIf(x, c) AS c2, any(x) AS d, anyLast(x) AS e "
            "FROM advice_any_t",
        ).collect()[0]
        for v in (r.a, r.b, r.c2, r.d, r.e):
            assert v in (1.0, 2.0), r
        # -OrNull contract: NULL iff NO matching rows
        r2 = ch_sql(
            spark,
            "SELECT anyIfOrNull(x, false) AS a FROM advice_any_t",
        ).collect()[0]
        assert r2.a is None

    def test_parse_datetime_plain_is_loud(self, spark):
        """CH parseDateTime THROWS on unparseable input; in a non-ANSI
        session a bare to_timestamp silently returned NULL, collapsing
        the plain form into -OrNull."""
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        prev = spark.conf.get("spark.sql.ansi.enabled")
        spark.conf.set("spark.sql.ansi.enabled", "false")
        try:
            with pytest.raises(Exception, match="parseDateTime"):
                ch_sql(
                    spark,
                    "SELECT parseDateTime('garbage', '%Y-%m-%d') AS r",
                ).collect()
            # NULL input still propagates as NULL (CH nullable rule)
            r = ch_sql(
                spark,
                "SELECT parseDateTime(CAST(NULL AS STRING), '%Y-%m-%d') "
                "AS r",
            ).collect()[0]
            assert r.r is None
        finally:
            spark.conf.set("spark.sql.ansi.enabled", prev)

    def test_parse_rejects_format_only_codes(self):
        """%a/%W/%Q translate to E/q-class Java symbols Spark forbids
        in PARSING: rewrite-time ChSqlError, not a runtime
        SparkUpgradeException (which -OrNull would leak)."""
        for code in ("%a", "%W", "%Q"):
            with pytest.raises(ChSqlError, match="format-only"):
                rw(f"SELECT parseDateTime(s, '{code}') FROM t")
            with pytest.raises(ChSqlError, match="format-only"):
                rw(f"SELECT parseDateTimeOrNull(s, '{code}') FROM t")
        # formatDateTime keeps the codes
        assert "EEE" in rw("SELECT formatDateTime(ts, '%a') FROM t")

    def test_stacked_combinator_case_insensitive(self):
        """_first_match is case-insensitive, so 'SumIfOrNull' arrives
        with base 'Sum' — the ok_bases guard must lowercase before the
        membership check or a bridgeable form raises 'not bridged'."""
        assert rw("SELECT SumIfOrNull(x, c) FROM t") == (
            "SELECT sum(CASE WHEN c THEN x END) FROM t"
        )
        assert rw("SELECT ANYIFORNULL(x, c) FROM t") == (
            "SELECT any_value(CASE WHEN c THEN x END, true) FROM t"
        )


class TestRound11GapProbe:
    """Round 11 probing wave (VERDICT r10 #6): grammar corners found by
    exhaustive rewrite-level probes — each was a silent text corruption
    or a reject-miss before the fix."""

    def test_stack_reject_covers_all_bridged_bases(self):
        """avgWeightedResample / uniqUpToResample (and the other
        late-added bases) slipped past _COMB_STACK_PAT to Spark's
        resolver because the pattern lacked their base names."""
        for q in (
            "SELECT avgWeightedResample(0, 10, 1)(v, w, k) FROM t",
            "SELECT uniqUpToResample(0, 10, 1)(5)(v, k) FROM t",
            "SELECT boundingRatioForEach(x, y) FROM t",
            "SELECT studentTTestState(v, g) FROM t",
            "SELECT windowFunnelMerge(st) FROM t",
            "SELECT groupArraySortedResample(0,1,1)(3)(v, k) FROM t",
            "SELECT deltaSumTimestampForEach(v, ts) FROM t",
            "SELECT maxIntersectionsResample(0,1,1)(s, e, k) FROM t",
        ):
            with pytest.raises(ChSqlError, match="not bridged"):
                rw(q)

    def test_stack_reject_no_false_positives(self):
        """The longer base names must not shadow their bridged
        single-combinator prefixes."""
        assert "CASE WHEN c THEN v END" in rw("SELECT sumIf(v, c) FROM t")
        assert "sum" in rw("SELECT avgWeighted(v, w) FROM t")
        assert "least" in rw("SELECT uniqUpTo(3)(v) FROM t")
        rw("SELECT topKWeighted(3)(v, w) FROM t")
        rw("SELECT groupArraySorted(3)(v) FROM t")

    def test_sample_ratio_form(self):
        """SAMPLE 1/10 previously half-consumed to ``FROM t/10`` —
        silent text corruption; the ratio form is CH grammar."""
        got = rw("SELECT v FROM t SAMPLE 1/10", sample_by={"t": "id"})
        assert "< '19999999'" in got and "t/10" not in got

    def test_sample_offset_window(self):
        """SAMPLE x OFFSET y is the shifted hash window [y, y+x); the
        stray OFFSET previously survived into the output text."""
        got = rw(
            "SELECT v FROM t SAMPLE 1/4 OFFSET 1/2",
            sample_by={"t": "id"},
        )
        assert ">= '80000000'" in got and "< 'c0000000'" in got
        assert "OFFSET" not in got
        with pytest.raises(ChSqlError, match="past 1.0"):
            rw(
                "SELECT v FROM t SAMPLE 0.6 OFFSET 0.5",
                sample_by={"t": "id"},
            )

    def test_comments_are_opaque_to_rewrites(self, spark):
        """Quotes/parens/commas inside -- and /* */ comments must not
        desync the scanner: an apostrophe in a block comment
        previously read as string-start and silently turned every
        rewrite after it OFF (round 11 probe). The lexer's views are
        property-tested against each other in test_chsql_lexer.py."""
        got = rw("SELECT /* block 'quote */ sumIf(v, ok) FROM t")
        assert "CASE WHEN ok THEN v END" in got
        got2 = rw("SELECT 1 AS a -- don't\n, sumIf(v, ok) FROM t")
        assert "CASE WHEN ok THEN v END" in got2
        # an unpaired double quote in a comment must not trip the
        # identifier converter either
        got3 = rw('SELECT sumIf(v, ok) FROM t -- say "hi\n')
        assert "CASE WHEN ok THEN v END" in got3

    def test_double_quoted_identifiers(self, spark):
        """CH double-quoted tokens are IDENTIFIERS; Spark's default
        parser reads them as STRING literals, so SELECT \"col\" FROM t
        silently projected the constant 'col' (round 11 probe, the
        worst divergence class). Now backtick-converted; double quotes
        INSIDE single-quoted strings stay literal."""
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        spark.range(3).selectExpr("id AS col").createOrReplaceTempView(
            "chsql_dq_t"
        )
        got = [
            r.c
            for r in ch_sql(
                spark,
                'SELECT "col" AS c FROM chsql_dq_t ORDER BY "col"',
            ).collect()
        ]
        assert got == [0, 1, 2]
        r = ch_sql(spark, """SELECT 'say "hi"' AS s""").collect()[0]
        assert r.s == 'say "hi"'

    def test_function_form_cast(self, spark):
        """CH's CAST(x, 'Type') function form — previously Spark's
        zero-arg `cast` resolver error three layers down."""
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        r = ch_sql(
            spark,
            "SELECT CAST('7', 'Nullable(Int64)') AS a, "
            "CAST(3.9, 'Int32') AS b",
        ).collect()[0]
        assert (r.a, r.b) == (7, 3)
        with pytest.raises(ChSqlError, match="unrecognized"):
            rw("SELECT CAST(v, 'NotAType') FROM t")

    def test_distinct_on_rejects_with_recipe(self):
        """CH DISTINCT ON is block-order nondeterministic: loud reject
        naming the deterministic LIMIT 1 BY spelling."""
        with pytest.raises(ChSqlError, match="LIMIT 1 BY"):
            rw("SELECT DISTINCT ON (k) k, v FROM t")

    def test_hex_binary_literals(self, spark):
        """CH hex/binary integer literals -> decimal (Spark parses
        0x1F as an identifier)."""
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        r = ch_sql(spark, "SELECT 0x1F AS h, 0b101 AS b").collect()[0]
        assert (r.h, r.b) == (31, 5)
        # inside a string: untouched
        assert rw("SELECT '0x1F' AS s FROM t") == "SELECT '0x1F' AS s FROM t"

    def test_to_number_ornull_orzero_family(self, spark):
        """The full toInt*/toUInt* -OrNull/-OrZero conversion family
        (round 11 probe: toUInt32OrNull resolved to nothing)."""
        from mb8600_clickhouse_spark.functions.clickhouse import (
            register_clickhouse_functions,
        )

        register_clickhouse_functions(spark)
        r = spark.sql(
            "SELECT toUInt32OrNull('abc') AS a, toUInt32OrNull('9') AS b, "
            "toInt64OrZero('x') AS z, toFloat64OrZero('2.5') AS f"
        ).collect()[0]
        assert (r.a, r.b, r.z, r.f) == (None, 9, 0, 2.5)

    def test_backslash_escapes_in_string_literals(self, spark):
        r"""CH's lexer uses backslash escapes: 'it\'s' previously read
        as string-end at the \', silently turning every rewrite after
        it OFF (sumIf stayed un-bridged). The scanner now treats
        backslash-anything as string body, and Spark's default parser
        agrees on the literal's value."""
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        got = rw(r"SELECT 'it\'s' AS s, sumIf(v, ok) FROM t")
        assert "CASE WHEN ok THEN v END" in got
        got2 = rw(r"SELECT 'a\\' AS s, uniq(x) FROM t")
        assert "approx_count_distinct" in got2
        # a subquery inside an escaped literal is text, not a block
        lit = r"SELECT 'a\'b (SELECT count() FROM t)' AS s FROM u"
        assert rw(lit) == lit
        spark.range(1).selectExpr(
            "true AS ok", "2.0 AS v"
        ).createOrReplaceTempView("chsql_esc_t")
        r = ch_sql(
            spark,
            r"SELECT 'it\'s' AS s, sumIf(v, ok) AS x FROM chsql_esc_t",
        ).collect()[0]
        assert r.s == "it's" and r.x == 2.0

    def test_format_literal_letters_escape(self, spark):
        """Literal letters in a %-format translate to QUOTED Java
        pattern chars ('T'): the embedded quotes must escape as ''
        in the emitted SQL literal — ISO-8601 formats broke the
        statement text before (found by the round-trip property)."""
        import datetime

        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        spark.createDataFrame(
            [Row(ts=datetime.datetime(2024, 4, 8, 13, 2, 3))]
        ).createOrReplaceTempView("fmt_lit_t")
        r = ch_sql(
            spark,
            "SELECT formatDateTime(ts, '%Y-%m-%dT%H:%i:%S') AS f, "
            "parseDateTime('2024-04-08T13:02:03', '%Y-%m-%dT%H:%i:%S') "
            "AS p FROM fmt_lit_t",
        ).collect()[0]
        assert r.f == "2024-04-08T13:02:03"
        assert r.p == datetime.datetime(2024, 4, 8, 13, 2, 3)

    def test_sample_prewhere_composition(self):
        """SAMPLE + PREWHERE + WHERE compose: hash window innermost,
        PREWHERE folded into the outer WHERE conjunction."""
        got = rw(
            "SELECT v FROM t SAMPLE 0.1 PREWHERE a > 1 WHERE b < 2",
            sample_by={"t": "id"},
        )
        assert "< '19999999'" in got
        assert "(a > 1) AND (b < 2)" in got


class TestParseDateTimeRoundTrip:
    """Round 11 (VERDICT r10 #6): the parse direction of the %-code
    property — formatDateTime then parseDateTime over random
    timestamps must be the identity for every self-consistent format
    that carries a full date (the format direction has its own
    property test; this pins the inverse through the SAME
    _FMT_CODES table)."""

    # each format determines the expected truncation of the round-trip
    FORMATS = [
        ("%Y-%m-%d %H:%i:%S", "second"),
        ("%F %T", "second"),
        ("%d/%m/%Y %H:%i:%S", "second"),
        ("%Y-%m-%dT%H:%i:%S.%f", "micro"),
        ("%Y-%m-%d %h:%i:%S %p", "second"),
        ("%F %r", "second"),
        ("%D %R", "minute"),  # %y two-digit year, minute precision
        ("%Y-%m-%d", "day"),
    ]

    def test_round_trip_identity(self, spark):
        import datetime
        import random as _r

        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        rng = _r.Random("pdt-rt")
        rows = []
        for i in range(120):
            ts = datetime.datetime(
                # %D carries a 2-digit year: stay in Java's yy window
                rng.randint(2000, 2068), rng.randint(1, 12),
                rng.randint(1, 28), rng.randint(0, 23),
                rng.randint(0, 59), rng.randint(0, 59),
                rng.randint(0, 999999),
            )
            rows.append(Row(i=i, ts=ts))
        spark.createDataFrame(rows).createOrReplaceTempView("pdt_rt_t")
        trunc = {
            "micro": lambda t: t,
            "second": lambda t: t.replace(microsecond=0),
            "minute": lambda t: t.replace(second=0, microsecond=0),
            "day": lambda t: t.replace(
                hour=0, minute=0, second=0, microsecond=0
            ),
        }
        for fmt, prec in self.FORMATS:
            got = {
                r.i: r.rt
                for r in ch_sql(
                    spark,
                    f"SELECT i, parseDateTime(formatDateTime(ts, "
                    f"'{fmt}'), '{fmt}') AS rt FROM pdt_rt_t",
                ).collect()
            }
            for row in rows:
                assert got[row.i] == trunc[prec](row.ts), (fmt, row.ts)


class TestAdviceR11Fixes:
    """Round 12: the five ADVICE r11 findings, pinned with executed
    semantics where the bug was a silent value divergence."""

    def test_sample_offset_tail_window(self, spark):
        """SAMPLE 1/2 OFFSET 1/2 (the canonical disjoint-shard tail):
        off+frac == 1.0 previously emitted ``hx < '100000000'`` (NINE
        hex chars), which the 8-char md5 prefix only sorts below when
        it starts with '0' — excluded by the lower bound, so the tail
        shard was silently EMPTY. The tail needs no upper bound."""
        got = rw(
            "SELECT v FROM t SAMPLE 1/2 OFFSET 1/2",
            sample_by={"t": "id"},
        )
        assert ">= '80000000'" in got
        assert "'100000000'" not in got and "<" not in got.split("WHERE")[1].split(")")[0]
        got2 = rw(
            "SELECT v FROM t SAMPLE 1/4 OFFSET 3/4",
            sample_by={"t": "id"},
        )
        assert ">= 'c0000000'" in got2 and "'100000000'" not in got2
        # executed: head + tail shards partition the table exactly
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        spark.range(0, 2000).selectExpr(
            "id", "CAST(id AS DOUBLE) AS v"
        ).createOrReplaceTempView("adv_smp_t")
        total = spark.table("adv_smp_t").count()
        head = ch_sql(
            spark,
            "SELECT count() AS n FROM adv_smp_t SAMPLE 1/2",
            sample_by={"adv_smp_t": "id"},
        ).collect()[0].n
        tail = ch_sql(
            spark,
            "SELECT count() AS n FROM adv_smp_t SAMPLE 1/2 OFFSET 1/2",
            sample_by={"adv_smp_t": "id"},
        ).collect()[0].n
        assert tail > 0  # the bug: this was 0
        assert head + tail == total  # disjoint + covering
        # window extending PAST 1.0 still rejects
        with pytest.raises(ChSqlError, match="past 1.0"):
            rw(
                "SELECT v FROM t SAMPLE 0.6 OFFSET 0.5",
                sample_by={"t": "id"},
            )

    def test_uint_ornull_range_gates(self, spark):
        """The unsigned -OrNull/-OrZero forms carry CH's width/sign
        domain (NULL out-of-domain): a bare try_cast to the next-wider
        signed type accepted 256..32767 and negatives."""
        rows = spark.sql(
            "SELECT toUInt8OrNull('255') AS a, toUInt8OrNull('256') AS b, "
            "toUInt8OrNull('-1') AS c, toUInt16OrNull('65535') AS d, "
            "toUInt16OrNull('65536') AS e, toUInt16OrNull('-7') AS f, "
            "toUInt32OrNull('4294967295') AS g, "
            "toUInt32OrNull('4294967296') AS h, toUInt32OrNull('-5') AS i, "
            "toUInt64OrNull('9223372036854775807') AS j, "
            "toUInt64OrNull('-1') AS k, "
            "toUInt32OrZero('4294967296') AS l, toUInt32OrZero('77') AS m, "
            "toUInt64OrZero('-3') AS n"
        ).collect()[0]
        assert rows.a == 255 and rows.b is None and rows.c is None
        assert rows.d == 65535 and rows.e is None and rows.f is None
        assert rows.g == 4294967295 and rows.h is None and rows.i is None
        assert rows.j == 9223372036854775807 and rows.k is None
        assert rows.l == 0 and rows.m == 77 and rows.n == 0

    def test_uint64_upper_half_is_loud(self, spark):
        """CH's UInt64 upper half [2^63, 2^64) is IN its domain but not
        representable as BIGINT — raise, never a silently divergent
        NULL/0."""
        with pytest.raises(Exception, match="upper half"):
            spark.sql(
                "SELECT toUInt64OrNull('18446744073709551615') AS x"
            ).collect()
        with pytest.raises(Exception, match="upper half"):
            spark.sql(
                "SELECT toUInt64OrZero('9223372036854775808') AS x"
            ).collect()

    def test_any_rescans_nested_argument(self, spark):
        """any()/anyLast() nested inside the rewritten argument (e.g. a
        scalar subquery) must be re-scanned: Spark resolves a missed
        bare any(bool) as bool_or — silent divergence, not an error."""
        got = rw("SELECT any((SELECT anyLast(x) FROM u)) FROM t")
        assert "anyLast" not in got
        assert got.count("any_value") == 2
        # executed: nested-any over a boolean column must NOT become
        # bool_or (any_value picks a value; bool_or computes OR)
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        spark.createDataFrame(
            [Row(b=False)], "b boolean"
        ).createOrReplaceTempView("adv_anyn_u")
        r = ch_sql(
            spark,
            "SELECT any((SELECT any(b) FROM adv_anyn_u)) AS r "
            "FROM adv_anyn_u",
        ).collect()[0]
        assert r.r is False

    def test_backtick_identifiers_are_opaque(self):
        """Backtick-quoted spans (pre-existing or emitted by the
        double-quote conversion) are identifier TEXT: the int-literal
        pass must not rewrite a hex token inside one, and an apostrophe
        inside one must not desync the string scanner."""
        # converted "col 0xAB" -> `col 0xAB`, hex token untouched
        got = rw('SELECT "col 0xAB" FROM t')
        assert "`col 0xAB`" in got
        # pre-existing backtick identifier, hex untouched
        got2 = rw("SELECT `col 0x1F` FROM t")
        assert "`col 0x1F`" in got2
        # a real hex literal OUTSIDE the identifier still rewrites
        got3 = rw("SELECT `col 0xAB`, 0x10 FROM t")
        assert "`col 0xAB`" in got3 and " 16 " in got3 + " "
        # apostrophe inside a backtick identifier: scanner stays in
        # sync — uniq() after it still rewrites
        got4 = rw("SELECT `it's`, uniq(u) FROM t")
        assert "approx_count_distinct(u)" in got4
        # and inside a converted double-quoted identifier too
        got5 = rw('SELECT "it\'s", uniq(u) FROM t')
        assert "approx_count_distinct(u)" in got5


class TestRound12GapProbe:
    """Round 12 (VERDICT r11 #5): the four un-probed grammar corners —
    multi-statement input, FORMAT tails beyond the strip, INSERT SELECT
    column lists, parametrized views / query parameters. Each was a
    silent pass-through to a Spark error three layers down (or worse, a
    silent divergence) before the fix."""

    def test_trailing_semicolon_and_comments_strip(self):
        assert rw("SELECT uniq(u) FROM t;") == (
            "SELECT approx_count_distinct(u) FROM t"
        )
        assert rw("SELECT 1;  -- done") == "SELECT 1"
        assert rw("SELECT 1 /* tail */ ;") == "SELECT 1"
        # FORMAT tail now strips even through ';' and trailing comments
        assert rw("SELECT 1 FORMAT JSONEachRow;") == "SELECT 1"
        assert rw("SELECT 1 FORMAT CSV -- note") == "SELECT 1"

    def test_multi_statement_rejects(self):
        with pytest.raises(ChSqlError, match="multi-statement"):
            rw("SELECT 1; SELECT 2")
        with pytest.raises(ChSqlError, match="multi-statement"):
            rw("INSERT INTO t VALUES (1); SELECT 1")
        # an apostrophe in a quoted identifier does not hide the ';'
        with pytest.raises(ChSqlError, match="multi-statement"):
            rw('SELECT "it\'s" AS a FROM t; SELECT 2')
        with pytest.raises(ChSqlError, match="multi-statement"):
            rw("SELECT `it's` AS a FROM t; SELECT 2")
        # ';' inside a string or comment is NOT a statement separator
        assert rw("SELECT 'a;b' AS s") == "SELECT 'a;b' AS s"
        # a ';' inside a MID-statement comment is opaque (the comment
        # itself is preserved — only the statement TAIL strips)
        assert rw("SELECT 1 -- a;b\nFROM t") == "SELECT 1 -- a;b\nFROM t"

    def test_insert_format_inline_data_rejects(self):
        with pytest.raises(ChSqlError, match="inline wire-format"):
            rw("INSERT INTO t FORMAT TabSeparated")
        with pytest.raises(ChSqlError, match="inline wire-format"):
            rw("INSERT INTO t (a, b) FORMAT CSV\n1,2\n3,4")

    def test_format_mid_statement_rejects(self):
        with pytest.raises(ChSqlError, match="mid-statement"):
            rw("SELECT 1 FORMAT JSON SETTINGS max_threads = 1")
        # identifiers literally named 'format' keep passing
        assert "format" in rw("SELECT format FROM t")
        assert "format" in rw("SELECT format x FROM t")

    def test_insert_select_arity_mismatch_rejects(self):
        with pytest.raises(ChSqlError, match="arity mismatch"):
            rw("INSERT INTO t (a, b) SELECT 1")
        with pytest.raises(ChSqlError, match="arity mismatch"):
            rw("INSERT INTO t (a) SELECT x, y FROM u")
        # matching arity and star forms pass through
        out = rw("INSERT INTO t (a, b) SELECT x, y FROM u")
        assert out.startswith("INSERT INTO t (a, b)")
        rw("INSERT INTO t (a, b) SELECT * FROM u")
        # function commas don't miscount
        rw("INSERT INTO t (a, b) SELECT greatest(x, y), z FROM u")

    def test_query_params_bind(self):
        got = rw(
            "SELECT * FROM t WHERE k = {kk:UInt32} AND s = {name:String}",
            params={"kk": 7, "name": "it's"},
        )
        assert "k = 7" in got and "s = 'it''s'" in got
        got2 = rw(
            "SELECT * FROM t WHERE d > {d0:DateTime}",
            params={"d0": "2024-01-02 03:04:05"},
        )
        assert "TIMESTAMP '2024-01-02 03:04:05'" in got2

    def test_query_params_unbound_rejects(self):
        with pytest.raises(ChSqlError, match="unbound query parameter"):
            rw("SELECT * FROM t WHERE k = {kk:UInt32}")
        with pytest.raises(ChSqlError, match="not numeric"):
            rw(
                "SELECT * FROM t WHERE k = {kk:UInt32}",
                params={"kk": "DROP TABLE"},
            )

    def test_parametrized_view_call_rejects(self):
        with pytest.raises(ChSqlError, match="parametrized-VIEW"):
            rw("SELECT * FROM v(kk = 3)")
        # table functions without kwargs keep passing
        assert "range(5)" in rw("SELECT number FROM numbers(5)")

    def test_params_executed(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        spark.range(10).selectExpr(
            "id AS k", "CAST(id AS STRING) AS s"
        ).createOrReplaceTempView("r12_param_t")
        r = ch_sql(
            spark,
            "SELECT count() AS n FROM r12_param_t WHERE k < {lim:UInt8};",
            params={"lim": 4},
        ).collect()[0]
        assert r.n == 4


class TestRound12GrammarWave:
    """Round-12 probing wave #2: grammar forms that previously passed
    through to a Spark parser error three layers down — or, for the
    backwards scalar WITH, produced silent garbage."""

    def test_limit_offset_form(self, spark):
        assert rw("SELECT x FROM t LIMIT 5, 10") == (
            "SELECT x FROM t LIMIT 10 OFFSET 5"
        )
        # CH semantics: skip o, take n
        spark.range(20).createOrReplaceTempView("r12_lim_t")
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        got = sorted(
            r.id
            for r in ch_sql(
                spark,
                "SELECT id FROM r12_lim_t ORDER BY id LIMIT 3, 4",
            ).collect()
        )
        assert got == [3, 4, 5, 6]
        # the LIMIT o, n BY variant stays LIMIT BY grammar
        out = rw("SELECT x FROM t ORDER BY x LIMIT 2, 3 BY y")
        assert "__rn > 2 AND __rn <= 5" in out

    def test_in_bare_table(self, spark):
        assert rw("SELECT x FROM t WHERE x IN t2") == (
            "SELECT x FROM t WHERE x IN (SELECT * FROM t2)"
        )
        # executed: CH's `IN table` shorthand over a 1-column view
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        spark.range(10).createOrReplaceTempView("r12_in_t")
        spark.range(3).createOrReplaceTempView("r12_in_keys")
        n = ch_sql(
            spark,
            "SELECT count() AS n FROM r12_in_t WHERE id IN r12_in_keys",
        ).collect()[0].n
        assert n == 3
        # list/subquery/tuple/table-function forms untouched or bridged
        assert "IN (1, 2)" in rw("SELECT 1 FROM t WHERE y IN (1, 2)")
        assert "range(5)" in rw("SELECT 1 FROM t WHERE a IN numbers(5)")

    def test_untuple(self, spark):
        assert rw("SELECT untuple(tup) FROM t") == "SELECT tup.* FROM t"
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        spark.sql(
            "SELECT named_struct('a', 1, 'b', 'x') AS tup"
        ).createOrReplaceTempView("r12_unt_t")
        r = ch_sql(spark, "SELECT untuple(tup) FROM r12_unt_t").collect()[0]
        assert r.a == 1 and r.b == "x"
        with pytest.raises(ChSqlError, match="untuple"):
            rw("SELECT untuple(f(x)) FROM t")

    def test_into_outfile_rejects(self):
        with pytest.raises(ChSqlError, match="INTO OUTFILE"):
            rw("SELECT x FROM t INTO OUTFILE 'f.csv'")

    def test_backwards_scalar_with_rejects(self):
        """`WITH x AS 1` previously parsed as name='1' and substituted
        every literal 1 in the statement with (x) — silent garbage."""
        with pytest.raises(ChSqlError, match="name after AS"):
            rw("WITH x AS 1 SELECT x + 1")
        # the correct CH order still substitutes
        assert rw("WITH 60 AS m SELECT m * 2") == "SELECT (60) * 2"


class TestRound12GrammarWave3:
    """Round-12 probing wave #3: CH date/cast/pad forms that previously
    fell through to unresolved-routine errors (or, for 3-arg
    date_diff, a Spark parser unit error)."""

    def test_date_diff_alias(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        r = ch_sql(
            spark,
            "SELECT date_diff('day', TIMESTAMP '2020-01-01 23:00', "
            "TIMESTAMP '2020-03-01 01:00') AS d, "
            "dateDiff('day', TIMESTAMP '2020-01-01 23:00', "
            "TIMESTAMP '2020-03-01 01:00') AS d2",
        ).first()
        assert r.d == r.d2 == 60  # boundary-crossing count
        # Spark's own 2-arg builtin passes through untouched
        assert rw("SELECT date_diff(a, b) FROM t") == (
            "SELECT date_diff(a, b) FROM t"
        )
        # in any case, as Spark resolves it
        for q in ("SELECT DATE_DIFF(d1, d0) FROM t",
                  "SELECT Date_Diff(d1, d0) FROM t"):
            assert rw(q) == q

    def test_age_complete_units(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        r = ch_sql(
            spark,
            "SELECT age('day', TIMESTAMP '2020-01-01 23:00', "
            "TIMESTAMP '2020-01-02 01:00') AS a, "
            "age('hour', TIMESTAMP '2020-01-01 10:59', "
            "TIMESTAMP '2020-01-01 11:58') AS b, "
            "age('second', TIMESTAMP '2020-01-01 10:00:00', "
            "TIMESTAMP '2020-01-01 10:00:59') AS c",
        ).first()
        assert (r.a, r.b, r.c) == (0, 0, 59)  # complete units, no trunc
        with pytest.raises(ChSqlError, match="month-end clamping"):
            rw("SELECT age('month', a, b) FROM t")

    def test_accurate_cast(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql
        from mb8600_clickhouse_spark.functions.clickhouse import (
            register_clickhouse_functions,
        )

        register_clickhouse_functions(spark)
        r = ch_sql(
            spark,
            "SELECT accurateCastOrNull(300, 'UInt8') AS a, "
            "accurateCastOrNull(200, 'UInt8') AS b, "
            "accurateCastOrNull(-1, 'UInt32') AS c, "
            "accurateCast(200, 'Int32') AS d",
        ).first()
        assert (r.a, r.b, r.c, r.d) == (None, 200, None, 200)
        with pytest.raises(Exception, match="accurateCast"):
            ch_sql(
                spark, "SELECT accurateCast(300, 'UInt8') AS v"
            ).collect()

    def test_pad_two_arg_default_space(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql
        from mb8600_clickhouse_spark.functions.clickhouse import (
            register_clickhouse_functions,
        )

        register_clickhouse_functions(spark)
        r = ch_sql(
            spark,
            "SELECT leftPad('ab', 4) AS l, rightPad('ab', 4) AS r, "
            "leftPad('ab', 4, '0') AS l0",
        ).first()
        assert (r.l, r.r, r.l0) == ("  ab", "ab  ", "00ab")


class TestRound12GrammarWave3b:
    """Round-12 probing wave #3b: random/time/identity scalar forms.
    rand() was the batch's one SILENT divergence — it resolved to
    Spark's [0,1) DOUBLE builtin while CH returns a uniform UInt32,
    so `rand() % N` ran and always produced 0."""

    def test_rand_uint32_domain(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        out = rw("SELECT rand() % 10 AS v FROM t")
        assert "4294967296" in out and "% 10" in out
        # dummy-argument form (CH's CSE defeat) also bridges
        assert "4294967296" in rw("SELECT rand(x) FROM t")
        rows = ch_sql(
            spark,
            "SELECT rand() AS a, rand() % 1000 AS b FROM numbers(200)",
        ).collect()
        assert all(0 <= r.a < 4294967296 and isinstance(r.a, int) for r in rows)
        assert any(r.b > 0 for r in rows)  # the silent-zero symptom
        assert len({r.a for r in rows}) > 150  # per-row, not CSE'd

    def test_rand_family(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql
        from mb8600_clickhouse_spark.functions.clickhouse import (
            register_clickhouse_functions,
        )

        register_clickhouse_functions(spark)
        r = ch_sql(
            spark,
            "SELECT randCanonical() AS c, randNormal(100.0, 0.0) AS n",
        ).first()
        assert 0.0 <= r.c < 1.0 and r.n == 100.0
        with pytest.raises(ChSqlError, match="rand64"):
            rw("SELECT rand64() FROM t")

    def test_misc_renames(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        assert rw("SELECT max2(a, b), min2(a, b) FROM t") == (
            "SELECT greatest(a, b), least(a, b) FROM t"
        )
        r = ch_sql(
            spark,
            "SELECT roundBankers(2.5) AS a, roundBankers(0.125, 2) AS b, "
            "toNullable(7) AS c",
        ).first()
        # literal inputs are DECIMAL-typed; values are what matters
        assert (float(r.a), float(r.b), r.c) == (2.0, 0.12, 7)
        assert rw("SELECT now64() AS t") == "SELECT now() AS t"
        assert rw("SELECT now64(3) AS t") == "SELECT now() AS t"
        for bad, pat in (
            ("SELECT toTimeZone(ts, 'UTC') FROM t", "UTC"),
            ("SELECT sleepEachRow(0.1) FROM t", "sleep"),
        ):
            with pytest.raises(ChSqlError, match=pat):
                rw(bad)

    def test_registered_scalars(self, spark):
        from mb8600_clickhouse_spark.functions.clickhouse import (
            register_clickhouse_functions,
        )

        register_clickhouse_functions(spark)
        r = spark.sql(
            "SELECT ifNotFinite(cast('Infinity' AS DOUBLE), 9.0) AS a, "
            "ifNotFinite(3.0, 9.0) AS b, reverseUTF8('äb') AS c, "
            "roundToExp2(100) AS d, roundToExp2(0) AS e, "
            "currentDatabase() AS f, timeZone() AS g"
        ).first()
        assert (r.a, r.b, r.c, r.d, r.e) == (9.0, 3.0, "bä", 64, 0)
        assert r.f and r.g


class TestRound12GrammarWave3c:
    """QUALIFY (post-window filter — no Spark clause) and the
    toInterval* constructors."""

    def test_qualify_rewrite_shape(self):
        out = rw(
            "SELECT x, k FROM t QUALIFY row_number() OVER "
            "(PARTITION BY k ORDER BY x) = 1 ORDER BY k LIMIT 5"
        )
        assert out.startswith("SELECT * EXCEPT (__qual) FROM (")
        assert out.rstrip().endswith(
            "WHERE __qual ORDER BY k NULLS LAST LIMIT 5"
        )
        # arrayJoin's LATERAL VIEW ends the FROM clause, not the predicate
        assert rw(
            "SELECT arrayJoin(a) AS x, k FROM t QUALIFY row_number() OVER "
            "(PARTITION BY k ORDER BY x) = 1"
        ) == (
            "SELECT * EXCEPT (__qual) FROM (SELECT __aj0 AS x, k, "
            "(row_number() OVER (PARTITION BY k ORDER BY x NULLS LAST) = 1)"
            " AS __qual FROM t LATERAL VIEW explode(a) __ajv___aj0 AS __aj0)"
            " __q WHERE __qual "
        )

    def test_qualify_executed(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        spark.range(10).selectExpr(
            "id AS x", "id % 3 AS k"
        ).createOrReplaceTempView("r12_qual_t")
        rows = ch_sql(
            spark,
            "SELECT x, k FROM r12_qual_t QUALIFY row_number() OVER "
            "(PARTITION BY k ORDER BY x DESC) = 1 ORDER BY k",
        ).collect()
        assert [tuple(r) for r in rows] == [(9, 0), (7, 1), (8, 2)]
        # over an aggregate, predicate referencing the aggregate —
        # CH's post-GROUP-BY QUALIFY scoping
        rows2 = ch_sql(
            spark,
            "SELECT k, count() AS n FROM r12_qual_t GROUP BY k "
            "QUALIFY row_number() OVER (ORDER BY count() DESC, k) <= 2 "
            "ORDER BY k",
        ).collect()
        assert [tuple(r) for r in rows2] == [(0, 4), (1, 3)]
        # with arrayJoin: the window orders by the unrolled element
        # (the same arrayJoin call; Spark rejects a lateral alias in a
        # window)
        spark.range(10).selectExpr(
            "id % 3 AS k", "array(id, id + 10) AS a"
        ).createOrReplaceTempView("r12_qual_aj")
        rows3 = ch_sql(
            spark,
            "SELECT arrayJoin(a) AS x, k FROM r12_qual_aj QUALIFY "
            "row_number() OVER (PARTITION BY k ORDER BY arrayJoin(a) DESC)"
            " = 1 ORDER BY k",
        ).collect()
        assert [tuple(r) for r in rows3] == [(19, 0), (17, 1), (18, 2)]

    def test_qualify_union_rejects(self):
        with pytest.raises(ChSqlError, match="QUALIFY"):
            rw(
                "SELECT x FROM t QUALIFY row_number() OVER (ORDER BY x)"
                " = 1 UNION ALL SELECT x FROM u"
            )

    def test_to_interval(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        assert rw("SELECT ts + toIntervalDay(3) FROM t") == (
            "SELECT ts + make_dt_interval(3) FROM t"
        )
        r = ch_sql(
            spark,
            "SELECT CAST(TIMESTAMP '2020-01-31 00:00:00' "
            "+ toIntervalMonth(1) AS STRING) AS m, "
            "CAST(TIMESTAMP '2020-01-01 00:00:00' "
            "+ toIntervalSecond(90) AS STRING) AS s",
        ).first()
        # month-end clamping: both CH and Spark land on Feb 29
        assert r.m == "2020-02-29 00:00:00"
        assert r.s == "2020-01-01 00:01:30"


class TestRound12GrammarWave4:
    """Statement-level DDL/maintenance wave: bridges and guided
    rejects for the forms a migrating CH user types first."""

    def test_rename_table(self, spark):
        assert rw("RENAME TABLE a TO b") == "ALTER TABLE a RENAME TO b"
        with pytest.raises(ChSqlError, match="multiple pairs"):
            rw("RENAME TABLE a TO b, c TO d")

    def test_explain_variants(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        assert rw("EXPLAIN PIPELINE SELECT count() FROM t") == (
            "EXPLAIN FORMATTED SELECT count(*) FROM t"
        )
        spark.range(3).createOrReplaceTempView("r12_expl_t")
        out = ch_sql(
            spark, "EXPLAIN PIPELINE SELECT count() FROM r12_expl_t"
        ).first()[0]
        assert "Physical Plan" in out
        with pytest.raises(ChSqlError, match="ESTIMATE"):
            rw("EXPLAIN ESTIMATE SELECT 1")

    def test_guided_rejects(self):
        for bad, pat in (
            ("CREATE MATERIALIZED VIEW mv TO t2 AS SELECT x FROM t",
             "maintain_rollup"),
            ("KILL QUERY WHERE 1", "cancelJobGroup"),
            ("SET max_threads = 4", "silent no-op"),
            ("EXISTS TABLE t", "tableExists"),
            ("WATCH lv", "readStream"),
        ):
            with pytest.raises(ChSqlError, match=pat):
                rw(bad)


class TestRound12GrammarWave4b:
    """Map algebra, JSON keys, anyHeavy, and the parametrized-call
    catch-all (any surviving name(params)(args) shape is an unbridged
    CH aggregate — previously a bare Spark PARSE_SYNTAX_ERROR)."""

    def test_map_add_subtract(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        r = ch_sql(
            spark,
            "SELECT mapAdd(map('a', 1, 'b', 2), map('b', 10, 'c', 3)) "
            "AS m, mapSubtract(map('a', 5), map('a', 2, 'z', 1)) AS s",
        ).first()
        assert dict(r.m) == {"a": 1, "b": 12, "c": 3}
        assert dict(r.s) == {"a": 3, "z": -1}

    def test_json_keys_and_any_heavy(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        r = ch_sql(
            spark,
            """SELECT json_keys, mode_v FROM (
                 SELECT JSONExtractKeys('{"a":1,"b":2}') AS json_keys,
                        1 AS g
               ) j JOIN (
                 SELECT anyHeavy(v) AS mode_v, 1 AS g
                 FROM (SELECT explode(array(7, 7, 7, 2)) AS v)
               ) h ON j.g = h.g""",
        ).first()
        assert sorted(r.json_keys) == ["a", "b"] and r.mode_v == 7

    def test_parametrized_catchall(self):
        for bad in (
            "SELECT histogram(5)(x) FROM t",
            "SELECT quantileBFloat16(0.5)(x) FROM t",
            "SELECT sparkBar(10)(x, y) FROM t",
            "SELECT groupArrayLast(3)(x) FROM t",
        ):
            with pytest.raises(ChSqlError, match="parametrized"):
                rw(bad)
        # bridged parametrized families still pass through their own
        # rewrites (never reach the catch-all)
        out = rw("SELECT k, topK(3)(x) AS t3 FROM t GROUP BY k")
        assert "transform(slice(" in out


class TestRound12NullOrdering:
    """Wave 5: CH sorts NULLs LAST by default in BOTH directions;
    Spark's ASC default is NULLS FIRST — before this pass, every
    ORDER BY over a nullable key feeding a LIMIT/window silently
    reordered (a NULL topped every ascending ranking)."""

    def test_statement_and_window_decoration(self):
        out = rw("SELECT x FROM t ORDER BY x DESC, y LIMIT 5")
        assert out == (
            "SELECT x FROM t ORDER BY x DESC NULLS LAST, "
            "y NULLS LAST LIMIT 5"
        )
        out = rw("SELECT row_number() OVER (ORDER BY ts) AS rn FROM t")
        assert "OVER (ORDER BY ts NULLS LAST)" in out
        # explicit NULLS spec is the user's choice — untouched
        out = rw("SELECT x FROM t ORDER BY x NULLS FIRST, y")
        assert out == (
            "SELECT x FROM t ORDER BY x NULLS FIRST, y NULLS LAST"
        )
        # idempotent: a second pass never double-appends
        assert rw(rw("SELECT x FROM t ORDER BY x")) == rw(
            "SELECT x FROM t ORDER BY x"
        )

    def test_executed_limit_semantics(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        spark.sql(
            "SELECT * FROM VALUES (1), (NULL), (2) AS t(x)"
        ).createOrReplaceTempView("r12_null_t")
        # CH: NULL sorts last -> LIMIT 1 returns 1 (Spark's native
        # default would return the NULL row)
        got = [
            r.x
            for r in ch_sql(
                spark, "SELECT x FROM r12_null_t ORDER BY x LIMIT 1"
            ).collect()
        ]
        assert got == [1]
        # full ascending order, NULL last, matching CH and DuckDB
        got = [
            r.x
            for r in ch_sql(
                spark, "SELECT x FROM r12_null_t ORDER BY x"
            ).collect()
        ]
        assert got == [1, 2, None]


class TestRound12GrammarWave5b:
    """Scalar batch: bit operators, date constructors/codecs, typed
    empty arrays, dateName, array resize/constant forms."""

    def test_bit_and_like_forms(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        r = ch_sql(
            spark,
            "SELECT bitAnd(12, 10) AS a, bitOr(12, 10) AS o, "
            "bitXor(12, 10) AS x, bitNot(0) AS n, "
            "bitTestAll(5, 0, 2) AS ta, bitTestAny(5, 1, 3) AS tn, "
            "notLike('abc', '%b%') AS nl, mid('abcde', 2, 3) AS m",
        ).first()
        assert (r.a, r.o, r.x, r.n) == (8, 14, 6, -1)
        assert (r.ta, r.tn) == (1, 0)
        assert r.nl is False and r.m == "bcd"

    def test_date_constructors(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql
        from mb8600_clickhouse_spark.functions.clickhouse import (
            register_clickhouse_functions,
        )

        register_clickhouse_functions(spark)
        r = ch_sql(
            spark,
            "SELECT CAST(makeDate(2020, 2, 29) AS STRING) AS d, "
            "CAST(makeDateTime(2020, 1, 2, 3, 4, 5) AS STRING) AS dt, "
            "toUnixTimestamp64Milli(fromUnixTimestamp64Milli(1500)) "
            "AS ms, dateName('weekday', TIMESTAMP '2020-01-01') AS wd, "
            "dateName('month', TIMESTAMP '2020-01-01') AS mo",
        ).first()
        assert r.d == "2020-02-29" and r.dt == "2020-01-02 03:04:05"
        assert r.ms == 1500
        assert (r.wd, r.mo) == ("Wednesday", "January")

    def test_arrays_and_empty(self, spark):
        from mb8600_clickhouse_spark.functions.chsql import ch_sql
        from mb8600_clickhouse_spark.functions.clickhouse import (
            register_clickhouse_functions,
        )

        register_clickhouse_functions(spark)
        r = ch_sql(
            spark,
            "SELECT arrayWithConstant(3, 7) AS c, "
            "arrayResize([1, 2, 3], 5, 0) AS up, "
            "arrayResize([1, 2, 3], 2, 0) AS down, "
            "emptyArrayInt32() AS e",
        ).first()
        assert list(r.c) == [7, 7, 7]
        assert list(r.up) == [1, 2, 3, 0, 0]
        assert list(r.down) == [1, 2]
        assert list(r.e) == []
        with pytest.raises(ChSqlError, match="3-argument"):
            rw("SELECT arrayResize(a, 5) FROM t")


class TestRound12GrammarWave5c:
    """Registered string-distance / readable / URL-part / XML-codec
    scalars (round-12 wave 5c)."""

    def test_registered_batch(self, spark):
        from mb8600_clickhouse_spark.functions.clickhouse import (
            register_clickhouse_functions,
        )

        register_clickhouse_functions(spark)
        r = spark.sql(
            "SELECT levenshteinDistance('kitten', 'sitting') AS lev, "
            "editDistance('abc', 'abd') AS ed, "
            "formatReadableQuantity(1234567.0) AS frq, "
            "basename('/a/b/c.txt') AS bn, "
            "netloc('https://u@h.com:8080/p?q=1') AS nl, "
            "port('https://h.com:8080/p') AS pt, "
            "port('https://h.com/p') AS pt0, "
            "encodeXMLComponent('a<b&c') AS enc, "
            "decodeHTMLComponent('x&lt;y&amp;z&nbsp;!') AS dec, "
            "isValidUTF8('ok') AS iv, toValidUTF8('ok') AS tv"
        ).first()
        assert (r.lev, r.ed) == (3, 1)
        assert r.frq == "1.23 million"
        assert r.bn == "c.txt"
        assert r.nl == "u@h.com:8080" and (r.pt, r.pt0) == (8080, 0)
        assert r.enc == "a&lt;b&amp;c"
        assert r.dec == "x<y&z !"
        assert (r.iv, r.tv) == (1, "ok")


class TestAdviceR12Fixes:
    """Round 13: the five ADVICE r12 findings, pinned with executed
    semantics where the bug was a silent value divergence."""

    def test_order_by_nulls_line_comment(self, spark):
        """A `--` comment on the last ORDER BY item previously had the
        newline collapsed, so the comment swallowed NULLS LAST AND the
        following LIMIT clause — silently wrong rows."""
        got = rw("SELECT v FROM t ORDER BY v -- sort key\nLIMIT 5")
        assert got == "SELECT v FROM t ORDER BY v NULLS LAST -- sort key\nLIMIT 5"
        # executed: NULL sorts last, LIMIT applies
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        spark.createDataFrame(
            [Row(v=3), Row(v=None), Row(v=1), Row(v=2)]
        ).createOrReplaceTempView("adv12_ob_t")
        rows = ch_sql(
            spark,
            "SELECT v FROM adv12_ob_t ORDER BY v -- sort key\nLIMIT 3",
        ).collect()
        assert [r.v for r in rows] == [1, 2, 3]  # was [None, 1, 2] pre-r12

    def test_order_by_nulls_block_comment_stop_keyword(self):
        """A stop keyword INSIDE a /* */ comment previously ended the
        span mid-comment, so items silently got no NULLS LAST."""
        got = rw("SELECT v FROM t ORDER BY v /* limit */, w")
        assert got == (
            "SELECT v FROM t ORDER BY v NULLS LAST /* limit */, "
            "w NULLS LAST"
        )
        # already-decorated item behind a trailing comment stays as-is
        got2 = rw("SELECT v FROM t ORDER BY v NULLS FIRST -- c\n, w")
        assert "v NULLS FIRST" in got2 and "FIRST NULLS" not in got2
        assert "w NULLS LAST" in got2

    def test_param_backslash_injection_closed(self, spark):
        """String params ending in a backslash previously rendered
        'evil\\' — the \\' escaped the closing quote under Spark's
        lexer, letting the rest of the value break out of the literal
        (SQL injection through the one safe binding surface)."""
        payload = "evil\\' OR 1=1 --"
        got = rw("SELECT {s:String} AS s", params={"s": payload})
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        r = ch_sql(spark, "SELECT {s:String} AS s", params={"s": payload}).first()
        assert r.s == payload  # value roundtrips as DATA, not SQL
        r2 = ch_sql(
            spark, "SELECT {s:String} AS s", params={"s": "a\\"}
        ).first()
        assert r2.s == "a\\"
        # Date/DateTime arms validate instead of stripping quotes
        for t, bad in (
            ("Date", "2024-01-01' OR '1'='1"),
            ("DateTime", "2024-01-01 00:00:00' OR '1"),
            ("Date", "not-a-date"),
        ):
            with pytest.raises(ChSqlError):
                rw(f"SELECT {{d:{t}}} AS d", params={"d": bad})
        # valid shapes still bind
        assert "DATE '2024-01-02'" in rw(
            "SELECT {d:Date} AS d", params={"d": "2024-01-02"}
        )
        assert "TIMESTAMP '2024-01-02 03:04:05'" in rw(
            "SELECT {d:DateTime} AS d", params={"d": "2024-01-02 03:04:05"}
        )

    def test_param_int64_precision(self):
        """Int64/UInt64 params above 2**53 previously roundtripped
        through float() — a silent off-by-one."""
        assert rw(
            "SELECT {x:Int64} AS x", params={"x": 9007199254740993}
        ) == "SELECT 9007199254740993 AS x"
        assert rw(
            "SELECT {x:UInt64} AS x", params={"x": 18446744073709551615}
        ) == "SELECT 18446744073709551615 AS x"
        assert rw(
            "SELECT {x:Int64} AS x", params={"x": "9007199254740995"}
        ) == "SELECT 9007199254740995 AS x"
        # non-integral value for an integer type: loud, not truncated
        with pytest.raises(ChSqlError):
            rw("SELECT {x:Int64} AS x", params={"x": 3.5})
        # float params keep the float rendering
        assert rw(
            "SELECT {x:Float64} AS x", params={"x": 3.0}
        ) == "SELECT 3.0 AS x"

    def test_insert_select_setop_arity(self):
        """FROM-less set operations previously counted BOTH branches'
        SELECT lists and falsely rejected valid SQL."""
        out = rw("INSERT INTO t (a, b) SELECT 1, 2 UNION ALL SELECT 3, 4")
        assert "UNION ALL" in out
        out2 = rw(
            "INSERT INTO t (a, b) SELECT 1, 2 WHERE 1 = 1"
        )
        assert "WHERE" in out2
        # the real-mismatch reject still fires
        with pytest.raises(ChSqlError, match="arity"):
            rw("INSERT INTO t (a, b, c) SELECT 1, 2")
        with pytest.raises(ChSqlError, match="arity"):
            rw("INSERT INTO t (a) SELECT 1, 2 UNION ALL SELECT 3, 4")

    def test_array_resize_zero_and_negative(self, spark):
        """arrayResize(a, 0, ext) previously emitted sequence(1, 0) —
        Spark's DESCENDING [1, 0] — so element_at(a, 0) raised at
        runtime where CH returns []."""
        assert "slice(" in rw("SELECT arrayResize(array(1,2,3), 0, 99) AS r")
        with pytest.raises(ChSqlError, match="negative"):
            rw("SELECT arrayResize(array(1,2,3), -2, 99) AS r")
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        r = ch_sql(
            spark, "SELECT arrayResize(array(1,2,3), 0, 99) AS r"
        ).first()
        assert r.r == []
        r5 = ch_sql(
            spark, "SELECT arrayResize(array(1,2,3), 5, 99) AS r"
        ).first()
        assert r5.r == [1, 2, 3, 99, 99]
        # non-literal size: runtime guard — 0 yields [], positive fills
        spark.createDataFrame(
            [Row(n=0), Row(n=2), Row(n=4)]
        ).createOrReplaceTempView("adv12_ar_t")
        rows = ch_sql(
            spark,
            "SELECT n, arrayResize(array(7,8), n, 0) AS r "
            "FROM adv12_ar_t ORDER BY n",
        ).collect()
        assert [r.r for r in rows] == [[], [7, 8], [7, 8, 0, 0]]
        # runtime negative raises loudly (raise_error), not silently []
        from py4j.protocol import Py4JJavaError
        from pyspark.errors import PySparkException

        spark.createDataFrame([Row(n=-1)]).createOrReplaceTempView(
            "adv12_ar_neg"
        )
        with pytest.raises((Py4JJavaError, PySparkException, Exception)):
            ch_sql(
                spark,
                "SELECT arrayResize(array(7,8), n, 0) AS r "
                "FROM adv12_ar_neg",
            ).collect()


class TestCaseInsensitiveHeads:
    """Call heads match case-insensitively, so the form a rule picks
    must not depend on how the name is spelled; and an alias body's
    parameters are substituted once each."""

    def test_scalar_alias_params_substituted_once(self):
        from mb8600_clickhouse_spark.functions.chsql import (
            _inline_scalar_aliases,
        )

        out = _inline_scalar_aliases("addHours(n, 7)")
        assert out == "((n) + make_interval(0,0,0,0,(7),0,0))"

    def test_lag_in_frame_any_case(self):
        for head in ("lagInFrame", "LagInFrame", "LAGINFRAME"):
            out = rw(f"SELECT {head}(v) OVER (ORDER BY t) FROM x")
            assert "lag(v) OVER" in out and "lead(" not in out
        assert "lead(v) OVER" in rw("SELECT LEADINFRAME(v) OVER (ORDER BY t) FROM x")

    def test_running_difference_any_case(self):
        out = rw("SELECT RunningDifference(v) FROM x ORDER BY t")
        assert "coalesce((v) - lag(v) OVER" in out and out.count(", 0)") == 1
        out = rw(
            "SELECT RUNNINGDIFFERENCESTARTINGWITHFIRSTVALUE(v) FROM x ORDER BY t"
        )
        assert "coalesce((v) - lag(v) OVER" in out and out.endswith(
            ", (v)) FROM x ORDER BY t NULLS LAST"
        )

    def test_dict_has_and_typed_get_any_case(self):
        d = {"d": "id"}
        assert rw("SELECT DictHas('d', k) FROM x", dictionaries=d) == rw(
            "SELECT dictHas('d', k) FROM x", dictionaries=d
        )
        assert rw("SELECT DICTGETSTRING('d', 'a', k) FROM x", dictionaries=d) == rw(
            "SELECT dictGetString('d', 'a', k) FROM x", dictionaries=d
        )
        assert rw("SELECT DictGetOrNull('d', 'a', k) FROM x", dictionaries=d) == rw(
            "SELECT dictGetOrNull('d', 'a', k) FROM x", dictionaries=d
        )

    def test_parse_datetime_or_null_any_case(self):
        out = rw("SELECT parseDateTimeORNULL(s, '%Y') FROM x")
        assert out == "SELECT try_to_timestamp(s, 'yyyy') FROM x"
        assert rw("SELECT parseDateTimeorzero(s, '%Y') FROM x") == rw(
            "SELECT parseDateTimeOrZero(s, '%Y') FROM x"
        )

    def test_to_decimal_or_zero_any_case(self):
        assert rw("SELECT toDecimal32orzero(s, 2) FROM x") == rw(
            "SELECT toDecimal32OrZero(s, 2) FROM x"
        )
