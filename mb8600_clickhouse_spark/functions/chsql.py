"""ClickHouse → Spark SQL pre-rewriter for the NON-scalar dialect forms.

``functions/clickhouse.py`` covers the scalar vocabulary with
Catalyst-inlined SQL functions (those run verbatim once registered).
This module covers the dialect forms that are *syntax*, not functions —
they cannot be a scalar alias and need a textual rewrite before
``spark.sql`` can parse them:

- ``LIMIT n BY k1, k2`` → ``row_number() OVER (PARTITION BY k1, k2
  ORDER BY <the query's ORDER BY>)`` filter, wrapped around the query.
- ``arrayJoin(expr)`` (SELECT-list row unrolling) → ``LATERAL VIEW
  explode(expr)`` appended to the FROM clause.
- Aggregate-combinator call syntax: ``quantile(p)(x)`` /
  ``quantileExact(p)(x)`` / ``quantileTDigest(p)(x)`` →
  ``percentile_approx(x, p)`` / ``percentile(x, p)``; ``median(x)`` →
  ``percentile_approx(x, 0.5)``; the ``uniq`` sketch family
  (``uniq``/``uniqHLL12``/``uniqCombined[64]``/``uniqTheta``) →
  ``approx_count_distinct(x)``; ``uniqExact(x)`` →
  ``count(DISTINCT x)``; ``countIf(c)`` → ``count_if(c)``;
  ``sumIf/avgIf/minIf/maxIf/anyIf/uniqIf/uniqExactIf(x, c)`` →
  ``agg(CASE WHEN c THEN x END)``; ``argMax/argMin`` →
  ``max_by/min_by``; ``any/anyLast`` → ``any_value`` (the
  quantified-comparison ``> ANY (subquery)`` form is detected and left
  untouched); ``groupArray/groupUniqArray`` →
  ``collect_list/collect_set`` (both engines: arbitrary order);
  ``GROUP BY ... WITH ROLLUP/CUBE`` needs no rewrite (identical
  syntax, test-pinned).
- ``topK(k)(x)`` → an EXACT per-group frequency-join rewrite under a
  tight, loudly-failing contract (see ``_rewrite_topk``).
- The statistical aggregate family — ``avgWeighted`` / ``skewPop`` /
  ``skewSamp`` / ``kurtPop`` / ``kurtSamp`` / ``covarPop`` /
  ``covarSamp`` / ``boundingRatio`` / ``entropy`` / ``studentTTest`` /
  ``welchTTest`` / ``mannWhitneyUTest`` → exact scaled-moment algebra
  (128-bit integer sums, one correctly rounded IEEE tail; see
  ``stats_agg_sql`` / ``_rewrite_stats_aggs``), hash-verifiable in a
  second engine, unlike the natives' order-dependent accumulation.
- ``kolmogorovSmirnovTest`` / ``cramersV`` / ``theilsU`` /
  ``contingency`` → collect-fold expressions (exact integer ECDF-gap
  numerator for KS; chi2/log outputs snapped — ``_rewrite_assoc_aggs``).
- ``deltaSum(x, k)`` / ``deltaSumTimestamp`` /
  ``exponentialMovingAverage(hl)(v, t)`` and the window form
  ``nonNegativeDerivative(x, t) OVER (...)`` → ``_rewrite_delta_ema``;
  ``lagInFrame``/``leadInFrame`` → lag/lead renames.
- ``intervalLengthSum`` / ``maxIntersections`` /
  ``maxIntersectionsPosition`` → exact half-open BIGINT sweep folds
  (``_rewrite_interval_aggs``).
- ``quantileExactWeighted(p)(x, w)`` (CH's exact pick rule) /
  ``topKWeighted(k)(x, w)`` (exact upgrade) / ``groupArraySorted(N)``
  → ``_rewrite_weighted_aggs``; the median family
  (``medianExact[Weighted]``/``medianTiming``) re-spells as the
  matching quantile at 0.5.
- ``sequenceNextNode(direction, base)(ts, ev, base_cond, c...)`` →
  the funnel-path explorer over (t, ev)-pinned sequences
  (``_rewrite_sequence_next_node``).
- ``-Array`` combinators (``sumArray``/``avgArray``/``minArray``/
  ``maxArray``/``countArray``/``uniqExactArray``), ``argMaxIf``/
  ``argMinIf``, ``groupBitAnd/Or/Xor``, ``arrayFold``/``arrayReduce``
  → expression rewrites inside ``_rewrite_combinators``/
  ``_rewrite_scalar_calls``.
- ``FROM t SAMPLE f`` → a replay-stable md5-prefix filter, given the
  sampling key via ``sample_by`` (see ``_rewrite_sample``).
- Bare ``count()`` → ``count(*)``.
- Array higher-order functions — ClickHouse's lambda syntax is
  identical to Spark's, only names and argument order differ:
  ``arrayMap(f, a)`` → ``transform(a, f)`` (two arrays →
  ``zip_with``), ``arrayFilter`` → ``filter``, ``arrayExists`` →
  ``exists``, ``arrayAll`` → ``forall``, ``arrayCount(f, a)`` →
  ``size(filter(a, f))``.
- ``GROUP BY ... WITH TOTALS`` → ``GROUP BY GROUPING SETS ((...), ())``
  (exact: the totals row carries NULL keys in both engines).
- ``PREWHERE c`` → folded into ``WHERE`` (Catalyst's pushdown is the
  automatic version of the hint); trailing ``SETTINGS k=v`` stripped
  (per-query server knobs live in the SparkSession config instead).
- ``FROM t FINAL`` → latest-row-per-key subquery, given the table's
  ReplacingMergeTree contract via ``final_tables`` (the DDL knowledge
  ClickHouse has and Spark doesn't).

Usage — the whole bridge in one line::

    df = ch_sql(spark, sql)

Scope (documented, not silent): the rewriter operates on ONE SELECT
statement — and, since round 6, on every parenthesized subquery and CTE
body inside it, each rewritten recursively at its own nesting level
(``_mask_subselects``), so a nested dashboard query runs verbatim.
Un-parenthesized set operations (``SELECT ... UNION ALL SELECT ...`` at
the top level) remain out of scope — parenthesize the branches.
``LIMIT n BY`` requires the row-visible columns referenced by ORDER BY to be in
the SELECT list (ClickHouse dashboards satisfy this by construction);
without an ORDER BY the per-group pick order falls back to the BY keys,
matching ClickHouse's "unspecified order" contract. ``LIMIT offset, n
BY`` (the offset form) is not supported and raises.

One lexer reads the text: a single token regex (``_TOKEN``) matches
the spans ClickHouse treats as opaque (string literals, backtick and
double-quoted identifiers, comments) and the structural characters
``( ) [ ] ,``. Every pass sees the statement through it (``_lex``,
``_Cursor``, ``_code_marks``), so commas, parens, quotes and keywords
inside literals, identifiers or comments never confuse clause
detection, and parens are matched in code only.

One function rewrites calls: ``_rewrite_calls(sql, pattern, rule)``
finds each call in code whose head matches ``pattern`` (compiled at
import), matches its parens through the lexer, rewrites the arguments
first and hands ``rule`` the head match and the argument text; the
rule returns the replacement, or None to keep the call. Every
call-shaped pass is rules over it. One rule, ``_gate_if``, serves every
``-If`` spelling: it peels ``If`` off the name, gates each value
argument with ``CASE WHEN <last argument> THEN v END`` and leaves the
rest of the name to the base aggregate's own rule.

This is deliberately a *pre-rewriter*, not a full CH grammar: the
forms above are the complete non-scalar surface a reference-deployment
dashboard uses (reference ``tables.sql:5-30`` workload; VERDICT r04
"What's missing #1").
"""

from __future__ import annotations

import itertools
import re

from .clickhouse import CLICKHOUSE_SCALARS, register_clickhouse_functions

__all__ = ["rewrite_clickhouse_sql", "ChSqlError"]


class ChSqlError(ValueError):
    """A ClickHouse form the rewriter recognises but cannot rewrite."""


# ---------------------------------------------------------------------------
# the lexer: one token regex, read through the views below
# ---------------------------------------------------------------------------
#: The ONE place that knows where ClickHouse's opaque spans start and
#: end, plus the structural characters. Opaque: single-quoted string
#: literals (a doubled quote and backslash-anything are escapes, as in
#: CH's lexer), backtick and double-quoted identifiers (a doubled
#: delimiter is the escape), ``--`` comments (the newline is code) and
#: ``/* */`` comments. An unterminated span runs to the end of the
#: text. A quote, paren, comma or keyword inside a span is text, never
#: code: an apostrophe in a comment or identifier cannot open a string,
#: and a hex token inside an identifier is not a literal.
_TOKEN = re.compile(
    r"'(?:[^'\\]+|\\.?|'')*'?"
    r"|`(?:[^`]+|``)*`?"
    r'|"(?:[^"]+|"")*"?'
    r"|--[^\n]*"
    r"|/\*.*?(?:\*/|\Z)"
    r"|[()\[\],]",
    re.DOTALL,
)
#: span kind by its first character (structural tokens are code)
_SPAN_KIND = {
    "'": "str", "`": "ident", '"': "ident", "-": "comment", "/": "comment",
}


def _lex(sql: str):
    """Yield ``(i, ch, depth, kind)`` for every character of ``sql``:
    the per-character view. kind is ``'code'``, ``'str'`` (quotes
    included), ``'ident'`` (backticks/double quotes included) or
    ``'comment'`` (markers included). depth counts code parens: a
    ``(`` reports the depth outside it, a ``)`` the depth after it
    closes, so the ``)`` closing an enclosing block yields ``-1``."""
    depth = pos = 0
    for t in _TOKEN.finditer(sql):
        s, e = t.span()
        for i in range(pos, s):
            yield i, sql[i], depth, "code"
        ch = sql[s]
        kind = _SPAN_KIND.get(ch)
        if kind:
            for i in range(s, e):
                yield i, sql[i], depth, kind
        elif ch == "(":
            yield s, ch, depth, "code"
            depth += 1
        elif ch == ")":
            depth -= 1
            yield s, ch, depth, "code"
        else:
            yield s, ch, depth, "code"
        pos = e
    for i in range(pos, len(sql)):
        yield i, sql[i], depth, "code"


def _code_marks(sql: str, pos: int = 0):
    """Yield ``(i, ch, depth)`` for each code ``( ) [ ] ,`` of ``sql``
    from ``pos`` on (which must lie in code), depth as in ``_lex``."""
    depth = 0
    for t in _TOKEN.finditer(sql, pos):
        i = t.start()
        ch = sql[i]
        if ch in _SPAN_KIND:
            continue
        if ch == ")":
            depth -= 1
        yield i, ch, depth
        if ch == "(":
            depth += 1


class _Cursor:
    """``_lex``'s ``(depth, opaque)`` at ascending positions of ``sql``,
    computed only as far as asked: it hops between token-regex matches,
    so a query costs O(tokens before it), not O(characters) (round 11:
    a per-character map of the whole statement per ``_first_match``
    call made the pipeline O(passes x matches x len))."""

    __slots__ = ("sql", "toks", "tok", "depth")

    def __init__(self, sql: str, pos: int = 0) -> None:
        # from ``pos`` on, which must lie in code; depths are relative
        self.sql = sql
        self.toks = _TOKEN.finditer(sql, pos)
        self.tok = next(self.toks, None)
        self.depth = 0

    def at(self, s: int) -> tuple[int, bool]:
        sql, tok, depth = self.sql, self.tok, self.depth
        while tok is not None and tok.end() <= s:
            ch = sql[tok.start()]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            tok = next(self.toks, None)
        self.tok, self.depth = tok, depth
        if tok is None or tok.start() > s:
            return depth, False
        ch = sql[tok.start()]
        if ch in _SPAN_KIND:
            return depth, True
        return (depth - 1 if ch == ")" else depth), False


def _ci(pattern: str | re.Pattern) -> re.Pattern:
    """``pattern`` compiled case-insensitively (a compiled one as is)."""
    if isinstance(pattern, str):
        return re.compile(pattern, re.IGNORECASE)
    return pattern


def _top_level_matches(sql: str, pattern: str | re.Pattern) -> list[re.Match]:
    """Regex matches of `pattern` (case-insensitive) that start in code
    at paren depth 0."""
    cur, out = None, []
    for m in _ci(pattern).finditer(sql):
        cur = cur or _Cursor(sql)
        if cur.at(m.start()) == (0, False):
            out.append(m)
    return out


def _first_match(sql: str, pattern: str | re.Pattern) -> re.Match | None:
    """First regex match (case-insensitive) that starts in code."""
    cur = None
    for m in _ci(pattern).finditer(sql):
        cur = cur or _Cursor(sql)
        if not cur.at(m.start())[1]:
            return m
    return None


def _match_paren(sql: str, open_idx: int) -> int:
    """Index of the ')' matching the '(' at open_idx."""
    for i, ch, d in _code_marks(sql, open_idx):
        if ch == ")" and d == 0:
            return i
    raise ChSqlError(f"unbalanced parentheses at offset {open_idx}")


def _pair_map(sql: str) -> dict[int, int]:
    """Both ends of each code ``()`` and ``[]`` pair of ``sql``, mapped
    to each other (open -> close and close -> open); unmatched and
    mismatched ends are absent."""
    stack: list[int] = []
    pairs: dict[int, int] = {}
    for i, ch, _d in _code_marks(sql):
        if ch in "([":
            stack.append(i)
        elif ch in ")]" and stack:
            o = stack.pop()
            if sql[o] == ("(" if ch == ")" else "["):
                pairs[o], pairs[i] = i, o
    return pairs


def _split_top_commas(s: str) -> list[str]:
    """Split an expression list on top-level commas."""
    parts, last = [], 0
    for i, ch, d in _code_marks(s):
        if ch == "," and d == 0:
            parts.append(s[last:i].strip())
            last = i + 1
    parts.append(s[last:].strip())
    return [p for p in parts if p]


# ---------------------------------------------------------------------------
# the call rewriter: find each call, match its parens, hand it to a rule
# ---------------------------------------------------------------------------
_NEXT_LIST = re.compile(r"\s*\(")


def _call_pattern(names) -> re.Pattern:
    """The call head ``name(`` for any of ``names`` (case-insensitive),
    the name in group 1."""
    return re.compile(rf"\b({'|'.join(names)})\s*\(", re.IGNORECASE)


def _rewrite_calls(
    sql: str,
    pattern: str | re.Pattern,
    rule,
    *,
    parametric: bool = False,
    span: bool = False,
) -> str:
    """Rewrite every call in code whose head matches ``pattern`` (which
    ends at the call's ``(``; a string compiles case-insensitively).

    Innermost first: ``rule(m, args)`` gets the head match (``m.string``
    is the text rewritten so far, this call's arguments included) and
    the argument text. With ``parametric`` it gets ``rule(m, params,
    args)`` for ``name(params)(args)``, ``args`` None when no second
    list follows; with ``span`` also the index just past the call, and
    it may return ``(text, end)`` to replace through ``end``. The rule
    returns the replacement, which is not rescanned, or None to keep
    the call. Raises ``ChSqlError`` on a call with no closing paren."""
    return _calls_between(
        sql, 0, len(sql), _ci(pattern), rule, parametric, span
    )[0]


def _calls_between(sql, pos, end, pattern, rule, parametric, span):
    """``_rewrite_calls`` over ``sql[pos:end]`` (``pos`` in code);
    returns the new text and where ``end`` moved to."""
    base, cur = pos, None
    while m := pattern.search(sql, pos, end):
        s = m.start()
        cur = cur or _Cursor(sql, base)
        if cur.at(s)[1]:
            pos = m.end()
            continue
        lists, o, stop = [], m.end() - 1, end
        while o is not None:
            c = _match_paren(sql, o)
            n = len(sql)
            sql, c = _calls_between(
                sql, o + 1, c, pattern, rule, parametric, span
            )
            end += len(sql) - n
            lists.append(sql[o + 1 : c])
            nxt = _NEXT_LIST.match(sql, c + 1, end) if parametric else None
            o = nxt.end() - 1 if nxt and len(lists) == 1 else None
            stop = c + 1
        if parametric and len(lists) == 1:
            lists.append(None)
        m = pattern.match(sql, s)
        rep = rule(m, *lists, stop) if span else rule(m, *lists)
        if isinstance(rep, tuple):
            rep, stop = rep
        if rep is not None:
            sql = sql[:s] + rep + sql[stop:]
            end += len(rep) - (stop - s)
            stop = s + len(rep)
        base = pos = stop
        cur = None
    return sql, end


def _sub_code(sql: str, pattern: str | re.Pattern, repl) -> str:
    """``pattern.sub(repl, sql)`` over the matches that start in code
    (a string pattern compiles case-insensitively); replacements are
    not rescanned."""
    cur = None

    def sub(m: re.Match) -> str:
        nonlocal cur
        cur = cur or _Cursor(sql)
        return m.group(0) if cur.at(m.start())[1] else repl(m)

    return _ci(pattern).sub(sub, sql)


# ---------------------------------------------------------------------------
# 1. aggregate-combinator call syntax (pure expression rewrites)
# ---------------------------------------------------------------------------
_QUANTILE_MAP = {
    "quantileexact": "percentile",
    "quantiletdigest": "percentile_approx",
    # CH's timing/deterministic sketches: both land on the t-digest
    # approximation (quantileDeterministic's sampling seed argument is
    # DROPPED — ours is deterministic already; documented)
    "quantiletiming": "percentile_approx",
    "quantiledeterministic": "percentile_approx",
    "quantile": "percentile_approx",
}
#: the aggregates an -If call peels down to: every -If spelling is
#: ``<base>If``, and the stacked forms add -OrNull/-OrDefault on either
#: side of the If (CH appends combinators left to right, and accepts
#: both orders with identical semantics)
_IF_CALL = re.compile(
    r"\b(sumArray|minArray|maxArray|avgArray|countArray|uniqExactArray"
    r"|countDistinct|quantilesExact|quantilesTDigest|quantilesTiming"
    r"|quantiles|quantileExact|quantileTDigest|quantileTiming|quantile"
    r"|medianExact|medianTiming|median|argMax|argMin|uniqExact|uniq"
    r"|sum|count|avg|min|max|any)"
    r"(If|IfOrNull|IfOrDefault|OrNullIf|OrDefaultIf)\s*\(",
    re.IGNORECASE,
)
#: the bases that take -OrNull/-OrDefault stacked on -If
_IF_STACKABLE = frozenset(
    ("sum", "count", "avg", "min", "max", "any", "uniq", "uniqexact")
)
#: each base's value arguments (the gated ones, before the condition)
_IF_VALUES = {
    "argmax": ("x", "ord"), "argmin": ("x", "ord"), "count": (),
    **dict.fromkeys(
        ("sumarray", "minarray", "maxarray", "avgarray", "countarray",
         "uniqexactarray"),
        ("array",),
    ),
}


def _gate_if(m, params: str, args: str | None) -> str | None:
    """The -If rule: ``<base>If(v..., cond)`` -> ``<base>(CASE WHEN
    cond THEN v END, ...)``, each value argument gated; the base's own
    rule (a later step of this pass) finishes the call.

    The gate's misses are NULLs, which every base aggregate skips:
    approx_count_distinct (uniqIf), count(DISTINCT ...) (uniqExactIf,
    and countDistinctIf, CH's alias of it), max_by/min_by over a gated
    ordering (argMaxIf), the -Array folds over a NULL array (-ArrayIf),
    and any_value through its ignoreNulls flag — without it a leading
    non-match masks real matching values (ADVICE r10). The parametric
    quantile bases keep their level list, ``quantileIf(p)(x, cond)``.
    A stacked -OrNull/-OrDefault applies its template here, because
    the array-vocabulary pass that holds the templates ran already.
    ``countIf`` stays the ``count_if`` rename."""
    base, comb = m.group(1), m.group(2)
    low = base.lower()
    tail = comb.lower().replace("if", "", 1)
    quantile = low.startswith("quantile")
    if (tail and low not in _IF_STACKABLE) or (low == "count" and not tail):
        return None
    if quantile and args is None:
        raise ChSqlError(f"{base}If(p) must be followed by an argument list")
    if not quantile and args is not None:
        return None  # a one-list -If followed by a second list: not CH
    tmpl = _ARRAY_TEMPLATES.get(low + tail) if tail else None
    if tail and tmpl is None:
        leg = "OrNull" if tail == "ornull" else "OrDefault"
        raise ChSqlError(
            f"{low}{comb}: the -{leg} leg is not bridged for "
            f"{low} (min/max -OrDefault needs the column TYPE's zero "
            "value, unknowable textually; uniq* -OrNull diverges when "
            "matching rows are all NULL) — spell the fallback with "
            "coalesce/nullif around the -If form"
        )
    names = _IF_VALUES.get(low, ("expr",))
    vals = _split_top_commas(args if quantile else params)
    if len(vals) != len(names) + 1:
        call = f"{base}{comb}(p)" if quantile else f"{base}{comb}"
        raise ChSqlError(f"{call} expects ({', '.join((*names, 'cond'))})")
    cond = vals.pop()
    gated = [f"CASE WHEN {cond} THEN {v} END" for v in vals or ["1"]]
    if tmpl:  # .replace, not .format: the arguments may contain braces
        return tmpl[1].replace("{0}", gated[0])
    if quantile:
        return f"{low}({params})({gated[0]})"
    return f"{low}({', '.join(gated)})"


_QUANTILE_CALL = re.compile(
    r"\b(quantilesExact|quantilesTDigest|quantilesTiming|quantiles"
    r"|quantileExact|quantileTDigest|quantileTiming"
    r"|quantileDeterministic|quantile)\s*\(",
    re.IGNORECASE,
)


def _quantile(m, p: str, x: str | None) -> str:
    """quantile*(p)(x) and the array-returning quantiles*(p1, p2)(x):
    two adjacent balanced argument lists. The plural forms pass the
    probability LIST as an array argument (Spark's percentile /
    percentile_approx both accept one and return array<double> —
    exactly ClickHouse's quantiles* contract)."""
    if x is None:
        raise ChSqlError(
            f"{m.group(1)}(p) must be followed by an argument list"
        )
    p, x = p.strip(), x.strip()
    name = m.group(1).lower()
    if name == "quantiledeterministic":
        xa = _split_top_commas(x)
        if len(xa) != 2:
            raise ChSqlError(
                "quantileDeterministic(p)(x, determinator) takes "
                "two arguments"
            )
        x = xa[0]  # the determinator seeds CH's sampling; dropped
    if name.startswith("quantiles"):
        fn = _QUANTILE_MAP[name.replace("quantiles", "quantile", 1)]
        return f"{fn}({x}, array({p}))"
    return f"{_QUANTILE_MAP[name]}({x}, {p})"


#: median family == quantile*(0.5): medianExactWeighted re-spells as
#: quantileExactWeighted(0.5)(...), finished by _rewrite_weighted_aggs
_MEDIAN = {
    "medianexactweighted": "quantileExactWeighted(0.5)({})",
    "medianexact": "percentile({}, 0.5)",
    "mediantiming": "percentile_approx({}, 0.5)",
    "median": "percentile_approx({}, 0.5)",
}
#: -State / -Merge combinators (the AggregatingMergeTree materialized-
#: view pattern, round 7): a partial aggregate STATE is stored per
#: fine-grained group, then MERGED at query time across groups. The
#: Spark spellings are exact for the algebraic aggregates (a count/
#: sum/min/max partial state IS its value; merge = sum/sum/min/max),
#: a (sum, count) struct for avg, and the DataSketches HLL pair
#: (hll_sketch_agg / hll_union_agg + estimate) for uniq — the same
#: mergeable-sketch contract as ClickHouse's uniqState, different
#: sketch constants (estimates are engine-specific either way; both
#: promise merged == single-pass, which is what q127 verifies).
_STATE_MERGE = {
    "uniqstate": "hll_sketch_agg({x})",
    "uniqmerge": "hll_sketch_estimate(hll_union_agg({x}))",
    "countstate": "count({star})",
    "countmerge": "sum({x})",
    "sumstate": "sum({x})",
    "summerge": "sum({x})",
    "minstate": "min({x})",
    "minmerge": "min({x})",
    "maxstate": "max({x})",
    "maxmerge": "max({x})",
    "avgstate": "named_struct('s', sum({x}), 'c', count({x}))",
    # CAST to double BEFORE dividing: CH avg returns Float64, and a
    # decimal-state sum would otherwise divide in decimal (scale
    # truncation at 6 digits diverges from the IEEE quotient)
    "avgmerge": "(CAST(sum({x}.s) AS DOUBLE) / sum({x}.c))",
}
#: direct aggregate-name renames with EXACT Spark builtins
_AGG_RENAMES = {
    # argMax/argMin == max_by/min_by (value at the extremum of the 2nd
    # arg); any/anyLast == any_value is NOT here: CH's any family skips
    # NULLs, so it needs the ignoreNulls flag (the any rule, ADVICE r10)
    "argmax": "max_by",
    "argmin": "min_by",
    # the uniq* sketch family all map to Spark's HLL aggregate (both
    # HLL-class)
    "uniqhll12": "approx_count_distinct",
    "uniqcombined64": "approx_count_distinct",
    "uniqcombined": "approx_count_distinct",
    "uniqtheta": "approx_count_distinct",
    "countif": "count_if",  # count_if is exact too
    # array-of-group aggregates: both engines collect in arbitrary
    # (parallelism-dependent) order — identical contracts
    "groupuniqarray": "collect_set",
    "grouparray": "collect_list",
    # bare ascending arraySort only (CH's lambda form would need a
    # comparator translation this rename cannot express)
    "arraysort": "sort_array",
    # bitwise aggregates / scalar: exact integer contracts
    "groupbitand": "bit_and",
    "groupbitor": "bit_or",
    "groupbitxor": "bit_xor",
    "bitcount": "bit_count",
    # moment aggregates: identical population/sample contracts.
    # covarPop/covarSamp are NOT renamed to the native functions: their
    # streaming accumulation is partition-order-dependent in the last
    # ulps, so _rewrite_stats_aggs expands them to exact scaled-moment
    # algebra instead (hash-verifiable, q164)
    "stddevpop": "stddev_pop",
    "stddevsamp": "stddev_samp",
    "varpop": "var_pop",
    "varsamp": "var_samp",
}
#: a masked subquery, as ``_mask_subselects`` leaves it
_MASKED = re.compile(r"\s*__CHSQL_SUB_\d+__\s*")


_MEDIAN_CALL = _call_pattern(_MEDIAN)
_STATE_MERGE_CALL = re.compile(
    r"\b(uniq|count|sum|min|max|avg)(State|Merge)\s*\(", re.IGNORECASE
)
_UNIQ_CALL = _call_pattern(("uniqExact", "uniq"))
_AGG_RENAME_CALL = _call_pattern(_AGG_RENAMES)
_FRAME_NAV_CALL = _call_pattern(("lagInFrame", "leadInFrame"))
_ANY_CALL = _call_pattern(("anyLast", "any"))
_DISTINCT_CALL = _call_pattern(("sumDistinct", "avgDistinct", "countDistinct"))
_ARRAY_AGG_CALL = _call_pattern(
    ("sumArray", "minArray", "maxArray", "avgArray", "countArray",
     "uniqExactArray")
)
_ARRAY_HOF_CALL = _call_pattern(
    ("arrayMap", "arrayFilter", "arrayExists", "arrayAll", "arrayCount")
)
_COUNT_CALL = _call_pattern(("count",))
_OVER = re.compile(r"\s*OVER\s*(?:(\()|(\w+))", re.IGNORECASE)
_FRAME_SPEC = re.compile(r"\b(ROWS|RANGE|GROUPS)\b", re.IGNORECASE)


def _frame_nav(m, args: str, end: int) -> str:
    """CH's lagInFrame/leadInFrame respect the window FRAME where
    Spark's lag/lead ignore it — identical ONLY for the default
    (whole-partition) frame. An explicit ROWS/RANGE/GROUPS spec in the
    OVER clause (or a named window this pass cannot see into) would
    silently diverge, so those forms are loud rejects (ADVICE r08: the
    blind rename also fired on framed windows)."""
    sql, fn = m.string, m.group(1)
    om = _OVER.match(sql, end)
    if om:
        if om.group(2):  # OVER <named window>: resolve its def
            wname = om.group(2)
            wm = _first_match(sql, rf"\bWINDOW\s+{re.escape(wname)}\s+AS\s*\(")
            if not wm:
                raise ChSqlError(
                    f"{fn} OVER {wname}: window definition not "
                    "found at this nesting level — cannot verify "
                    "the frame spec (only the default frame "
                    "bridges to Spark lag/lead)"
                )
            oo = wm.end() - 1
        else:
            oo = om.end() - 1
        if _FRAME_SPEC.search(sql, oo + 1, _match_paren(sql, oo)):
            raise ChSqlError(
                f"{fn} with an explicit window frame: Spark's "
                "lag/lead ignore frames, so the rename would "
                "silently change semantics — remove the frame spec "
                "(the default whole-partition frame is the only "
                "bridged form) or spell the frame navigation with "
                "nth_value/first_value over the frame instead"
            )
    return ("lag(" if fn.lower() == "laginframe" else "lead(") + args + ")"


def _array_agg(m, a: str) -> str:
    """-Array combinators: the aggregate applied to every ELEMENT of the
    row arrays (CH folds arrays into the aggregate state). sum/avg
    promote to DOUBLE (CH widens too) — exact for integer-valued
    elements below 2^53, the fixture contract; min/max/count are
    type-preserving; uniqExactArray collects (bounded-group contract)"""
    a = a.strip()
    fam = m.group(1).lower()
    fold = (
        f"aggregate(filter({a}, e -> e IS NOT NULL), "
        f"CAST(0.0 AS DOUBLE), (s, x) -> s + x)"
    )
    if fam == "sumarray":
        return f"sum({fold})"
    if fam == "avgarray":
        # NULL-array guard on the size term: in a non-ANSI session
        # (the engine's fixture mode) size(NULL) is legacy -1, which
        # would silently skew the denominator — the -If gate feeds
        # NULL arrays here by design (round 10)
        return (
            f"(sum({fold}) / "
            f"sum(CASE WHEN ({a}) IS NULL THEN CAST(NULL AS DOUBLE) "
            f"ELSE CAST(size(filter({a}, e -> e IS NOT NULL)) "
            f"AS DOUBLE) END))"
        )
    if fam == "minarray":
        return f"min(array_min({a}))"
    if fam == "maxarray":
        return f"max(array_max({a}))"
    if fam == "countarray":
        # same size(NULL) = -1 hazard as avgArray: a NULL array row
        # must contribute nothing, in ANSI and non-ANSI sessions
        return (
            f"sum(CASE WHEN ({a}) IS NULL THEN CAST(NULL AS BIGINT) "
            f"ELSE CAST(size({a}) AS BIGINT) END)"
        )
    return (  # uniqExactArray
        f"size(array_distinct(flatten(collect_list("
        f"filter({a}, e -> e IS NOT NULL)))))"
    )


def _array_hof(m, args: str) -> str:
    """Array higher-order functions: ClickHouse's lambda syntax (x -> e)
    is IDENTICAL to Spark's, only the function names and argument order
    differ (CH: lambda first, arrays after; Spark: array first).
    Two-array forms map to zip_with."""
    args = _split_top_commas(args)
    name = m.group(1).lower()
    if len(args) < 2:
        raise ChSqlError(f"{m.group(1)} expects (lambda, array...)")
    lam, arrays = args[0], args[1:]
    if name == "arraymap" and len(arrays) == 2:
        return f"zip_with({arrays[0]}, {arrays[1]}, {lam})"
    if len(arrays) != 1:
        raise ChSqlError(
            f"{m.group(1)} with {len(arrays)} arrays has no Spark mapping"
        )
    if name == "arraycount":
        return f"size(filter({arrays[0]}, {lam}))"
    fn = {"arraymap": "transform", "arrayfilter": "filter",
          "arrayexists": "exists", "arrayall": "forall"}[name]
    return f"{fn}({arrays[0]}, {lam})"


def _rewrite_combinators(sql: str) -> str:
    # one -If rule first: every -If spelling becomes its gated base aggregate
    sql = _rewrite_calls(sql, _IF_CALL, _gate_if, parametric=True)
    sql = _rewrite_calls(sql, _QUANTILE_CALL, _quantile, parametric=True)
    sql = _rewrite_calls(
        sql, _MEDIAN_CALL,
        lambda m, a: _MEDIAN[m.group(1).lower()].format(a.strip()),
    )
    # str.replace, not .format: the argument text may contain braces
    sql = _rewrite_calls(
        sql, _STATE_MERGE_CALL,
        lambda m, x: _STATE_MERGE[(m.group(1) + m.group(2)).lower()]
        .replace("{x}", x.strip()).replace("{star}", x.strip() or "*"),
    )
    # uniqExact(x) -> count(DISTINCT x); uniq(x) -> approx_count_distinct(x)
    sql = _rewrite_calls(
        sql, _UNIQ_CALL,
        lambda m, a: (
            f"count(DISTINCT {a.strip()})"
            if m.group(1).lower() == "uniqexact"
            else f"approx_count_distinct({a.strip()})"
        ),
    )
    sql = _rewrite_calls(
        sql, _AGG_RENAME_CALL,
        lambda m, a: f"{_AGG_RENAMES[m.group(1).lower()]}({a})",
    )
    sql = _rewrite_calls(sql, _FRAME_NAV_CALL, _frame_nav, span=True)
    # any(x)/anyLast(x) -> any_value(x, true) — CH's any family SKIPS
    # NULLs (every CH aggregate does), so the ignoreNulls flag is part
    # of the contract, not an option: any(x) over (NULL, 1) is 1 in CH
    # but NULL under a bare any_value (ADVICE r10). EXCEPT the ANSI
    # quantified comparison `expr > ANY (subquery)`, whose argument is
    # always a masked subquery by now; Spark resolves a missed bare
    # any(bool) as bool_or — a silent divergence, not an error
    sql = _rewrite_calls(
        sql, _ANY_CALL,
        lambda m, a: None if _MASKED.fullmatch(a)
        else f"any_value({a.strip()}, true)",
    )
    # -Distinct combinators -> ANSI DISTINCT aggregates (exact)
    sql = _rewrite_calls(
        sql, _DISTINCT_CALL,
        lambda m, a: (
            f"{m.group(1).lower().replace('distinct', '')}"
            f"(DISTINCT {a.strip()})"
        ),
    )
    sql = _rewrite_calls(sql, _ARRAY_AGG_CALL, _array_agg)
    sql = _rewrite_calls(sql, _ARRAY_HOF_CALL, _array_hof)
    # bare count() -> count(*)
    return _rewrite_calls(
        sql, _COUNT_CALL, lambda m, a: None if a.strip() else "count(*)"
    )


# ---------------------------------------------------------------------------
# 2. arrayJoin(expr) -> LATERAL VIEW explode(expr)
# ---------------------------------------------------------------------------
_SCALAR_ALIASES = {n.lower(): spec for n, spec in CLICKHOUSE_SCALARS.items()}
_SCALAR_ALIAS_CALL = _call_pattern(CLICKHOUSE_SCALARS)


def _inline_scalar_aliases(expr: str) -> str:
    """Textually inline ``CLICKHOUSE_SCALARS`` alias calls in `expr`.

    Needed only where Spark forbids SQL UDFs — a ``Generate`` (LATERAL
    VIEW) cannot call a ``CREATE FUNCTION`` SQL UDF
    (UNSUPPORTED_SQL_UDF_USAGE), so the arrayJoin argument must carry
    the alias *body*, not the alias call. The bodies are pure SQL
    expressions with simple named params, so substitution is exact; a
    body's own alias calls inline in turn."""
    return _rewrite_calls(expr, _SCALAR_ALIAS_CALL, _inline_scalar_alias)


def _inline_scalar_alias(m, args: str) -> str | None:
    sig, _ret, body = _SCALAR_ALIASES[m.group(1).lower()]
    args = _split_top_commas(args)
    params = [p.strip().split()[0] for p in _split_top_commas(sig.strip()[1:-1])]
    if len(args) != len(params):
        return None
    # one pass over all parameters: each is substituted once, so an
    # argument spelled like a later parameter stays as written
    if params:
        subst = dict(zip(params, args))
        body = re.sub(
            rf"\b({'|'.join(map(re.escape, params))})\b",
            lambda pm: f"({subst[pm.group(1)]})",
            body,
        )
    return _inline_scalar_aliases(f"({body})")


_CLAUSE_AFTER_FROM = (
    r"\b(WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|UNION|EXCEPT|INTERSECT|SETTINGS)\b"
)

#: ClickHouse wire-format names the FORMAT directive can carry — the
#: mid-statement reject only fires on these, so identifiers literally
#: named 'format' keep passing (lowercased membership test)
_WIRE_FORMATS = frozenset(
    n.lower()
    for n in (
        "TabSeparated TabSeparatedRaw TabSeparatedWithNames "
        "TabSeparatedWithNamesAndTypes TSV TSVRaw TSVWithNames CSV "
        "CSVWithNames CSVWithNamesAndTypes JSON JSONCompact JSONEachRow "
        "JSONStringsEachRow JSONCompactEachRow JSONColumns JSONAsString "
        "Pretty PrettyCompact PrettySpace PrettyNoEscapes Native Values "
        "Vertical XML RowBinary RowBinaryWithNames "
        "RowBinaryWithNamesAndTypes Parquet Arrow ArrowStream ORC Avro "
        "Protobuf CapnProto LineAsString RawBLOB Null TSKV Markdown "
        "CustomSeparated Template Regexp MsgPack"
    ).split()
)


def _rewrite_global_and_format(sql: str) -> str:
    """Distributed-execution and output-format directives:

    - ``GLOBAL IN`` / ``GLOBAL JOIN`` — ClickHouse's broadcast-the-
      subquery hint for distributed tables. Spark's optimizer makes
      that decision itself (broadcast thresholds / AQE), so the keyword
      is dropped; semantics are identical.
    - trailing ``FORMAT <name>`` — a client wire-format directive, not
      query semantics; the sink chooses the format here. Stripped.
    - ``ALL`` join strictness is ClickHouse's DEFAULT join semantics —
      identical to plain SQL JOIN — so the keyword is simply stripped
      (round 7; previously rejected). ``ANY`` (one match per row) and
      ``ASOF`` change semantics and need the session-aware
      ``ch_sql`` front door (q128/q129); they raise HERE with that
      pointer. ``LEFT SEMI``/``ANTI JOIN`` parse natively in Spark and
      pass through.
    """
    for m in reversed(
        _top_level_matches(
            sql, r"\bGLOBAL\s+(?=(ANY|ALL|LEFT|RIGHT|INNER|FULL|CROSS|JOIN|IN|NOT)\b)"
        )
    ):
        sql = sql[: m.start()] + sql[m.end() :]
    for m in reversed(
        _top_level_matches(
            sql, r"\bALL\s+(?=(?:LEFT|RIGHT|INNER|FULL)\s+JOIN\b|JOIN\b)"
        )
    ):
        sql = sql[: m.start()] + sql[m.end() :]
    bad = _top_level_matches(
        sql,
        r"\b(?:ANY\s+(?:LEFT|RIGHT|INNER|FULL)\s+JOIN"
        r"|(?:LEFT|RIGHT|INNER|FULL)\s+ANY\s+JOIN"
        r"|ASOF\s+(?:LEFT\s+|RIGHT\s+)?JOIN)\b",
    )
    if bad:
        raise ChSqlError(
            f"{bad[0].group(0)!r}: ANY and ASOF join strictness change row "
            "multiplicity and are bridged by the session-aware "
            "chsql.ch_sql(spark, sql) front door (q128/q129), not the "
            "string rewriter"
        )
    fmt = _top_level_matches(sql, r"\bFORMAT\s+\w+\s*$")
    if fmt:
        sql = sql[: fmt[0].start()].rstrip()
    # a KNOWN wire-format name after FORMAT that is NOT at the tail is
    # inline data or a mid-statement directive — previously fell
    # through to a Spark parser error on the format token (round-12
    # probe). The known-name gate keeps columns/aliases literally
    # named 'format' passing (e.g. `SELECT format x FROM t`).
    stray = [
        m
        for m in _top_level_matches(sql, r"\bFORMAT\s+([A-Za-z]\w*)\b(?!\s*\()")
        if m.group(1).lower() in _WIRE_FORMATS
    ]
    if stray:
        raise ChSqlError(
            f"{stray[0].group(0)!r} mid-statement: FORMAT is a trailing "
            "client wire-format directive (stripped when last); inline "
            "data belongs to the sink (sinks/clickhouse.py)"
        )
    # Known-unsupported forms fail HERE with an actionable message, not
    # three layers down with a Spark parser error (the documented-
    # failure contract): WITH FILL/INTERPOLATE is gap-filling (the
    # fill_gaps/interpolate_linear operators, q66/q67); the neighbor/
    # runningDifference/runningAccumulate family depends on ClickHouse
    # block-processing order (explicitly non-deterministic there, and
    # deprecated upstream) — the deterministic Spark spelling is a
    # window function with an explicit ORDER BY.
    # only the CLAUSE position rejects: WITH FILL is grammatically part
    # of ORDER BY, so a match counts only when a top-level ORDER BY
    # precedes it — a CTE or identifier literally named 'fill'
    # ('WITH fill AS (...)') or a column named 'interpolate' must pass
    obs = _top_level_matches(sql, r"\bORDER\s+BY\b")
    if obs:
        first_ob = obs[0].start()
        wf = [
            m
            for m in _top_level_matches(
                sql, r"\bWITH\s+FILL\b|\bINTERPOLATE\s*\("
            )
            if m.start() > first_ob
        ]
        if wf:
            raise ChSqlError(
                f"{wf[0].group(0)!r}: ORDER BY ... WITH FILL [INTERPOLATE] needs "
                "schema analysis (type defaults for filled rows) — run the "
                "statement through chsql.ch_sql(spark, sql) instead of the "
                "string rewriter, or use operators/timeseries.fill_gaps / "
                "interpolate_linear directly (declared as q66/q67)"
            )
    # (runningAccumulate is bridged by _rewrite_running_accumulate,
    # which runs first in the pipeline and rejects unbridgeable forms
    # itself — nothing reaches here.)
    # Known-unbridged behavioral-analytics / dictionary functions fail
    # with the engine's equivalent named, not a Spark unknown-function
    # error three layers down (the documented-failure contract).
    # retention/windowFunnel/sequenceMatch/sequenceCount are BRIDGED
    # (2a2); dictGet* keeps rejecting (no dictionary server exists).
    for pat, msg in (
        (
            r"\bdict(?:Get|Has)\w*\b",
            "CH external dictionaries: register the dictionary as a view "
            "and pass dictionaries={'name': 'key_col'} to ch_sql / "
            "rewrite_clickhouse_sql (bridged as correlated lookups -> "
            "broadcast joins), or spell the lookup as a JOIN — no "
            "dictionary server exists in this engine",
        ),
        (
            r"\bparseDateTimeBestEffort\w*\b",
            "CH's best-effort datetime heuristics (dozens of format "
            "guesses, version-dependent) cannot be reproduced faithfully "
            "— spell the format: to_timestamp(s, 'yyyy-MM-dd HH:mm:ss') "
            "or try_to_timestamp for the OrNull contract",
        ),
        (
            r"\btoFixedString\b",
            "FixedString(N) has no Spark type: the zero-padding and the "
            "loud too-long error are both lost — use rpad(s, n, ' ') / "
            "left(s, n) for the layout, or keep plain STRING",
        ),
        (
            r"\b(?:FROM|JOIN)\s+(?:remote(?:Secure)?|cluster"
            r"(?:AllReplicas)?|merge)\s*\(",
            "CH cluster/remote table functions have no equivalent in a "
            "single-catalog engine — register each table as a view and "
            "query it directly (Spark's own distribution replaces CH "
            "shard fan-out)",
        ),
        (
            r"\b(?:FROM|JOIN)\s+(?:s3(?:Cluster)?|url|file|hdfs|azureBlob"
            r"Storage|gcs|jdbc|odbc|mysql|postgresql|mongodb|iceberg|"
            r"deltaLake|generateRandom)\s*\(",
            "CH external-source table functions map to the read side: "
            "spark.read.parquet/csv/json/jdbc(...) (or the engine's "
            "tables.load_tables), then createOrReplaceTempView — the "
            "FROM clause then names the view",
        ),
        (
            r"(?:\*|\))\s+(?:APPLY|REPLACE)\s*\(",
            "CH's * APPLY(...) / * REPLACE(...) column transformers "
            "need the resolved column list — spell the projection "
            "explicitly (SELECT * EXCEPT (..) is native and kept)",
        ),
        (
            r"\bCOLUMNS\s*\(\s*'",
            "CH's COLUMNS('regex') dynamic projection needs schema "
            "analysis — select the columns explicitly (or build the "
            "list from df.columns on the DataFrame side)",
        ),
        (
            r"\bCOLLATE\s*'",
            "CH's quoted-locale COLLATE has no Spark spelling — Spark 4 "
            "collations are named identifiers (ORDER BY x COLLATE "
            "UNICODE_CI; see SHOW COLLATIONS), and the locale sets "
            "differ — pick the Spark collation explicitly",
        ),
    ):
        hit = _top_level_matches(sql, pat)
        if hit:
            raise ChSqlError(f"{hit[0].group(0)!r}: {msg}")
    return sql


def _order_anchor(sql: str, pat: str, family: str) -> str:
    """The statement's own top-level ``ORDER BY ...`` text, validated as
    the deterministic window anchor for the ClickHouse block-order
    function ``family`` (whose call pattern is ``pat``): it must exist,
    must not itself contain a ``pat`` call, and select-list aliases are
    inlined (Spark rejects lateral alias references inside a window's
    ORDER BY)."""
    obs = _top_level_matches(sql, r"\bORDER\s+BY\b")
    if not obs:
        raise ChSqlError(
            f"{family} need a deterministic total "
            "order: add a top-level ORDER BY (ClickHouse block order is "
            "non-deterministic; the rewrite anchors its window there)"
        )
    ob = obs[-1]
    ends = [
        m.start()
        for m in _top_level_matches(sql, r"\bLIMIT\b|\bSETTINGS\b")
        if m.start() > ob.end()
    ]
    obtxt = sql[ob.start() : min(ends) if ends else len(sql)].strip()
    if _first_match(obtxt, pat):
        raise ChSqlError(
            f"{family} inside ORDER BY itself has no "
            "deterministic anchor; order by the underlying expression"
        )
    return _inline_select_aliases(sql, obtxt, pat)


def _subst_ident_expr(text: str, name: str, expr: str) -> str:
    """String-literal- and qualifier-aware substitution of a SELECT-list
    alias reference ``name`` with its parenthesized defining ``expr``
    (ADVICE r09): matches inside the lexer's opaque spans (string
    literals, quoted identifiers, comments) are skipped, as in
    ``_subst_const`` — a WHERE comparing against the literal ``'n'``
    must not rewrite — and so are qualified and invocation heads (``name.col`` is a table/struct
    qualifier, ``name(...)`` a function call — neither is an alias
    reference). Advances past each replacement so an expr containing
    the alias name cannot loop."""
    pat = rf"(?<![\w.`]){re.escape(name)}\b(?!\s*[.(])"
    return _sub_code(text, pat, lambda _m: f"({expr})")


#: identifiers that look like implicit aliases but are (or commonly
#: trail as) SQL keywords — never inlined from the implicit form
_IMPLICIT_ALIAS_STOP = frozenset(
    """AND OR NOT IN IS NULL LIKE ILIKE RLIKE REGEXP BETWEEN ASC DESC
    OVER FILTER IGNORE RESPECT NULLS FIRST LAST END CASE WHEN THEN ELSE
    DIV FROM AS DAY DAYS MONTH MONTHS YEAR YEARS HOUR HOURS MINUTE
    MINUTES SECOND SECONDS WEEK WEEKS QUARTER MILLISECOND MICROSECOND
    INTERVAL FOLLOWING PRECEDING UNBOUNDED ROW ROWS RANGE CURRENT
    """.split()
)


def _select_alias_items(sql: str) -> list[tuple[str, str]]:
    """(expr, alias) pairs of the statement's top-level SELECT list —
    explicit ``expr AS alias`` (any keyword case; CH and Spark both
    accept lowercase ``as``, ADVICE r09) and the conservative implicit
    form ``expr alias`` where the expression's LAST character is
    unambiguous (``)``, ``'``, a digit, a backtick, or the END keyword)
    and the alias is not a keyword — ``a OR b`` / ``ts + INTERVAL 1
    DAY`` must never be read as aliasing ``b`` / ``DAY``."""
    sel = _first_match(sql, r"\bSELECT\b(?:\s+DISTINCT\b)?")
    frm_kw = _top_level_matches(sql, r"\bFROM\b")
    if not (sel and frm_kw):
        return []
    out = []
    for item in _split_top_commas(sql[sel.end() : frm_kw[0].start()]):
        am = re.fullmatch(
            r"(?s)\s*(?P<expr>.+?)\s+AS\s+(`?)(?P<alias>\w+)\2\s*",
            item,
            re.IGNORECASE,
        )
        if am is None:
            am = re.fullmatch(
                r"(?s)\s*(?P<expr>.+?(?:\)|'|`|[0-9]|\bEND))\s+"
                r"(`?)(?P<alias>[A-Za-z_]\w*)\2\s*",
                item,
                re.IGNORECASE,
            )
            if am is None or am.group("alias").upper() in _IMPLICIT_ALIAS_STOP:
                continue
        out.append((am.group("expr"), am.group("alias")))
    return out


def _inline_select_aliases(sql: str, text: str, pat: str) -> str:
    """Substitute the statement's top-level SELECT-list aliases into
    ``text`` (their defining expressions, parenthesized). Spark rejects
    lateral alias references inside a window's ORDER BY AND inside the
    window function's arguments (LATERAL_COLUMN_ALIAS_IN_WINDOW), while
    ClickHouse's alias visibility allows both — so the block-order
    rewrites inline them. Aliases whose expression itself contains a
    ``pat`` call are skipped (self-referential rewrites have no
    deterministic reading). Substitution is string-literal- and
    qualifier-aware (``_subst_ident_expr``, ADVICE r09)."""
    for expr, alias in _select_alias_items(sql):
        if not _first_match(expr, pat):
            text = _subst_ident_expr(text, alias, expr)
    return text


def _rewrite_running_accumulate(sql: str) -> str:
    """``runningAccumulate(xxxState(args))`` — ClickHouse's running
    cumulative aggregate over block order — bridged for the INLINE
    -State form into the deterministic window spelling, anchored (like
    ``_rewrite_running``) on the statement's own top-level ORDER BY:

    - ``runningAccumulate(sumState(x))`` -> ``sum(sum(x)) OVER (ORDER
      BY ... ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)`` — the
      outer aggregate is the state's MERGE function over the
      accumulated prefix (sum for sum/count states, min/max for
      min/max states, merged (s, c) quotient for avg);
    - runs BEFORE ``_rewrite_combinators`` (which would erase the
      -State name the merge function is derived from);
    - requires a GROUP BY (runningAccumulate without one collapses to
      a single row in CH — nothing to accumulate) and a top-level
      ORDER BY;
    - a state column fed from a subquery alias rejects loudly: the
      merge function is not recoverable from the outer statement —
      spell the window directly.
    """
    pat = _RUNNING_ACC_CALL
    if not _first_match(sql, pat):
        return sql
    if not _top_level_matches(sql, r"\bGROUP\s+BY\b"):
        raise ChSqlError(
            "runningAccumulate is bridged for the GROUP BY form "
            "(runningAccumulate(sumState(x)) ... GROUP BY k ORDER BY k); "
            "without a GROUP BY spell the running total directly: "
            "sum(x) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)"
        )
    obtxt = _order_anchor(sql, pat, "runningAccumulate()")
    over = f"OVER ({obtxt} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"

    def accumulate(m, inner: str) -> str:
        inner = inner.strip()
        im = _STATE_ARG.match(inner)
        if not im or _match_paren(inner, im.end() - 1) != len(inner) - 1:
            raise ChSqlError(
                "runningAccumulate is bridged only for an INLINE -State "
                "aggregate (runningAccumulate(sumState(x)) and the count/"
                "min/max/avg siblings); a state column from a subquery "
                "does not carry its merge function — spell the window "
                "directly: agg(x) OVER (ORDER BY ... ROWS UNBOUNDED "
                "PRECEDING). uniqState accumulation needs sketch-merge "
                "windows, which Spark's HLL aggregates do not support."
            )
        x = inner[im.end() : -1].strip()
        fn = im.group(1)
        if fn == "avgState":
            return (
                f"(CAST(sum(sum({x})) {over} AS DOUBLE) / "
                f"sum(count({x})) {over})"
            )
        if fn == "countState":
            return f"sum(count({x or '*'})) {over}"
        if fn == "minState":
            return f"min(min({x})) {over}"
        if fn == "maxState":
            return f"max(max({x})) {over}"
        return f"sum(sum({x})) {over}"

    return _rewrite_calls(sql, pat, accumulate)


_RUNNING_ACC_CALL = _call_pattern(("runningAccumulate",))
_STATE_ARG = re.compile(
    r"(sumState|countState|minState|maxState|avgState)\s*\("
)
_RUNNING_CALL = _call_pattern(
    ("neighbor", "runningDifferenceStartingWithFirstValue", "runningDifference")
)


def _rewrite_running(sql: str) -> str:
    """``runningDifference(x)`` and ``neighbor(x, off, default)`` mapped
    to deterministic window spellings (r06 verdict #8 — the last
    dialect-bridge gaps a migrating dashboard hits).

    ClickHouse computes both over BLOCK order, which its own docs call
    non-deterministic (the family is deprecated upstream in favor of
    window functions). The only deterministic reading is the
    statement's OWN top-level ``ORDER BY``, so the rewrite anchors
    there and REQUIRES one:

    - ``runningDifference(x)`` -> ``coalesce((x) - lag(x) OVER (ORDER
      BY ...), 0)`` — first row 0, matching CH for the numeric columns
      the function is defined on (CH date/datetime day/second variants
      are not bridged).
    - ``neighbor(x, off, dflt)`` -> ``lead``/``lag(x, |off|, dflt)
      OVER (ORDER BY ...)``; ``off`` must be an integer literal (so the
      lag/lead direction is static). The 2-argument form rejects
      loudly: CH falls back to the column's TYPE default, which a
      string rewriter cannot know — callers pass it explicitly.
    """
    pat = _RUNNING_CALL
    if not _first_match(sql, pat):
        return sql
    obtxt = _order_anchor(sql, pat, "neighbor()/runningDifference()")
    over = f"OVER ({obtxt})"

    def running(m, args: str) -> str:
        # a select-list alias as the argument hits Spark's
        # LATERAL_COLUMN_ALIAS_IN_WINDOW restriction — inline it, same
        # as the ORDER BY anchor does
        args = [
            _inline_select_aliases(m.string, a, pat)
            for a in _split_top_commas(args)
        ]
        fn = m.group(1).lower()
        if fn == "runningdifference":
            if len(args) != 1:
                raise ChSqlError("runningDifference takes exactly one argument")
            x = args[0]
            return f"coalesce(({x}) - lag({x}) {over}, 0)"
        if fn == "runningdifferencestartingwithfirstvalue":
            # CH variant: the first row carries the VALUE, not 0
            if len(args) != 1:
                raise ChSqlError(
                    "runningDifferenceStartingWithFirstValue takes "
                    "exactly one argument"
                )
            x = args[0]
            return f"coalesce(({x}) - lag({x}) {over}, ({x}))"
        if len(args) == 2:
            raise ChSqlError(
                "neighbor(x, off) without an explicit default: ClickHouse "
                "falls back to the column's TYPE default, which the "
                "rewriter cannot know — pass the third argument"
            )
        if len(args) != 3:
            raise ChSqlError("neighbor takes (x, offset, default)")
        x, off, dflt = args
        if not re.fullmatch(r"[+-]?\d+", off):
            raise ChSqlError(
                "neighbor offset must be an integer literal (the lag/lead "
                "direction must be static)"
            )
        n = int(off)
        if n == 0:
            return f"({x})"
        if n > 0:
            return f"lead({x}, {n}, {dflt}) {over}"
        return f"lag({x}, {-n}, {dflt}) {over}"

    return _rewrite_calls(sql, pat, running)


def _inline_aliases_into_where(sql: str) -> str:
    """ClickHouse's alias visibility lets a SELECT-list alias be used
    in the same query's WHERE clause (``SELECT a + 1 AS n ... WHERE
    n > 2``); Spark does not resolve lateral aliases there. Inline the
    defining expressions into the TOP-LEVEL WHERE text (subqueries
    were rewritten at their own nesting level and have their own
    scopes, matching CH's per-SELECT alias scope). An alias that
    shadows a real source column resolves to the ALIAS here — CH's
    default (prefer_column_name_to_alias = 0). Aggregate aliases
    inline too and then fail Spark's aggregate-in-WHERE check — the
    same error CH raises."""
    wh = _top_level_matches(sql, r"\bWHERE\b")
    if not wh:
        return sql
    w = wh[0]
    ends = [
        m.start()
        for m in _top_level_matches(
            sql,
            r"\bGROUP\s+BY\b|\bHAVING\b|\bORDER\s+BY\b|\bLIMIT\b|"
            r"\bWINDOW\b|\bUNION\b|\bEXCEPT\b|\bINTERSECT\b|\bSETTINGS\b",
        )
        if m.start() > w.end()
    ]
    end = min(ends) if ends else len(sql)
    body = sql[w.end() : end]
    inlined = _inline_select_aliases(sql, body, r"(?!x)x")
    if inlined == body:
        return sql
    return sql[: w.end()] + inlined + sql[end:]


def _replace_ident(sql: str, name: str, repl: str) -> str:
    """Replace standalone (unqualified, word-boundary) references to
    identifier ``name`` in code."""
    pat = re.compile(rf"(?<![\w.`]){re.escape(name)}\b")
    return _sub_code(sql, pat, lambda _m: repl)


#: LEFT keeps empty-array rows; INNER is the (redundant) default spelling.
_ARRAY_JOIN_CLAUSE = r"\b(?:(LEFT|INNER)\s+)?ARRAY\s+JOIN\b"


def _rewrite_array_join_clause(sql: str) -> str:
    """ClickHouse's clause-form ``[LEFT] ARRAY JOIN arr [AS x][, ...]``
    (the canonical dialect spelling for unrolling the reference
    schema's parallel-array channel columns, tables.sql:8-27) into
    Spark ``LATERAL VIEW [OUTER] explode``.

    - Single array with ``AS x``: plain LATERAL VIEW; like ClickHouse,
      the base array column stays referencable by its own name.
    - Single bare array: in ClickHouse the array's NAME refers to the
      element afterwards, so every standalone reference is rewritten to
      the generated element alias.
    - Multiple arrays: ClickHouse ZIPS them positionally (it does NOT
      cross-product); rewritten as one explode over an index-zipped
      struct (``transform(sequence(...), named_struct(...))``) with
      references redirected to struct fields. Like ClickHouse, unequal
      lengths are a runtime error (ANSI out-of-bounds element_at).
    - ``LEFT ARRAY JOIN`` maps to OUTER explode: empty arrays keep
      their row with NULL elements, where ClickHouse fills type
      defaults ('' / 0) — the one documented divergence (NULL is the
      ANSI spelling of 'no element'); identical whenever no array is
      empty.
    """
    counter = 0
    while True:
        ms = _top_level_matches(sql, _ARRAY_JOIN_CLAUSE)
        if not ms:
            return sql
        m = ms[0]
        outer = (m.group(1) or "").upper() == "LEFT"
        enders = [
            t.start()
            for t in _top_level_matches(sql, _CLAUSE_AFTER_FROM)
            if t.start() >= m.end()
        ] + [
            t.start()
            for t in _top_level_matches(sql, _ARRAY_JOIN_CLAUSE)
            if t.start() >= m.end()
        ]
        end = min(enders) if enders else len(sql)
        args = _split_top_commas(sql[m.end() : end].strip())
        if not args or not all(a for a in args):
            raise ChSqlError("ARRAY JOIN requires at least one array expression")

        parsed = []  # (expr, visible_name, had_alias)
        for a in args:
            as_ms = _top_level_matches(a, r"\bAS\b")
            if as_ms:
                expr = a[: as_ms[-1].start()].strip()
                alias = a[as_ms[-1].end() :].strip()
                if not re.fullmatch(r"\w+", alias):
                    raise ChSqlError(f"ARRAY JOIN alias {alias!r} is not an identifier")
                parsed.append((expr, alias, True))
            else:
                if not re.fullmatch(r"\w+(\.\w+)?", a):
                    raise ChSqlError(
                        f"ARRAY JOIN expression {a!r} needs AS <alias> "
                        "(only bare columns may omit it)"
                    )
                parsed.append((a, a.split(".")[-1], False))

        ov = "OUTER " if outer else ""
        rest = sql[: m.start()] + "\x00\x01\x00" + sql[end:]
        if len(parsed) == 1:
            expr, name, had_alias = parsed[0]
            if had_alias:
                view = f"LATERAL VIEW {ov}explode({expr}) __ajv{counter} AS {name}"
            else:
                el = f"__ajc{counter}"
                rest = _replace_ident(rest, name, el)
                view = f"LATERAL VIEW {ov}explode({expr}) __ajv{counter} AS {el}"
        else:
            st = f"__ajc{counter}"
            fields = ", ".join(
                f"'{name}', element_at({expr}, __zi + 1)" for expr, name, _ in parsed
            )
            zipexpr = (
                f"transform(sequence(0, size({parsed[0][0]}) - 1), "
                f"__zi -> named_struct({fields}))"
            )
            for _, name, _had in parsed:
                rest = _replace_ident(rest, name, f"{st}.{name}")
            view = f"LATERAL VIEW {ov}explode({zipexpr}) __ajv{counter} AS {st}"
        sql = rest.replace("\x00\x01\x00", " " + view + " ")
        counter += 1


_ARRAY_JOIN_CALL = _call_pattern(("arrayJoin",))


def _rewrite_array_join(sql: str) -> str:
    # collect distinct argument texts in order of first appearance
    aliases: dict[str, str] = {}
    sql = _rewrite_calls(
        sql, _ARRAY_JOIN_CALL,
        lambda m, a: aliases.setdefault(a.strip(), f"__aj{len(aliases)}"),
    )
    if not aliases:
        return sql

    views = " ".join(
        f"LATERAL VIEW explode({_inline_scalar_aliases(arg)}) "
        f"__ajv_{alias} AS {alias}"
        for arg, alias in aliases.items()
    )
    froms = _top_level_matches(sql, r"\bFROM\b")
    if not froms:
        raise ChSqlError("arrayJoin requires a FROM clause")
    after = [
        m
        for m in _top_level_matches(sql, _CLAUSE_AFTER_FROM)
        if m.start() > froms[0].end()
    ]
    at = after[0].start() if after else len(sql)
    return sql[:at].rstrip() + " " + views + " " + sql[at:]


# ---------------------------------------------------------------------------
# 2a1. formatDateTime(ts, '%...') -> date_format(ts, 'java pattern')
# ---------------------------------------------------------------------------
#: ClickHouse %-codes with EXACT Java/Spark pattern equivalents; any
#: other % code raises (a wrong format silently corrupts dashboards).
#: Deliberately excluded as NOT exact: %M (minute in old CH, month
#: name since the 23.x formatdatetime_parsedatetime_m_is_month_name
#: default flip — version-ambiguous), %e/%k/%l (space-padded forms
#: Java patterns cannot spell), %V/%u/%g/%G (ISO week/weekday/year vs
#: Java's locale week), %w (Sunday-0 weekday number), %z (timezone
#: rendering on session-zoned timestamps).
_FMT_CODES = {
    "Y": "yyyy", "y": "yy", "m": "MM", "c": "MM", "d": "dd", "H": "HH",
    "i": "mm", "S": "ss", "F": "yyyy-MM-dd", "T": "HH:mm:ss",
    "D": "MM/dd/yy", "R": "HH:mm", "r": "hh:mm:ss a",
    "j": "DDD", "p": "a", "a": "EEE", "b": "MMM", "W": "EEEE",
    "h": "hh", "I": "hh", "Q": "Q", "f": "SSSSSS",
    "n": "\n", "t": "\t", "%": "%",
}

#: actionable hints for the codes a migrating dashboard hits most
_FMT_REJECT_HINTS = {
    "M": " (%M is version-ambiguous in ClickHouse: minute in old "
         "releases, month name after the 23.x setting flip — use %i "
         "for the minute, or monthName(ts) for the month name)",
    "e": " (space-padded day — use %d, the zero-padded form)",
    "V": " (ISO week vs Java's locale week differ — use toISOWeek())",
}


def _translate_fmt(fmt: str) -> str:
    out = []
    i = 0
    while i < len(fmt):
        ch = fmt[i]
        if ch == "%":
            code = fmt[i + 1 : i + 2]
            if code not in _FMT_CODES:
                raise ChSqlError(
                    f"formatDateTime %-code %{code} has no exact Spark "
                    f"mapping{_FMT_REJECT_HINTS.get(code, '')}"
                )
            out.append(_FMT_CODES[code])
            i += 2
        elif ch.isalpha():
            # literal letters are pattern chars in Java formats — quote
            out.append(f"'{ch}'")
            i += 1
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def _rewrite_format_datetime(sql: str) -> str:
    """``formatDateTime(ts, '%Y-%m-%d %H:%i:%S')`` →
    ``date_format(ts, 'yyyy-MM-dd HH:mm:ss')`` — the strftime-style
    codes translated to Java patterns, EXACT subset only (unknown
    codes raise rather than silently reformat)."""

    def date_format(m, args: str) -> str:
        args = _split_top_commas(args)
        if len(args) != 2:
            raise ChSqlError("formatDateTime expects (ts, 'format')")
        fm = re.fullmatch(r"'(.*)'", args[1].strip())
        if not fm:
            raise ChSqlError("formatDateTime needs a literal format string")
        java = _translate_fmt(fm.group(1))
        # literal letters translate to QUOTED Java pattern chars
        # ('T' in ISO-8601 formats): the embedded quotes must escape
        # as '' inside the emitted SQL literal or the statement text
        # breaks at the first such format (round-11 round-trip
        # property found it)
        esc = java.replace("'", "''")
        return f"date_format({args[0]}, '{esc}')"

    return _rewrite_calls(sql, _FORMAT_DATETIME_CALL, date_format)


_FORMAT_DATETIME_CALL = _call_pattern(("formatDateTime",))


# ---------------------------------------------------------------------------
# 2a2. topK(k)(x) -> exact per-group top-k via a derived frequency join
# ---------------------------------------------------------------------------
def _rewrite_topk(sql: str) -> str:
    """``SELECT g..., aggs..., topK(k)(x) AS name FROM t [WHERE w]
    GROUP BY g...`` → the base aggregate joined with a per-group
    frequency subquery that assembles the k most frequent values of x
    as an array (count desc, value asc — DETERMINISTIC, unlike CH).

    Semantics note: ClickHouse's topK is an APPROXIMATE sketch
    (Filtered Space-Saving); this rewrite is the exact answer — the
    same better-than-the-original trade as quantileExact. Contract is
    deliberately TIGHT and loudly enforced: exactly one topK, an
    explicit alias, plain-identifier GROUP BY keys, no HAVING — the
    dashboard shape. Anything else raises with the manual spelling
    (q63's shape). The topK column lands LAST in the output."""
    m = _first_match(sql, r"\btopK\s*\(")
    if not m:
        return sql
    k_close = _match_paren(sql, m.end() - 1)
    k = sql[m.end() : k_close].strip()
    if not k.isdigit():
        raise ChSqlError("topK(k) needs an integer k")
    m2 = _NEXT_LIST.match(sql, k_close + 1)
    if not m2:
        raise ChSqlError("topK(k) must be followed by an argument list")
    x_open = m2.end() - 1
    x_close = _match_paren(sql, x_open)
    x = sql[x_open + 1 : x_close].strip()
    malias = re.match(r"\s+AS\s+(\w+)", sql[x_close + 1 :], re.IGNORECASE)
    if not malias:
        raise ChSqlError("topK needs an explicit alias (topK(k)(x) AS name)")
    alias = malias.group(1)
    term_start, term_end = m.start(), x_close + 1 + malias.end()
    if _first_match(sql[term_end:], r"\btopK\s*\("):
        raise ChSqlError("only one topK per statement is rewritable")
    if _first_match(sql, r"\bHAVING\b"):
        raise ChSqlError("topK with HAVING is not rewritable; spell it manually")

    msel = _first_match(sql, r"\bSELECT\b")
    mfrom = _top_level_matches(sql, r"\bFROM\b")
    mgroup = _top_level_matches(sql, r"\bGROUP\s+BY\b")
    if not mfrom or not mgroup:
        raise ChSqlError("topK rewrite needs FROM and GROUP BY")
    sel = (sql[msel.end() : term_start] + sql[term_end : mfrom[0].start()]).strip()
    sel = re.sub(r",\s*$", "", sel).strip()
    if not sel:
        raise ChSqlError("topK cannot be the only SELECT item (add the keys)")
    mwhere = _first_match(sql, r"\bWHERE\b")
    from_end = mwhere.start() if mwhere else mgroup[0].start()
    from_txt = sql[mfrom[0].end() : from_end].strip()
    where_txt = sql[mwhere.end() : mgroup[0].start()].strip() if mwhere else ""
    tail_m = [
        t
        for t in _top_level_matches(sql, r"\bORDER\s+BY\b|\bLIMIT\b")
        if t.start() > mgroup[0].end()
    ]
    g_end = tail_m[0].start() if tail_m else len(sql)
    keys = _split_top_commas(sql[mgroup[0].end() : g_end].rstrip().rstrip(";"))
    if not all(re.fullmatch(r"\w+", g) for g in keys):
        raise ChSqlError(
            "topK rewrite needs plain-identifier GROUP BY keys; spell it manually"
        )
    tail = sql[g_end:].strip()
    gl = ", ".join(keys)
    where_clause = f" WHERE {where_txt}" if where_txt else ""
    base = f"SELECT {sel} FROM {from_txt}{where_clause} GROUP BY {gl}"
    freq = (
        f"SELECT {gl}, transform(slice(array_sort(collect_list("
        f"named_struct('a', -__cnt, 'v', __x))), 1, {k}), s -> s.v) AS {alias} "
        f"FROM (SELECT {gl}, {x} AS __x, count(*) AS __cnt FROM {from_txt}"
        f"{where_clause} GROUP BY {gl}, {x}) __f GROUP BY {gl}"
    )
    out = f"SELECT __o.*, __t.{alias} FROM ({base}) __o JOIN ({freq}) __t USING ({gl})"
    return out + (f" {tail}" if tail else "")


# ---------------------------------------------------------------------------
# 2a2. Behavioral-analytics aggregates: retention / windowFunnel /
#      sequenceMatch (round 8 — the last reject-only dialect rows)
# ---------------------------------------------------------------------------
def _second_list(m, args: str | None) -> list[str]:
    """The argument list of a parametric ``name(params)(args)`` call —
    ClickHouse's parametric-aggregate syntax, two adjacent balanced
    lists — split on its top-level commas."""
    if args is None:
        name = m.group(1)
        raise ChSqlError(
            f"{name}(...) is parametric — it needs a second argument list: "
            f"{name}(params)(timestamp, cond1, ...)"
        )
    return _split_top_commas(args)


def _behavior_events(ts: str, conds: list[str]) -> str:
    """Sorted per-group event list for the sequence aggregates: ONLY
    events matching >=1 condition are kept (ClickHouse semantics —
    non-matching events are invisible to chains/adjacency; it also
    bounds the collected state to condition-relevant events), each as
    (t epoch-seconds double, c condition-flag array), time-ordered with
    the flag array as a deterministic tiebreak (CH leaves same-second
    order undefined; we don't)."""
    carr = "array(" + ", ".join(f"coalesce(({c}), false)" for c in conds) + ")"
    anycond = " OR ".join(f"({c})" for c in conds)
    ev = (
        f"CASE WHEN {anycond} THEN named_struct("
        f"'t', CAST(CAST({ts} AS TIMESTAMP) AS DOUBLE), 'c', {carr}) END"
    )
    return f"array_sort(collect_list({ev}))"


def _rewrite_lttb(sql: str) -> str:
    """``largestTriangleThreeBuckets(n)(x, y)`` (alias ``lttb``) →
    exact sequential-fold expansion of ClickHouse's time-series
    downsampler (Steinarsson 2013): keep the first and last points,
    split the middle into n-2 equal float-width buckets, and per bucket
    select the point maximizing the triangle area with the PREVIOUSLY
    selected point and the NEXT bucket's average — the visual-fidelity
    downsampling every plotting pipeline runs before rendering millions
    of points.

    Exactness: y snaps to DECIMAL(18,4) and scales to integral doubles,
    x is expected integral-valued (epoch seconds — the caller's
    contract), so every triangle area is an exact integer-in-double and
    the argmax has no ulp hazard; ties break to the FIRST maximal point
    (strictly-greater fold). Bucket boundaries replay the same
    floor((i*(sz-2)/(n-2))) float arithmetic in any IEEE engine.

    Returns a named_struct('x' array<double>, 'y' array<double>) with y
    descaled; groups with <= n points return every point (CH contract).
    Scale: per-group state is the collected series — the behavioral
    collect contract; the fold is O(sz) per group."""
    return _rewrite_calls(sql, _LTTB_CALL, _lttb, parametric=True)


_LTTB_CALL = _call_pattern(("largestTriangleThreeBuckets", "lttb"))


def _lttb(m, params: str, args: str | None) -> str:
    fam, args = m.group(1), _second_list(m, args)
    try:
        n = int(params)
    except ValueError:
        raise ChSqlError(f"{fam}(n) needs an integer n") from None
    if n < 3 or len(args) != 2:
        raise ChSqlError(f"{fam}(n)(x, y): n >= 3, two arguments")
    x, y = args
    ps = (
        f"array_sort(collect_list(named_struct("
        f"'x', CAST({x} AS DOUBLE), "
        f"'y', CAST(CAST(CAST({y} AS DECIMAL(18,4)) * 10000 "
        f"AS BIGINT) AS DOUBLE))))"
    )
    sz = "size(ps)"
    every = f"(CAST({sz} - 2 AS DOUBLE) / {n - 2})"
    # 1-based slice bounds from the 0-based reference formula
    a_lo = f"(CAST(floor((i + 1) * {every}) AS INT) + 2)"
    a_len = (
        f"greatest(0, CAST(least(floor((i + 2) * {every}) + 1, "
        f"CAST({sz} AS DOUBLE)) AS INT) "
        f"- CAST(floor((i + 1) * {every}) AS INT) - 1)"
    )
    r_lo = f"(CAST(floor(i * {every}) AS INT) + 2)"
    r_len = (
        f"(CAST(floor((i + 1) * {every}) AS INT) "
        f"- CAST(floor(i * {every}) AS INT))"
    )
    nb0 = f"slice(ps, {a_lo}, {a_len})"
    nb = (
        f"CASE WHEN size({nb0}) = 0 "
        f"THEN array(element_at(ps, {sz})) ELSE {nb0} END"
    )
    area = (
        "abs((acc.prev.x - nav.nx) * (c.y - acc.prev.y) "
        "- (acc.prev.x - c.x) * (nav.ny - acc.prev.y))"
    )
    argmax = (
        f"aggregate(bk, named_struct('a', CAST(-1 AS DOUBLE), "
        f"'p', element_at(bk, 1)), (b, c) -> "
        f"CASE WHEN {area} > b.a "
        f"THEN named_struct('a', {area}, 'p', c) ELSE b END)"
    )
    step = (
        f"element_at(transform(array({nb}), nbx -> "
        f"element_at(transform(array(named_struct("
        f"'nx', aggregate(nbx, CAST(0 AS DOUBLE), (a, p) -> a + p.x) / size(nbx), "
        f"'ny', aggregate(nbx, CAST(0 AS DOUBLE), (a, p) -> a + p.y) / size(nbx))), "
        f"nav -> element_at(transform(array(slice(ps, {r_lo}, {r_len})), bk -> "
        f"element_at(transform(array({argmax}), best -> named_struct("
        f"'out', concat(acc.out, array(best.p)), 'prev', best.p)), 1)"
        f"), 1)), 1)), 1)"
    )
    fold = (
        f"aggregate(sequence(0, {n - 3}), "
        f"named_struct('out', array(element_at(ps, 1)), "
        f"'prev', element_at(ps, 1)), (acc, i) -> {step})"
    )
    full = (
        f"element_at(transform(array({fold}), st -> named_struct("
        f"'x', transform(concat(st.out, array(element_at(ps, {sz}))), p -> p.x), "
        f"'y', transform(concat(st.out, array(element_at(ps, {sz}))), p -> p.y / 10000.0)"
        f")), 1)"
    )
    return (
        f"element_at(transform(array({ps}), ps -> "
        f"CASE WHEN {sz} <= {n} THEN named_struct("
        f"'x', transform(ps, p -> p.x), "
        f"'y', transform(ps, p -> p.y / 10000.0)) "
        f"ELSE {full} END), 1)"
    )


def _rewrite_map_aggs(sql: str) -> str:
    """``sumMap(karr, varr)`` / ``minMap`` / ``maxMap`` → exact
    array-fold expansion of ClickHouse's map-aggregate family: per
    group, every row contributes its (key, value) pairs and the result
    is a struct of the SORTED distinct keys plus the per-key
    sum/min/max — CH returns the same as a tuple of parallel arrays
    (bridge divergence: named fields ``k``/``v`` instead of tuple
    positions ``.1``/``.2``).

    Exactness: values snap to DECIMAL(18,4) and fold as scaled BIGINTs
    (the groupArrayMovingSum device), so per-key sums are
    integer-exact regardless of collect order; min/max are order-free
    by construction. The collected pair list binds ONCE through the
    single-element-array lambda (HOF lambdas defeat codegen CSE).

    Only the 2-array CH form is bridged; the Map-typed 1-argument form
    rejects loudly. Scale: per-group state is the pair list — the
    behavioral-aggregate collect contract."""
    return _rewrite_calls(sql, _MAP_AGG_CALL, _map_agg)


_MAP_FOLDS = {
    "summap": "aggregate(filter(ps, p -> p.k <=> key), "
    "CAST(0 AS BIGINT), (a, p) -> a + p.v)",
    "minmap": "array_min(transform(filter(ps, p -> p.k <=> key), p -> p.v))",
    "maxmap": "array_max(transform(filter(ps, p -> p.k <=> key), p -> p.v))",
}
_MAP_AGG_CALL = _call_pattern(("sumMap", "minMap", "maxMap"))


def _map_agg(m, args: str) -> str:
    fam, args = m.group(1), _split_top_commas(args)
    if len(args) != 2:
        raise ChSqlError(
            f"{fam} is bridged for the 2-array form "
            f"{fam}(key_array, value_array); the Map-typed "
            "1-argument form is not bridged"
        )
    k, v = args
    pairs = (
        f"flatten(collect_list(transform({k}, (x, i) -> "
        f"named_struct('k', x, 'v', CAST(CAST(element_at({v}, i + 1) "
        f"AS DECIMAL(18,4)) * 10000 AS BIGINT)))))"
    )
    return (
        f"element_at(transform(array({pairs}), ps -> "
        f"element_at(transform(array(array_sort(array_distinct("
        f"transform(ps, p -> p.k)))), ks -> named_struct("
        f"'k', ks, 'v', transform(ks, key -> "
        f"CAST({_MAP_FOLDS[fam.lower()]} AS DOUBLE) / 10000.0))), 1)), 1)"
    )


def _rewrite_uniq_upto(sql: str) -> str:
    """``uniqUpTo(N)(x)`` → ``least(count(DISTINCT x), N + 1)`` — CH's
    bounded-cardinality counter (exact up to N, N+1 means "more than
    N"). CH implements it with an N-bounded hash set per group; Spark's
    exact distinct count then a clamp is semantically identical (the
    clamp is what makes it cheap in CH; Spark pays the full distinct —
    fine, the operator CONTRACT is the bounded answer)."""

    def uniq_upto(m, params: str, args: str | None) -> str:
        args = _second_list(m, args)
        try:
            n = int(params)
        except ValueError:
            raise ChSqlError("uniqUpTo(N) needs an integer N") from None
        if n <= 0 or len(args) != 1:
            raise ChSqlError("uniqUpTo(N)(x): N positive, one argument")
        return f"least(count(DISTINCT {args[0]}), {n + 1})"

    return _rewrite_calls(sql, _UNIQ_UPTO_CALL, uniq_upto, parametric=True)


_UNIQ_UPTO_CALL = _call_pattern(("uniqUpTo",))


def _rewrite_moving(sql: str) -> str:
    """``groupArrayMovingSum[(w)](x, k)`` / ``groupArrayMovingAvg[(w)](x, k)``
    → exact array-fold expansion.

    ClickHouse semantics (AggregateFunctionMovingSum/Avg): an array the
    length of the group where element i is the sum of ``x`` over the
    last ``w`` rows ending at i (``w`` omitted = the running prefix
    sum); MovingAvg divides EVERY element by the window size — leading
    elements with fewer than w predecessors still divide by w (and the
    unbounded form divides by the group's row count). CH folds in BLOCK
    order, which is non-deterministic — so the bridge REQUIRES a second
    argument ``k``, the explicit intra-group sort key (the same
    pinned-order extension discipline as the sequence aggregates'
    timestamp tiebreak); the verbatim 1-argument CH spelling rejects
    loudly with that explanation.

    Exactness: values snap to DECIMAL(18,4) and fold as SCALED BIGINTs
    (the dsum4 device), so prefix sums and the windowed differences
    run[i] - run[i-w] are integer-exact — bit-identical in any engine —
    and the final /10000.0 (and /w for Avg) are single IEEE ops.

    Scale: per-group state is the collected (k, x) list — the
    collect_list contract every behavioral aggregate here shares."""
    return _rewrite_calls(sql, _MOVING_CALL, _moving, parametric=True)


_MOVING_CALL = _call_pattern(("groupArrayMovingSum", "groupArrayMovingAvg"))


def _moving(m, params: str, args: str | None) -> str:
    fam = m.group(1)
    avg = fam.lower() == "grouparraymovingavg"
    if args is not None:  # parametric: fam(w)(x, k)
        try:
            w = int(params.strip())
        except ValueError:
            raise ChSqlError(
                f"{fam}({params!r}): the window parameter "
                "must be an integer row count"
            ) from None
        if w <= 0:
            raise ChSqlError(f"{fam} window must be positive")
        args = _split_top_commas(args)
    else:  # plain: fam(x, k) — unbounded running form
        w, args = None, _split_top_commas(params)
    if len(args) != 2:
        raise ChSqlError(
            f"{fam} is bridged with an EXPLICIT intra-group sort "
            f"key: {fam}[(w)](x, k). ClickHouse's 1-argument form "
            "folds in block order, which is non-deterministic — "
            "pass the ordering column as the second argument"
        )
    x, k = args
    lst = (
        f"transform(array_sort(collect_list(named_struct("
        f"'o', {k}, 'v', CAST(CAST({x} AS DECIMAL(18,4)) * 10000 "
        f"AS BIGINT)))), s -> s.v)"
    )
    run = (
        f"aggregate({lst}, named_struct("
        f"'a', CAST(array() AS ARRAY<BIGINT>), 'r', CAST(0 AS BIGINT)), "
        f"(acc, v) -> named_struct("
        f"'a', concat(acc.a, array(acc.r + v)), 'r', acc.r + v)).a"
    )
    if w is None:
        if avg:
            # unbounded avg: divide by the group size
            fin = (
                f"transform(arr, s -> CAST(s AS DOUBLE) / 10000.0 "
                f"/ size(arr))"
            )
        else:
            fin = "transform(arr, s -> CAST(s AS DOUBLE) / 10000.0)"
    else:
        div = f" / {w}" if avg else ""
        fin = (
            f"transform(arr, (s, i) -> CAST(s - CASE WHEN i + 1 > {w} "
            f"THEN element_at(arr, i + 1 - {w}) ELSE CAST(0 AS BIGINT) "
            f"END AS DOUBLE) / 10000.0{div})"
        )
    # bind the run array ONCE via a single-element-array lambda
    # (HOF lambdas defeat codegen CSE — the q141 finding)
    return f"element_at(transform(array({run}), arr -> {fin}), 1)"


def ks_tail(dmax_num: str, n0: str, n1: str, dialect: str = "spark") -> str:
    """Kolmogorov-Smirnov D from the EXACT integer numerator
    max|n1*F0 - n0*F1| and the sample sizes: one IEEE division. CH
    returns (d, p); the p-value needs the KS distribution (no shared
    spelling) — named field ``d`` only, the q165 contract."""
    d = f"(CAST({dmax_num} AS DOUBLE) / (({n0}) * ({n1})))"
    if dialect == "spark":
        return f"named_struct('d', {d})"
    return f"struct_pack(d := {d})"


def assoc_tail(chi2: str, n: str, r: str, c: str) -> str:
    """Cramér's V from chi-squared — one sqrt over a snapped chi2.
    The chi2 SUM is order-sensitive in last ulps (doubles), so chi2
    itself snaps to DECIMAL(18,6) first (the entropy device) and V
    derives from the snapped value: identical in any engine and any
    summation order."""
    chis = f"CAST(CAST({chi2} AS DECIMAL(18,6)) AS DOUBLE)"
    return (
        f"CAST(sqrt({chis} / (({n}) * "
        f"least(({r}) - 1.0, ({c}) - 1.0))) AS DECIMAL(18,6))"
    )


def _ks_expr(x: str, g: str) -> str:
    """kolmogorovSmirnovTest(x, sample_idx) as one aggregate fold:
    collect (v, g) pairs; for each DISTINCT value u the ECDF gap
    numerator |n1*count0(<=u) - n0*count1(<=u)| is an exact integer;
    D = max / (n0*n1). O(n*d) per group — the bounded-slice collect
    contract (q165's MW rule); relational window counts are the
    unbounded path."""
    pair = (
        f"CASE WHEN ({x}) IS NOT NULL AND ({g}) IS NOT NULL THEN "
        f"named_struct('v', CAST(CAST({x} AS DECIMAL(18,4)) * 10000 "
        f"AS BIGINT), 'g', CAST({g} AS INT)) END"
    )
    n0 = "CAST(size(filter(ps, p -> p.g = 0)) AS DOUBLE)"
    n1 = "CAST(size(filter(ps, p -> p.g <> 0)) AS DOUBLE)"
    c0 = "CAST(size(filter(ps, q -> q.g = 0 AND q.v <= u)) AS BIGINT)"
    c1 = "CAST(size(filter(ps, q -> q.g <> 0 AND q.v <= u)) AS BIGINT)"
    dnum = (
        f"array_max(transform(array_distinct(transform(ps, p -> p.v)), "
        f"u -> abs(CAST({n1} AS BIGINT) * {c0} - "
        f"CAST({n0} AS BIGINT) * {c1})))"
    )
    body = ks_tail(dnum, n0, n1, dialect="spark")
    guard = f"CASE WHEN {n0} >= 1.0 AND {n1} >= 1.0 THEN {body} END"
    return (
        f"element_at(transform(array(collect_list({pair})), ps -> "
        f"{guard}), 1)"
    )


def _assoc_expr(fam: str, a: str, b: str) -> str:
    """cramersV / contingency / theilsU over two categorical columns,
    as one aggregate fold over the collected (a, b) pair list (string
    form; NULL pairs dropped). chi2-based members snap chi2 to 1e-6
    before the closed form (see assoc_tail); theilsU lives in the log
    domain and snaps its output (the entropy device). Sorted distinct
    folds keep the Spark-side order deterministic; the ORACLE computes
    the same sums relationally in arbitrary order — the snap absorbs
    both engines' ulp spread."""
    pair = (
        f"CASE WHEN ({a}) IS NOT NULL AND ({b}) IS NOT NULL THEN "
        f"named_struct('a', CAST({a} AS STRING), "
        f"'b', CAST({b} AS STRING)) END"
    )
    n = "CAST(size(ps) AS DOUBLE)"
    ra = "CAST(size(filter(ps, q -> q.a = c.a)) AS DOUBLE)"
    cb = "CAST(size(filter(ps, q -> q.b = c.b)) AS DOUBLE)"
    o = "CAST(size(filter(ps, q -> q.a = c.a AND q.b = c.b)) AS DOUBLE)"
    cells = "array_distinct(ps)"
    chi2 = (
        f"aggregate({cells}, CAST(0.0 AS DOUBLE), (acc, c) -> "
        f"acc + ({o} - {ra} * {cb} / {n}) * ({o} - {ra} * {cb} / {n}) "
        f"/ ({ra} * {cb} / {n}))"
    )
    nr = "CAST(size(array_distinct(transform(ps, p -> p.a))) AS DOUBLE)"
    nc = "CAST(size(array_distinct(transform(ps, p -> p.b))) AS DOUBLE)"
    if fam == "cramersV":
        # a single-category side has no association to measure: NULL
        # (CH returns nan), and the guard also keeps the min(r,c)-1
        # denominator away from ANSI divide-by-zero
        body = (
            f"CASE WHEN {nr} > 1.0 AND {nc} > 1.0 THEN "
            f"{assoc_tail(chi2, n, nr, nc)} END"
        )
    elif fam == "contingency":
        # contingency coefficient: sqrt(chi2 / (chi2 + n))
        chis = f"CAST(CAST({chi2} AS DECIMAL(18,6)) AS DOUBLE)"
        body = f"CAST(sqrt({chis} / ({chis} + {n})) AS DECIMAL(18,6))"
    elif fam == "theilsU":
        # U(a|b) = (H(a) - H(a|b)) / H(a); CH's theilsU(a, b).
        # H terms via counts * ln(counts) — exact integer counts into
        # libm ln, output snapped (the entropy device)
        ca = "CAST(size(filter(ps, q -> q.a = u)) AS DOUBLE)"
        ha = (
            f"(ln({n}) - aggregate(array_distinct(transform(ps, "
            f"p -> p.a)), CAST(0.0 AS DOUBLE), (acc, u) -> "
            f"acc + {ca} * ln({ca})) / {n})"
        )
        ocell = "CAST(size(filter(ps, q -> q.a = c.a AND q.b = c.b)) AS DOUBLE)"
        cbv = "CAST(size(filter(ps, q -> q.b = c.b)) AS DOUBLE)"
        # H(a|b) = -sum_cells (o/n) ln(o/cb)
        hab = (
            f"(-aggregate({cells}, CAST(0.0 AS DOUBLE), (acc, c) -> "
            f"acc + ({ocell} / {n}) * ln({ocell} / {cbv})))"
        )
        body = (
            f"CAST(CASE WHEN {ha} = 0.0 THEN CAST(NULL AS DOUBLE) "
            f"ELSE ({ha} - {hab}) / {ha} END AS DECIMAL(18,6))"
        )
    else:  # pragma: no cover
        raise ChSqlError(f"unknown association aggregate {fam}")
    return (
        f"element_at(transform(array(collect_list({pair})), ps -> "
        f"{body}), 1)"
    )


def _rewrite_numbers(sql: str) -> str:
    """ClickHouse's ``numbers(N)`` / ``numbers(offset, N)`` table
    function → a Spark ``range()`` subquery exposing CH's column name
    ``number``. Literal arguments only (a table function's cardinality
    should be plan-time static — CH agrees)."""

    def numbers(m: re.Match) -> str:
        if m.group(2) is None:
            return f"(SELECT id AS number FROM range({int(m.group(1))}))"
        off, n = int(m.group(1)), int(m.group(2))
        return f"(SELECT id AS number FROM range({off}, {off + n}))"

    return _sub_code(
        sql, r"\bnumbers\s*\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)", numbers
    )


def _rewrite_brackets(sql: str) -> str:
    """ClickHouse bracket syntax (round 9 — found by edge probing):

    - ``expr[i]`` subscripts are ONE-based in ClickHouse (negative =
      from the end); Spark's native ``expr[i]`` is ZERO-based, so the
      form previously ran and silently returned the WRONG element.
      Rewritten to ``element_at(expr, i)`` — 1-based and
      negative-from-end, exactly CH's addressing. Out-of-bounds raises
      under ANSI instead of returning CH's type default (DIALECT_NOTES).
      Map subscripts ``m['key']`` land on element_at's map form (by
      key) — same parity.
    - ``[e1, e2]`` array literals (not Spark syntax) become
      ``array(e1, e2)``.

    A bracket is a SUBSCRIPT iff it immediately follows (no space) an
    identifier character, ``)`` or ``]``; anything else is a literal.
    The subscript base walks back over a full postfix chain
    (``a.f(x)(y)[1][2]``). String literals are never touched; nested
    brackets resolve over the restart loop."""
    while True:
        target = next(
            (i for i, ch, _d in _code_marks(sql) if ch == "["), None
        )
        if target is None:
            return sql
        pairs = _pair_map(sql)
        close = pairs.get(target)
        if close is None:
            return sql  # unbalanced; leave for Spark's parser to report
        inner = sql[target + 1 : close]
        prev = sql[target - 1] if target > 0 else ""
        if not (prev.isalnum() or prev in "_$)]"):
            sql = sql[:target] + f"array({inner})" + sql[close + 1 :]
            continue
        j = target - 1
        while j >= 0:
            c = sql[j]
            if c in ")]":
                if j not in pairs:
                    break
                j = pairs[j] - 1
            elif c.isalnum() or c in "_$.":
                j -= 1
            else:
                break
        base = sql[j + 1 : target]
        sql = (
            sql[: j + 1]
            + f"element_at({base}, {inner.strip()})"
            + sql[close + 1 :]
        )


def _lambda_param_collision(text: str, name: str) -> bool:
    """True when ``name`` appears as a higher-order-function LAMBDA
    PARAMETER in ``text`` (``name -> ...`` or ``(a, name) -> ...``):
    whole-word substitution there would corrupt the lambda ('(5) ->
    (5) + 1'), a silent wrong-output class — callers raise instead."""
    if re.search(rf"\b{re.escape(name)}\s*->", text, re.IGNORECASE):
        return True
    for m in re.finditer(r"\(([\w\s,]*)\)\s*->", text):
        params = [p.strip().lower() for p in m.group(1).split(",")]
        if name.lower() in params:
            return True
    return False


_CLAUSE_TERMINATORS = re.compile(
    r"\b(HAVING|ORDER|LIMIT|OFFSET|WINDOW|UNION|EXCEPT|INTERSECT|"
    r"SETTINGS|FORMAT|WITH|GROUP)\b",
    re.IGNORECASE,
)


def _ordinal_item_collision(text: str, name: str) -> bool:
    """True when ``name`` appears as a BARE item of a GROUP BY / ORDER
    BY list in ``text``. Substituting an integer-literal WITH constant
    there would produce ``GROUP BY (2)``, which Spark reinterprets as a
    POSITIONAL ordinal (column 2) — silently different semantics from
    ClickHouse, which resolves the alias to the constant. Items that
    merely CONTAIN the name (``k + 1``) are fine: the substituted form
    is an expression, which neither engine positional-izes."""
    cur = _Cursor(text)
    for m in re.finditer(r"\b(?:GROUP|ORDER)\s+BY\b", text,
                         re.IGNORECASE):
        if cur.at(m.start())[1]:
            continue
        items, item = [], []
        for off, ch, d, kind in _lex(text[m.end() :]):
            if kind == "comment":
                item.append(" ")  # separates, carries no item content
                continue
            if kind == "code":
                if ch == ")" and d < 0:
                    break  # clause ends with the enclosing subquery
                if ch == "," and d == 0:
                    items.append("".join(item))
                    item = []
                    continue
                i = m.end() + off
                if (
                    d == 0
                    and (off == 0 or not text[i - 1].isalnum())
                    and _CLAUSE_TERMINATORS.match(text, i)
                ):
                    break
            item.append(ch)
        items.append("".join(item))
        for it in items:
            it = re.sub(
                r"\b(ASC|DESC|NULLS\s+FIRST|NULLS\s+LAST)\b\s*$", "",
                it.strip(), flags=re.IGNORECASE,
            ).strip()
            while it.startswith("(") and it.endswith(")"):
                it = it[1:-1].strip()
            if it.lower() == name.lower():
                return True
    return False


def _subst_const(
    text: str, name: str, expr: str, *, head_safe: bool = False
) -> str:
    """String-literal-aware whole-word substitution of a scalar WITH
    constant (or lambda parameter); advances past each replacement so
    an expr containing the name cannot loop. Qualified references
    (``x.name`` — a field/column of something else) never substitute.
    With ``head_safe=True`` (the WITH-constant sites, round 10),
    qualifier and invocation HEADS are skipped too: ``name.id`` is a
    table-alias reference and ``name(...)`` a function call — a scalar
    constant can be neither, and CH resolves those to the table/
    function. The lambda-param site keeps heads substitutable
    (``p -> p.field`` must become ``(__sl).field``)."""
    pat = rf"(?<![\w.`]){re.escape(name)}\b"
    if head_safe:
        pat += r"(?!\s*[.(])"
    return _sub_code(text, pat, lambda _m: expr)


def _rewrite_with_constants(
    sql: str,
    blocks: dict[str, str] | None = None,
    touched_blocks: list[str] | None = None,
) -> str:
    """ClickHouse's scalar WITH form — ``WITH <expr> AS <name>[, ...]
    SELECT ...`` (expression FIRST, no parentheses after the name) —
    is not ANSI: Spark's WITH only takes CTE subqueries. The rewrite
    substitutes every standalone ``name`` reference with ``(expr)``
    and drops the item from the clause; genuine CTEs (``name AS
    (subquery)``) in the same WITH are left in place. CH's
    ``WITH (scalar subquery) AS name`` variant substitutes the
    parenthesized subquery itself (Spark evaluates it as a scalar
    subquery at each site — same value, the one-row contract is CH's
    own). Runs on the MASKED statement (subqueries are opaque tokens),
    so commas and AS inside them never confuse the split.

    Two CH scoping behaviors the substitution honors (ADVICE r08):

    - constants may reference EARLIER constants (``WITH 60 AS m,
      m * 60 AS h``): the subs map is resolved to a fixed point before
      any substitution, so ``h`` expands to ``((60) * 60)``; a cyclic
      definition is a loud ChSqlError;
    - constants are visible inside CTE bodies and subqueries: names
      found in the masked blocks (``blocks``) are substituted there
      too. A block that re-defines the same identifier (``... AS
      name``) is ambiguous shadowing and a loud ChSqlError, as is a
      scalar-SUBQUERY constant referenced inside a block (the token
      indirection cannot be safely inlined across levels).
    """
    m = _first_match(sql, r"^\s*WITH\b")
    if not m:
        return sql
    # the WITH clause ends at the top-level SELECT
    sel = None
    for s in _top_level_matches(sql, r"\bSELECT\b"):
        if s.start() > m.end():
            sel = s
            break
    if sel is None:
        return sql
    items = _split_top_commas(sql[m.end() : sel.start()])
    kept, subs = [], {}
    for it in items:
        it = it.strip()
        if re.fullmatch(r"\w+\s+AS\s+\(.*\)", it, re.IGNORECASE | re.DOTALL):
            kept.append(it)  # genuine CTE: name AS (subquery)
            continue
        im = re.fullmatch(r"(.+?)\s+AS\s+([A-Za-z_]\w*)", it,
                          re.IGNORECASE | re.DOTALL)
        if not im:
            # an AS whose right side is NOT an identifier (`WITH x AS 1`)
            # is backwards CH grammar — previously parsed as name='1'
            # and the substitution replaced every literal 1 in the
            # statement with (x), silent garbage (round-12 probe)
            if re.fullmatch(r".+?\s+AS\s+\S+", it, re.IGNORECASE | re.DOTALL):
                raise ChSqlError(
                    f"WITH item {it!r}: the name after AS must be an "
                    "identifier — CH's scalar WITH is "
                    "`WITH <expr> AS <name>` (expression FIRST)"
                )
            return sql  # neither form; leave the statement untouched
        expr, name = im.group(1).strip(), im.group(2)
        if expr.startswith("(") and expr.endswith(")"):
            subs[name] = expr  # scalar subquery: substitute verbatim
        else:
            subs[name] = f"({expr})"
    if not subs:
        return sql
    # resolve inter-constant references to a fixed point (CH allows a
    # constant defined in terms of an earlier one); bounded by the map
    # size, so a cycle is detected rather than looped on
    for _ in range(len(subs)):
        changed = False
        for name in subs:
            for other, oexpr in subs.items():
                if other == name:
                    continue
                new = _subst_const(subs[name], other, oexpr, head_safe=True)
                if new != subs[name]:
                    subs[name] = new
                    changed = True
        if not changed:
            break
    for name, expr in subs.items():
        for other in subs:
            # the guarded pattern, matching what substitution touches:
            # a remaining qualified x.other / other(...) is NOT a
            # constant reference and must not read as a cycle
            if _first_match(
                expr, rf"(?<![\w.`]){re.escape(other)}\b(?!\s*[.(])"
            ):
                raise ChSqlError(
                    f"cyclic scalar WITH constants: {name!r} still "
                    f"references {other!r} after fixed-point resolution"
                )
    body = sql[sel.start() :]
    for name, expr in subs.items():
        # An integer-literal constant substituted as a BARE GROUP BY /
        # ORDER BY item would become e.g. ``GROUP BY (2)``, which Spark
        # resolves as a POSITIONAL ordinal (column 2) while ClickHouse
        # resolves the alias to the constant — silent wrong results, so
        # reject loudly (DIALECT_NOTES: positional-arguments).
        if re.fullmatch(r"\(\s*\d+\s*\)", expr) and (
            _ordinal_item_collision(body, name)
            or (blocks and any(
                _ordinal_item_collision(b, name) for b in blocks.values()
            ))
        ):
            raise ChSqlError(
                f"scalar WITH constant {name!r} = {expr} is used as a "
                "bare GROUP BY / ORDER BY item — Spark would read the "
                "substituted integer literal as a positional column "
                "ordinal, ClickHouse resolves the alias to a constant; "
                "remove the item or spell the constant as a "
                "non-integer expression (e.g. 0 + N)"
            )
        if _lambda_param_collision(body, name) or (
            blocks
            and any(_lambda_param_collision(b, name) for b in blocks.values())
        ):
            raise ChSqlError(
                f"scalar WITH constant {name!r} collides with a lambda "
                "parameter of the same name — whole-word substitution "
                "would corrupt the lambda; rename the constant"
            )
        body = _subst_const(body, name, expr, head_safe=True)
    # CH scoping: scalar constants are visible inside CTE bodies and
    # subqueries — substitute into the masked block contents too
    if blocks:
        for name, expr in subs.items():
            for token in list(blocks):
                btext = blocks[token]
                if not _first_match(
                    btext, rf"(?<![\w.`]){re.escape(name)}\b(?!\s*[.(])"
                ):
                    continue
                if re.search(rf"\bAS\s+{re.escape(name)}\b", btext,
                             re.IGNORECASE):
                    raise ChSqlError(
                        f"scalar WITH constant {name!r} is also defined "
                        "as an alias inside a subquery/CTE — ambiguous "
                        "shadowing; rename one of them"
                    )
                if "__CHSQL_SUB_" in expr:
                    raise ChSqlError(
                        f"scalar-subquery WITH constant {name!r} is "
                        "referenced inside a subquery/CTE — not "
                        "bridgeable across nesting levels; inline the "
                        "subquery or hoist the reference"
                    )
                blocks[token] = _subst_const(btext, name, expr, head_safe=True)
                if touched_blocks is not None and token not in touched_blocks:
                    touched_blocks.append(token)
    head = f"WITH {', '.join(kept)} " if kept else ""
    return sql[: m.start()] + head + body


def _rewrite_sequence_next_node(sql: str) -> str:
    """``sequenceNextNode(direction, base)(ts, ev, base_cond, c1...cN)``
    → the event value FOLLOWING a matched condition chain (ClickHouse's
    funnel-path explorer: "after users do A then B, what do they do
    next?").

    Bridged bases (the documented CH forms):
    - ``'forward', 'head'``: the chain must match the group's FIRST
      events — s[0] satisfies base_cond, s[i] satisfies c_{i+1} for
      i < N; returns s[N].ev, NULL if the chain (or base) fails.
    - ``'forward', 'first_match'``: the chain may start anywhere —
      smallest i with s[i] satisfying base_cond AND the run of
      conditions; returns s[i+N].ev (NULL when the chain ends the
      sequence).
    - ``'backward', 'tail'`` / ``'backward', 'last_match'``: the same
      two shapes over the REVERSED sequence (what preceded the chain).

    Events sort by (t, ev) — CH leaves same-timestamp order undefined,
    the bridge pins it (the sequence-aggregate discipline). Condition
    flags evaluate per ROW before collection, so the collected state
    is (t, ev, flags) — the q136 automaton contract; the search is an
    index filter over the sorted array (O(n * N) per group)."""
    return _rewrite_calls(sql, _NEXT_NODE_CALL, _next_node, parametric=True)


_NEXT_NODE_CALL = _call_pattern(("sequenceNextNode",))


def _next_node(m, params: str, args: str | None) -> str:
    args = _second_list(m, args)
    pm = re.fullmatch(r"\s*'(\w+)'\s*,\s*'(\w+)'\s*", params)
    if not pm:
        raise ChSqlError(
            "sequenceNextNode needs two literal parameters: "
            "(direction, base)"
        )
    direction, base = pm.group(1).lower(), pm.group(2).lower()
    if (direction, base) not in (
        ("forward", "head"), ("forward", "first_match"),
        ("backward", "tail"), ("backward", "last_match"),
    ):
        raise ChSqlError(
            "sequenceNextNode is bridged for (forward, head), "
            "(forward, first_match), (backward, tail), "
            "(backward, last_match)"
        )
    if len(args) < 4:
        raise ChSqlError(
            "sequenceNextNode(dir, base)(ts, ev, base_cond, c1, ...)"
            " needs at least one chain condition"
        )
    ts, ev, base_cond = args[0], args[1], args[2]
    conds = args[3:]
    n = len(conds)
    flags = ", ".join(
        f"coalesce(({c}), false)" for c in [base_cond] + conds
    )
    item = (
        f"CASE WHEN ({ts}) IS NOT NULL THEN named_struct("
        f"'t', CAST({ts} AS TIMESTAMP), 'e', CAST({ev} AS STRING), "
        f"'f', array({flags})) END"
    )
    seq = f"array_sort(collect_list({item}))"
    if direction == "backward":
        seq = f"reverse({seq})"
    # chain match at 0-based index i: base flag f[1] on s[i+1
    # (1-based)], cond j on s[i+j]
    conds_at = " AND ".join(
        f"element_at(element_at(s, i + {j}).f, {j + 1})"
        for j in range(1, n + 1)
    )
    ok_at = f"element_at(element_at(s, i + 1).f, 1) AND {conds_at}"
    if base in ("head", "tail"):
        srch = f"filter(array(0), i -> size(s) >= {n} AND {ok_at})"
    else:
        srch = (
            f"CASE WHEN size(s) >= {n} THEN "
            f"filter(sequence(0, size(s) - {n}), i -> {ok_at}) "
            f"ELSE array() END"
        )
    return (
        f"element_at(transform(array({seq}), s -> CASE WHEN "
        f"size({srch}) > 0 AND element_at({srch}, 1) + {n} < size(s) "
        f"THEN element_at(s, element_at({srch}, 1) + {n} + 1).e "
        f"END), 1)"
    )


def _rewrite_weighted_aggs(sql: str) -> str:
    """Weighted/sorted parametric aggregates (round 8):

    - ``quantileExactWeighted(p)(x, w)`` → exact weighted quantile,
      ClickHouse's rule (QuantileExactWeighted): sort values,
      accumulate integer weights, return the FIRST value whose
      cumulative weight reaches ``p * total_weight`` (one IEEE
      multiply for the threshold; the comparison operands are exact
      integers, so the pick is deterministic in any engine).
    - ``topKWeighted(k)(x, w)`` → the k values with the largest total
      weight, weight desc / value asc (DETERMINISTIC — CH's is the
      approximate Filtered Space-Saving sketch, same exact-upgrade
      trade as topK). Returns a sorted value array.
    - ``groupArraySorted(N)(x)`` → the N smallest values ascending
      (CH-exact; slice of the sorted collected list).

    Values/weights snap to DECIMAL(18,4) scaled BIGINTs (weights must
    be non-negative integers in CH — the snap accepts any numeric and
    keeps exactness). Per-group state is the collected pair list (the
    behavioral-aggregate contract)."""
    for pat, rule in _WEIGHTED_AGGS:
        sql = _rewrite_calls(sql, pat, rule, parametric=True)
    return sql


def _quantile_weighted(m, params: str, args: str | None) -> str:
    args = _second_list(m, args)
    try:
        p = float(params)
    except ValueError:
        raise ChSqlError(
            "quantileExactWeighted(p) needs a numeric level"
        ) from None
    if not (0.0 <= p <= 1.0) or len(args) != 2:
        raise ChSqlError(
            "quantileExactWeighted(p)(x, w): level in [0, 1], "
            "two arguments"
        )
    x, wt = args
    pair = (
        f"CASE WHEN ({x}) IS NOT NULL AND ({wt}) IS NOT NULL THEN "
        f"named_struct('v', CAST(CAST({x} AS DECIMAL(18,4)) * 10000 "
        f"AS BIGINT), 'w', CAST({wt} AS BIGINT)) END"
    )
    fold = (
        "aggregate(ps, named_struct('c', CAST(0 AS BIGINT), "
        "'a', CAST(NULL AS BIGINT)), (acc, p) -> named_struct("
        "'c', acc.c + p.w, 'a', CASE WHEN acc.a IS NULL AND "
        "CAST(acc.c + p.w AS DOUBLE) >= thr THEN p.v ELSE acc.a "
        "END)).a"
    )
    return (
        f"(CAST(element_at(transform(array(array_sort("
        f"collect_list({pair}))), ps -> element_at(transform(array("
        f"CAST({p!r} AS DOUBLE) * CAST(aggregate(ps, CAST(0 AS "
        f"BIGINT), (a, p) -> a + p.w) AS DOUBLE)), thr -> {fold}), "
        f"1)), 1) AS DOUBLE) / 10000.0)"
    )


def _topk_weighted(m, params: str, args: str | None) -> str:
    args = _second_list(m, args)
    if not params.strip().isdigit() or len(args) != 2:
        raise ChSqlError("topKWeighted(k)(x, w): integer k, two args")
    k = int(params)
    x, wt = args
    pair = (
        f"CASE WHEN ({x}) IS NOT NULL AND ({wt}) IS NOT NULL THEN "
        f"named_struct('v', ({x}), "
        f"'w', CAST({wt} AS BIGINT)) END"
    )
    tw = "aggregate(filter(ps, q -> q.v = u), CAST(0 AS BIGINT), (a, q) -> a + q.w)"
    return (
        f"element_at(transform(array(collect_list({pair})), ps -> "
        f"transform(slice(array_sort(transform(array_distinct("
        f"transform(ps, p -> p.v)), u -> named_struct("
        f"'nw', -{tw}, 'v', u))), 1, {k}), s -> s.v)), 1)"
    )


def _insert_at(m, params: str, args: str | None) -> str:
    args = _second_list(m, args)
    pa = _split_top_commas(params)
    if len(pa) != 2 or not pa[1].strip().isdigit() or len(args) != 2:
        raise ChSqlError(
            "groupArrayInsertAt is bridged as "
            "groupArrayInsertAt(default, size)(x, pos): literal "
            "default, integer size, two arguments"
        )
    dflt, size = pa[0].strip(), int(pa[1])
    x, pos = args
    # CH keeps an ARBITRARY value on position collisions — the
    # bridge keeps the MINIMUM (deterministic, documented); 0-based
    # positions, out-of-range positions are dropped (CH errors)
    pair = (
        f"CASE WHEN ({x}) IS NOT NULL AND ({pos}) IS NOT NULL AND "
        f"({pos}) >= 0 AND ({pos}) < {size} THEN named_struct("
        f"'p', CAST({pos} AS INT), 'x', ({x})) END"
    )
    return (
        f"element_at(transform(array(collect_list({pair})), ps -> "
        f"transform(sequence(0, {size - 1}), i -> coalesce("
        f"array_min(transform(filter(ps, q -> q.p = i), "
        f"q -> q.x)), {dflt}))), 1)"
    )


def _array_sorted(m, params: str, args: str | None) -> str:
    args = _second_list(m, args)
    if not params.strip().isdigit() or len(args) != 1:
        raise ChSqlError("groupArraySorted(N)(x): integer N, one arg")
    return (
        f"slice(array_sort(collect_list({args[0]})), 1, "
        f"{int(params)})"
    )


_WEIGHTED_AGGS = (
    (_call_pattern(("quantileExactWeighted",)), _quantile_weighted),
    (_call_pattern(("topKWeighted",)), _topk_weighted),
    (_call_pattern(("groupArrayInsertAt",)), _insert_at),
    (_call_pattern(("groupArraySorted",)), _array_sorted),
)


def _rewrite_assoc_aggs(sql: str) -> str:
    """kolmogorovSmirnovTest / cramersV / theilsU / contingency →
    collect-fold aggregate expressions (see _ks_expr / _assoc_expr)."""

    def assoc(m, args: str) -> str:
        fam, args = _ASSOC_AGGS[m.group(1).lower()], _split_top_commas(args)
        if len(args) != 2:
            raise ChSqlError(f"{fam} expects 2 arguments")
        if fam == "kolmogorovSmirnovTest":
            return _ks_expr(args[0], args[1])
        return _assoc_expr(fam, args[0], args[1])

    return _rewrite_calls(sql, _ASSOC_AGG_CALL, assoc)


_ASSOC_AGGS = {
    n.lower(): n
    for n in ("kolmogorovSmirnovTest", "cramersV", "theilsU", "contingency")
}
_ASSOC_AGG_CALL = _call_pattern(_ASSOC_AGGS)


def _rewrite_interval_aggs(sql: str) -> str:
    """Interval aggregates (round 8), all over HALF-OPEN [s, e)
    integer intervals (the bridge casts both bounds to BIGINT; CH also
    accepts floats — pass scaled integers, documented contract):

    - ``intervalLengthSum(s, e)`` → length of the UNION of the group's
      intervals: sort by (s, e), sweep with a running cover-end,
      add max(0, e - max(s, cover)). Exact BIGINT algebra.
    - ``maxIntersections(s, e)`` → the maximum number of simultaneously
      open intervals: ±1 events sorted by (x, delta) — an end (-1)
      sorts BEFORE a start (+1) at the same coordinate, so touching
      intervals do NOT intersect (the half-open reading; CH's closed
      reading of ends is a documented divergence).
    - ``maxIntersectionsPosition(s, e)`` → the coordinate where that
      maximum is FIRST reached (the left edge of the densest stretch).

    The fold orders are total (struct sort on (x, delta) / (s, e)), so
    the result is partitioning-independent; the oracle replays the
    sweep RELATIONALLY (UNION ALL events + running-sum window) — two
    computation paths, one exact integer answer. Per-group state is
    the collected interval list (the behavioral-aggregate contract).
    Degenerate/empty groups: 0 for the sums, NULL position."""
    return _rewrite_calls(sql, _INTERVAL_AGG_CALL, _interval_agg)


_INTERVAL_AGG_CALL = _call_pattern(
    ("intervalLengthSum", "maxIntersectionsPosition", "maxIntersections")
)


def _interval_agg(m, args: str) -> str:
    fam, args = m.group(1), _split_top_commas(args)
    if len(args) != 2:
        raise ChSqlError(f"{fam} expects (start, end)")
    s, e = args
    if fam.lower() == "intervallengthsum":
        pair = (
            f"CASE WHEN ({s}) IS NOT NULL AND ({e}) IS NOT NULL THEN "
            f"named_struct('s', CAST({s} AS BIGINT), "
            f"'e', CAST({e} AS BIGINT)) END"
        )
        return (
            f"aggregate(array_sort(collect_list({pair})), "
            f"named_struct('c', CAST(-9223372036854775808 AS "
            f"BIGINT), 't', CAST(0 AS BIGINT)), (a, iv) -> "
            f"named_struct('c', greatest(a.c, iv.e), 't', a.t + "
            f"greatest(CAST(0 AS BIGINT), iv.e - greatest(iv.s, "
            f"a.c)))).t"
        )
    ev = (
        f"array_sort(flatten(collect_list(CASE WHEN ({s}) IS "
        f"NOT NULL AND ({e}) IS NOT NULL THEN array("
        f"named_struct('x', CAST({s} AS BIGINT), 'd', "
        f"CAST(1 AS BIGINT)), named_struct('x', "
        f"CAST({e} AS BIGINT), 'd', CAST(-1 AS BIGINT))) END)))"
    )
    if fam.lower() == "maxintersections":
        return (
            f"aggregate({ev}, named_struct('c', CAST(0 AS "
            f"BIGINT), 'b', CAST(0 AS BIGINT)), (a, p) -> "
            f"named_struct('c', a.c + p.d, 'b', "
            f"greatest(a.b, a.c + p.d))).b"
        )
    return (
        f"aggregate({ev}, named_struct('c', CAST(0 AS "
        f"BIGINT), 'b', CAST(0 AS BIGINT), 'p', "
        f"CAST(NULL AS BIGINT)), (a, p) -> named_struct("
        f"'c', a.c + p.d, 'b', greatest(a.b, a.c + p.d), "
        f"'p', CASE WHEN p.d = 1 AND a.c + p.d > a.b "
        f"THEN p.x ELSE a.p END)).p"
    )


def _rewrite_delta_ema(sql: str) -> str:
    """Counter/time-series aggregates (round 8):

    - ``deltaSum(x, k)`` / ``deltaSumTimestamp(x, t)`` → sum of the
      POSITIVE consecutive differences of ``x`` in ``k``/``t`` order.
      ClickHouse's 1-argument ``deltaSum`` folds in non-deterministic
      block order, so the bridge REQUIRES the explicit intra-group sort
      key (the groupArrayMovingSum discipline); deltaSumTimestamp's
      second argument IS that key by definition. Exact: DECIMAL(18,4)
      snap, scaled-BIGINT differences, ties broken by the value
      (array_sort struct order — deterministic, documented).
    - ``exponentialMovingAverage(hl)(v, t)`` → the time-decayed
      weighted mean CH documents: sum(v_i * 2^((t_i - t_max)/hl)) /
      sum(2^((t_i - t_max)/hl)), t in seconds, half-life ``hl``.
      2^x is libm (not cross-engine bit-stable) and the sums are
      order-sensitive in the last ulps, so the OUTPUT snaps to
      DECIMAL(18,6) — the entropy device; combined relative error
      ~1e-15 against a 1e-6 grid. Centering on the group max keeps
      every weight in (0, 1] (no overflow at epoch scale); ancient
      points underflow to weight 0, which is semantically right.
    - ``nonNegativeDerivative(x, t) OVER (...)`` → per-second rate
      clamped at zero: (x - lag(x)) / (t - lag(t)) over the SAME window
      spec, negative rates to 0, first row / zero dt to NULL (CH's
      window-function form; ``t`` must be numeric seconds — pass
      ``toUnixTimestamp(ts)``; the INTERVAL third argument is not
      bridged and raises via arity).
    """
    sql = _rewrite_calls(sql, _DELTA_SUM_CALL, _delta_sum)
    sql = _rewrite_calls(sql, _EMA_CALL, _ema, parametric=True)
    return _rewrite_calls(sql, _DERIVATIVE_CALL, _derivative, span=True)


_DELTA_SUM_CALL = _call_pattern(("deltaSumTimestamp", "deltaSum"))
_EMA_CALL = _call_pattern(("exponentialMovingAverage",))
_DERIVATIVE_CALL = _call_pattern(("nonNegativeDerivative",))
_OVER_LIST = re.compile(r"\s*OVER\s*\(", re.IGNORECASE)


def _delta_sum(m, args: str) -> str:
    fam, args = m.group(1), _split_top_commas(args)
    if len(args) != 2:
        raise ChSqlError(
            f"{fam} is bridged with an EXPLICIT sort key: "
            f"{fam}(x, order_col). ClickHouse's 1-argument "
            "deltaSum folds in block order, which is "
            "non-deterministic — pass the ordering column"
        )
    x, k = args
    lst = (
        f"transform(array_sort(collect_list(CASE WHEN ({x}) IS NOT "
        f"NULL AND ({k}) IS NOT NULL THEN named_struct('o', {k}, "
        f"'v', CAST(CAST({x} AS DECIMAL(18,4)) * 10000 AS BIGINT)) "
        f"END)), s -> s.v)"
    )
    fold = (
        f"aggregate({lst}, named_struct('p', CAST(NULL AS BIGINT), "
        f"'d', CAST(0 AS BIGINT)), (acc, v) -> named_struct('p', v, "
        f"'d', acc.d + CASE WHEN acc.p IS NOT NULL AND v > acc.p "
        f"THEN v - acc.p ELSE CAST(0 AS BIGINT) END)).d"
    )
    return f"(CAST({fold} AS DOUBLE) / 10000.0)"


def _ema(m, params: str, args: str | None) -> str:
    args = _second_list(m, args)
    try:
        hl = float(params)
    except ValueError:
        raise ChSqlError(
            "exponentialMovingAverage(halflife) needs a numeric "
            "half-life parameter"
        ) from None
    if hl <= 0 or len(args) != 2:
        raise ChSqlError(
            "exponentialMovingAverage(hl)(value, time_seconds): "
            "positive half-life, two arguments"
        )
    v, t = args
    ps = (
        f"collect_list(CASE WHEN ({v}) IS NOT NULL AND ({t}) IS NOT "
        f"NULL THEN named_struct('t', CAST({t} AS DOUBLE), "
        f"'v', CAST({v} AS DOUBLE)) END)"
    )
    wgt = f"power(CAST(2.0 AS DOUBLE), (p.t - tmax) / CAST({hl!r} AS DOUBLE))"
    body = (
        f"CAST(aggregate(ps, CAST(0.0 AS DOUBLE), (a, p) -> "
        f"a + p.v * {wgt}) / aggregate(ps, CAST(0.0 AS DOUBLE), "
        f"(a, p) -> a + {wgt}) AS DECIMAL(18,6))"
    )
    return (
        f"element_at(transform(array({ps}), ps -> element_at("
        f"transform(array(array_max(transform(ps, q -> q.t))), "
        f"tmax -> {body}), 1)), 1)"
    )


def _derivative(m, args: str, end: int) -> tuple[str, int]:
    args = _split_top_commas(args)
    if len(args) != 2:
        raise ChSqlError(
            "nonNegativeDerivative is bridged as "
            "nonNegativeDerivative(x, t_seconds) OVER (...); the "
            "INTERVAL unit argument is not supported — scale t"
        )
    mo = _OVER_LIST.match(m.string, end)
    if not mo:
        raise ChSqlError(
            "nonNegativeDerivative is a WINDOW function — it needs "
            "an inline OVER (...) clause (named windows not bridged)"
        )
    w_close = _match_paren(m.string, mo.end() - 1)
    over = m.string[mo.end() - 1 : w_close + 1]
    x, t = args
    num = f"(CAST({x} AS DOUBLE) - lag(CAST({x} AS DOUBLE)) OVER {over})"
    den = f"(CAST({t} AS DOUBLE) - lag(CAST({t} AS DOUBLE)) OVER {over})"
    return (
        f"(CASE WHEN {num} IS NULL OR {den} IS NULL OR {den} = 0.0 "
        f"THEN CAST(NULL AS DOUBLE) WHEN {num} / {den} < 0.0 "
        f"THEN 0.0 ELSE {num} / {den} END)"
    ), w_close + 1


# ---------------------------------------------------------------------------
# statistical aggregates (round 8): avgWeighted / skew / kurt / covar /
# boundingRatio / entropy / studentTTest / welchTTest / mannWhitneyUTest
# ---------------------------------------------------------------------------
_INT128_SPARK = "DECIMAL(38,0)"


def snap4_sql(e: str, dialect: str = "spark") -> str:
    """The scale-4 snap v = round(e * 1e4), HALF_UP (ties away from
    zero), as a scaled BIGINT — spelled in pure double/integer
    arithmetic: sign/abs/multiply/floor are single correctly-rounded
    IEEE ops, so EVERY engine produces the same integer for the same
    double input. Round 11 (VERDICT r10 #1): this replaces the
    ``CAST(e AS DECIMAL(18,4))`` spelling, whose Spark implementation
    stringifies per row (Decimal <- BigDecimal <- Double.toString —
    2.87 s of the 2.8 s 10M-row moment scan, recorded in
    SURVEY.md) and whose cross-engine identity depended
    on two decimal implementations agreeing — which they did NOT on
    representable ties: DuckDB's double->DECIMAL cast rounds
    half-EVEN, so the q/32 family (0.03125 -> scaled 312.5) diverged
    from Spark's string-HALF_UP on ~half the tie grid (probed 981/2000;
    never hit by on-grid data). The floor spelling is bit-identical
    between Spark and DuckDB on every probed input, on-grid or not.

    vs the old SPARK spelling: identical on all on-grid values (any
    double that is the nearest double to a 4-dp decimal) and on
    representable ties; diverges only where the shortest-decimal
    string of an off-grid double sits on the other side of a .5
    boundary than its exact binary value (probe example: 0.00015,
    whose double is 1.49999...e-4 — old snapped 2 via the string, new
    snaps 1 via the value). Property-pinned in
    tests/test_stats_operators.py::TestSnap4.

    Out-of-domain loudness (|e| beyond BIGINT/1e4): ANSI raises on the
    BIGINT cast (the old spelling raised on the DECIMAL overflow);
    non-ANSI Spark clamps where the old spelling nulled — both lanes'
    callers carry their own domain audits (limb audit / DECIMAL(38)
    sums), and ``operators/stats`` guards explicitly.

    NaN (ADVICE r11): in non-ANSI Spark this spelling snaps NaN to 0
    (sign/floor of NaN cast to BIGINT are 0) while the oracle spelling
    raises (DuckDB errors casting NaN to BIGINT) and ClickHouse
    propagates NaN — so NaN is OUT of this helper's domain and the
    helper itself stays silent by design (a per-snap CASE would bloat
    the composable statement whose ANALYSIS cost is the q164 floor).
    Callers own the loudness: ``_limb_moment_sums`` and
    ``_limb_covar_sums`` fold an isnan sentinel into their audit vmax
    carriers, and ``operators/stats._snap4`` raises in-plan.

    Oracle dialects spell the SAME function as the engine-native
    ``round(e * 1e4)`` (DuckDB round = std::round, half away from zero
    on the double VALUE): for |e * 1e4| < 2^52 the 0.5 add in the
    floor spelling is exact, so floor(|y| + 0.5) * sign == round(y)
    on every double (probed 0/12008 divergent incl. dense near-tie
    adversaries) — and the one-pass native form keeps the oracle at
    its decimal-cast speed (Spark's round() goes through BigDecimal
    per row, which is the very cost this helper removes, hence the
    split). Above 2^52 the spellings can part ways on the synthetic
    .5 add — far outside every caller's audited domain (|x| <= 3e5,
    scaled 3e9).

    The inner CAST(e AS DOUBLE) is load-bearing for integer-typed
    arguments (avgWeighted's weight, boundingRatio's x): the literal
    10000.0 parses as DECIMAL(6,1) in BOTH engines, so a BIGINT
    operand would otherwise promote the whole snap into decimal
    arithmetic — measured 20x slower in DuckDB (0.325 s vs 0.018 s
    per 10M rows) and the exact per-row decimal cost this helper
    exists to remove in Spark. Exact below 2^53, i.e. the whole
    snap domain."""
    d = f"CAST({e} AS DOUBLE)"
    if dialect != "spark":
        return f"CAST(round({d} * 10000.0) AS BIGINT)"
    return (
        f"(CAST(sign({d}) AS BIGINT) * "
        f"CAST(floor(abs({d}) * 10000.0 + 0.5) AS BIGINT))"
    )


def _sv128(e: str, int128: str, dialect: str = "spark") -> str:
    """Scale-4-snapped value (``snap4_sql``) as a scaled 128-bit
    integer (the dsum4 device widened so 4th-power moment terms stay
    exact: Spark spells the 128-bit lane DECIMAL(38,0), DuckDB HUGEINT
    — both exact to 1e38, so sums/products over |x| <= ~3e5 never
    round)."""
    return f"CAST({snap4_sql(e, dialect)} AS {int128})"


def _struct2(dialect: str, f1: str, v1: str, f2: str, v2: str) -> str:
    if dialect == "spark":
        return f"named_struct('{f1}', {v1}, '{f2}', {v2})"
    return f"struct_pack({f1} := {v1}, {f2} := {v2})"


def _struct3(dialect: str, fields: list[tuple[str, str]]) -> str:
    if dialect == "spark":
        inner = ", ".join(f"'{f}', {v}" for f, v in fields)
        return f"named_struct({inner})"
    inner = ", ".join(f"{f} := {v}" for f, v in fields)
    return f"struct_pack({inner})"


def _dbl128(e: str, dialect: str) -> str:
    """Correctly rounded 128-bit-integer -> DOUBLE. Spark's
    DECIMAL(38,0) cast goes through BigDecimal.doubleValue (correctly
    rounded; verified on 8k adversarial 70-bit values), but DuckDB's
    HUGEINT cast is a two-limb add that DOUBLE-ROUNDS above 2^53
    (61/8000 adversarial values off by 1 ulp) — its VARCHAR round-trip
    (strtod) is correctly rounded, so the duck dialect spells that.
    Counts stay plain casts (exact below 2^53 in any engine)."""
    if dialect == "spark":
        return f"CAST({e} AS DOUBLE)"
    return f"CAST(CAST({e} AS VARCHAR) AS DOUBLE)"


def _moment_tails(x: str, int128: str, dialect: str) -> dict[str, str]:
    """The population/sample moment expression family from exact scaled
    sums. Every division/multiplication/sqrt below is a correctly
    rounded IEEE op over identical inputs, so an oracle emitting the
    SAME text (with its own int128/cast spelling) is bit-identical — no
    decimal snap needed on the outputs (unlike the log-domain entropy,
    where libm log2 differs across engines ulp-wise)."""
    v = _sv128(x, int128, dialect)
    return moment_tails_from_sums(
        f"count({x})", f"sum({v})", f"sum({v} * {v})",
        f"sum({v} * {v} * {v})", f"sum({v} * {v} * {v} * {v})",
        dialect,
    )


def moment_tails_from_sums(
    n: str, s1: str, s2: str, s3: str, s4: str, dialect: str = "spark"
) -> dict[str, str]:
    """The skew/kurt IEEE tails parameterized over ALREADY-AGGREGATED
    exact scaled moment sums (DECIMAL(38,0)/int128 expressions) — the
    shared emitter behind ``_moment_tails`` (the bridge's inline form),
    the generated oracles, AND ``operators/stats.moments``'s limb-split
    lever (round 9): any producer of the same exact S1..S4 integers
    plugs into the same expression tree and is bit-identical."""
    nd = f"CAST({n} AS DOUBLE)"
    mu = f"({_dbl128(s1, dialect)} / {nd})"
    r2 = f"({_dbl128(s2, dialect)} / {nd})"
    r3 = f"({_dbl128(s3, dialect)} / {nd})"
    r4 = f"({_dbl128(s4, dialect)} / {nd})"
    m2 = f"({r2} - {mu} * {mu})"
    m3 = f"({r3} - 3.0 * {mu} * {r2} + 2.0 * {mu} * {mu} * {mu})"
    m4 = (
        f"({r4} - 4.0 * {mu} * {r3} + 6.0 * {mu} * {mu} * {r2}"
        f" - 3.0 * {mu} * {mu} * {mu} * {mu})"
    )
    vs = f"({m2} * ({nd} / nullif({nd} - 1.0, 0.0)))"
    # nullif guards: a constant group (m2 = 0) or n = 1 yields NULL, not
    # an ANSI divide-by-zero (documented divergence from CH's nan)
    return {
        "skewPop": f"({m3} / nullif({m2} * sqrt({m2}), 0.0))",
        "skewSamp": f"({m3} / nullif({vs} * sqrt({vs}), 0.0))",
        "kurtPop": f"({m4} / nullif({m2} * {m2}, 0.0))",
        "kurtSamp": f"({m4} / nullif({vs} * {vs}, 0.0))",
    }


# ---------------------------------------------------------------------------
# limb-split BIGINT moment lane (round 10): the bridge spelling of
# ``operators/stats.moments(method="limb")`` — ten pure-int64 base-2^30
# digit sums per group instead of per-row boxed-BigDecimal products,
# recombined once per group into the SAME exact DECIMAL(38,0) moment
# sums the decimal lane produces (so every tail is bit-identical).
# Canonical constants live here; ``operators/stats`` imports them.
# ---------------------------------------------------------------------------
#: limb base 2^30: digits stay below 2^30, so per-group BIGINT digit
#: sums hold ~2^33 rows before the recombination audit trips
LIMB_W = 1 << 30

#: per-row domain of the limb lane: |v| <= 1.8e9 (|x| <= 1.8e5 after the
#: 1e4 snap) keeps every intermediate product — v*v (3.24e18), A*A
#: (9.1e18), 2*A*B (6.5e18), v*A (5.4e18), v*B (1.9e18), B*B (2^60) —
#: inside int64. The DECIMAL lane's documented domain is |x| <= 3e5;
#: values between the two bounds must use the decimal lane.
LIMB_VMAX = 1_800_000_000

#: Spark-side lane for the moment-dense bridge aggregates
#: (skew*/kurt*/covar*): "limb" (default — pure-BIGINT digit sums in
#: whole-stage codegen, domain |x| <= 1.8e5) or "decimal" (boxed
#: DECIMAL(38,0) products, domain |x| <= 3e5, ~3x slower per row)
_STATS_LANE = "limb"


def set_stats_lane(lane: str) -> str:
    """Select the Spark-side spelling the dialect bridge emits for
    skewPop/skewSamp/kurtPop/kurtSamp/covarPop/covarSamp: ``"limb"``
    (default) or ``"decimal"`` (the fallback for data outside the limb
    domain — the limb lane's in-plan audit names this switch when it
    rejects). Oracle dialects always use the int128 spelling. Returns
    the previous lane so callers can restore it."""
    global _STATS_LANE
    if lane not in ("limb", "decimal"):
        raise ChSqlError(f"unknown stats lane {lane!r}: limb or decimal")
    prev, _STATS_LANE = _STATS_LANE, lane
    return prev


def limb_audit_sql(n: str = "n", vmax: str = "vmax") -> str:
    """SQL predicate deciding whether a group's (count, max|v|) pair is
    OUTSIDE the limb lane's non-ANSI safety envelope. Per-row
    worst-case magnitude of each of the ten digit sums: |v| (z1),
    v^2/W (z2a = a), v^3/W^2 (z3c = d2, the cubic TOP digit), v^4/W^3
    (z4d = e3, the quartic TOP digit — at the domain edge ~2.8x larger
    than a, the BINDING term), and W (every low digit). The top-digit
    terms must appear explicitly: with only max(v, v^2/W, W) there is
    a window (n ~ 1.1-1.5e9 at |v| = 1.8e9) where sum(e3) wraps int64
    BEFORE the audit trips in a non-ANSI session (regression-pinned in
    tests/test_stats_operators.py::test_limb_audit_covers_top_digits).
    The 4.6e18 threshold keeps a 2x margin under 2^63 - 1."""
    vd = f"CAST({vmax} AS DOUBLE)"
    w = float(LIMB_W)
    return (
        f"({vmax} > {LIMB_VMAX}L OR "
        f"CAST({n} AS DOUBLE) * greatest("
        f"{vd}, "
        f"{vd} * {vd} / {w}, "
        f"{vd} * {vd} * {vd} / {w ** 2}, "
        f"{vd} * {vd} * {vd} * {vd} / {w ** 3}, "
        f"{w}) >= 4.6e18)"
    )


def _limb_raise(context: str) -> str:
    """The loud in-plan reject shared by the limb spellings (never a
    silent wrap): names the decimal-lane escape hatch."""
    return (
        f"CAST(raise_error('{context}: a group exceeds the BIGINT "
        f"limb-lane domain (|x| <= 1.8e5 and audited row count) — "
        f"chsql.set_stats_lane(''decimal'') selects the DECIMAL(38) "
        f"lane, domain |x| <= 3e5') AS DECIMAL(38,0))"
    )


def _limb_moment_sums(x: str) -> dict[str, str]:
    """Aggregate-expression texts (n, s1..s4) of the exact scaled
    moment sums of ``x`` in the limb spelling — the inline-bridge twin
    of ``operators/stats.moments(method="limb")`` (same digit algebra,
    same audit): v^2 = a*W + b, v^3 = d2*W^2 + d1*W + d0,
    v^4 = e3*W^3 + e2*W^2 + e1*W + e0 — all per-row int64 ops inside
    whole-stage codegen; the group aggregates are ten BIGINT sums
    (plus count and max|v| for the audit), Horner-recombined once per
    group into DECIMAL(38,0). W = 2^30, so digit/carry pairs spell as
    ``& (W-1)`` / ``shiftright(.., 30)`` — for two's-complement
    BIGINT these are exactly the nonnegative remainder and FLOOR
    division the signed digits need (same integers as the operator's
    pmod/floor-div spelling), and they keep the inline expression text
    half the size of the pmod form (the string-rewrite passes that
    follow scan the full statement, so emitted-text size is itself a
    cost). Catalyst deduplicates semantically-equal aggregate
    children, so the repeated digit sums across skew/kurt family
    members collapse to one physical aggregation each. s2 carries the
    audit guard: every family tail consumes s2 (m2 and the
    higher-moment corrections all reference r2), so ONE guard makes
    any out-of-domain group loud — and s2 is the cheapest carrier
    (the tails interpolate s1 ~11 times per member vs s2 ~3, and the
    guard text repeats with its host)."""
    W = LIMB_W
    M = W - 1
    D = "DECIMAL(38,0)"
    v = snap4_sql(x)
    a = f"shiftright({v} * {v}, 30)"
    b = f"(({v} * {v}) & {M})"
    d0 = f"(({v} * {b}) & {M})"
    t1 = f"({v} * {a} + shiftright({v} * {b}, 30))"
    d1 = f"({t1} & {M})"
    d2 = f"shiftright({t1[1:-1]}, 30)"
    bb = f"({b} * {b})"
    e0 = f"({bb} & {M})"
    u1 = f"(2 * {a} * {b} + shiftright({bb}, 30))"
    e1 = f"({u1} & {M})"
    u2 = f"({a} * {a} + shiftright({u1}, 30))"
    e2 = f"({u2} & {M})"
    e3 = f"shiftright({u2}, 30)"
    n = f"count({x})"
    # NaN folds into the audit's vmax carrier (ADVICE r11): the
    # non-ANSI snap turns NaN into 0 (sign/floor of NaN cast to
    # BIGINT), so max(abs(v)) alone never sees it — a NaN row would
    # silently contribute (count=1, value=0) where ClickHouse
    # propagates NaN and the DuckDB oracle raises on the BIGINT cast.
    # The sentinel (> LIMB_VMAX) trips the existing loud reject.
    vmax = (
        f"max(CASE WHEN isnan(CAST({x} AS DOUBLE)) "
        f"THEN {LIMB_VMAX + 1}L ELSE abs({v}) END)"
    )
    audit = limb_audit_sql(n, vmax)
    wd = f"CAST({W} AS {D})"
    s1 = f"CAST(sum({v}) AS {D})"
    s2 = (
        f"(CASE WHEN {audit} THEN {_limb_raise('stats bridge limb lane')} "
        f"ELSE (CAST(sum({a}) AS {D}) * {wd} + sum({b})) END)"
    )
    s3 = (
        f"((CAST(sum({d2}) AS {D}) * {wd} + sum({d1})) * {wd} + sum({d0}))"
    )
    s4 = (
        f"(((CAST(sum({e3}) AS {D}) * {wd} + sum({e2})) * {wd} "
        f"+ sum({e1})) * {wd} + sum({e0}))"
    )
    return {"n": n, "s1": s1, "s2": s2, "s3": s3, "s4": s4}


def _limb_covar_sums(x: str, y: str) -> dict[str, str]:
    """Aggregate-expression texts (n, sx, sy, sxy) for the covariance
    family in the limb spelling: the cross product x*y (|p| <= 8e18
    audited) splits into two base-2^30 digits per row (pmod/floor-div —
    p is signed), sx/sy stay plain BIGINT sums (audited against
    n * max|v|), and sxy recombines once per group. Same exact integers
    as the DECIMAL(38,0) lane -> the shared IEEE covar tail is
    bit-identical."""
    W = LIMB_W
    D = "DECIMAL(38,0)"
    guard = f"(({x}) IS NOT NULL AND ({y}) IS NOT NULL)"
    xb = snap4_sql(f"CASE WHEN {guard} THEN ({x}) END")
    yb = snap4_sql(f"CASE WHEN {guard} THEN ({y}) END")
    p = f"({xb} * {yb})"
    pb = f"({p} & {W - 1})"
    pa = f"shiftright({p}, 30)"
    n = f"count(CASE WHEN {guard} THEN 1 END)"
    # NaN in either coordinate folds into the vmax carriers (same
    # device as _limb_moment_sums — the non-ANSI snap silently turns
    # NaN into 0, so abs(xb) alone never sees it); the sentinel trips
    # the product-bound arm of the audit below.
    nanx = f"isnan(CAST({x} AS DOUBLE))"
    nany = f"isnan(CAST({y} AS DOUBLE))"
    vx = (
        f"CAST(max(CASE WHEN {guard} AND ({nanx} OR {nany}) "
        f"THEN 9.0e18 ELSE abs({xb}) END) AS DOUBLE)"
    )
    vy = (
        f"CAST(max(CASE WHEN {guard} AND ({nanx} OR {nany}) "
        f"THEN 9.0e18 ELSE abs({yb}) END) AS DOUBLE)"
    )
    w = float(W)
    # per-row product bound (8e18 < 2^63 - 1 with double-rounding
    # margin) plus the digit-sum envelope, all in DOUBLE (bounds only)
    audit = (
        f"({vx} * {vy} > 8.0e18 OR CAST({n} AS DOUBLE) * greatest("
        f"{vx}, {vy}, {vx} * {vy} / {w}, {w}) >= 4.6e18)"
    )
    wd = f"CAST({W} AS {D})"
    sxy = (
        f"(CASE WHEN {audit} THEN {_limb_raise('covar bridge limb lane')} "
        f"ELSE (CAST(sum({pa}) AS {D}) * {wd} + sum({pb})) END)"
    )
    return {"n": n, "sx": f"sum({xb})", "sy": f"sum({yb})", "sxy": sxy}


def _covar_tail(fam: str, nd: str, sx: str, sy: str, sxy: str) -> str:
    """The covarPop/covarSamp IEEE tail over already-rounded DOUBLE
    sums — one emitter for both lanes and the oracle spelling, so any
    producer of the same exact integers is bit-identical."""
    if fam == "covarPop":
        return (
            f"((({sxy} / nullif({nd}, 0.0)) - ({sx} / nullif({nd}, 0.0))"
            f" * ({sy} / nullif({nd}, 0.0))) / 100000000.0)"
        )
    return (
        f"((({sxy} - {sx} * {sy} / nullif({nd}, 0.0)) / "
        f"nullif({nd} - 1.0, 0.0)) / 100000000.0)"
    )


def _ttest_expr(fam: str, x: str, g: str, int128: str, dialect: str) -> str:
    """studentTTest / welchTTest (x, sample_index) from exact per-sample
    moment sums. ClickHouse returns a (t, p) tuple; the p-value needs
    the regularized incomplete beta, which neither Spark nor DuckDB
    exposes — the bridge returns named fields (t_stat, df) instead,
    from which any client can look up p (documented divergence; the
    q161 named-fields rule)."""
    parts = {}
    for k in (0, 1):
        guard = f"(({g}) = {k} AND ({x}) IS NOT NULL)"
        xv = f"CASE WHEN {guard} THEN ({x}) END"
        v = _sv128(xv, int128, dialect)
        nk = f"count(CASE WHEN {guard} THEN 1 END)"
        s1 = f"sum({v})"
        s2 = f"sum({v} * {v})"
        nd = f"CAST({nk} AS DOUBLE)"
        mu = f"({_dbl128(s1, dialect)} / {nd})"
        ssc = (
            f"({_dbl128(s2, dialect)} - {_dbl128(s1, dialect)} * "
            f"{_dbl128(s1, dialect)} / {nd})"
        )
        parts[k] = (nd, mu, ssc)
    nd0, mu0, ssc0 = parts[0]
    nd1, mu1, ssc1 = parts[1]
    ok = f"({nd0} >= 2.0 AND {nd1} >= 2.0)"
    if fam == "studentTTest":
        sp2 = f"(({ssc0} + {ssc1}) / nullif({nd0} + {nd1} - 2.0, 0.0))"
        t = (
            f"(({mu0} - {mu1}) / "
            f"nullif(sqrt({sp2} * (1.0 / {nd0} + 1.0 / {nd1})), 0.0))"
        )
        df = f"({nd0} + {nd1} - 2.0)"
    else:
        q0 = f"(({ssc0} / nullif({nd0} - 1.0, 0.0)) / {nd0})"
        q1 = f"(({ssc1} / nullif({nd1} - 1.0, 0.0)) / {nd1})"
        t = f"(({mu0} - {mu1}) / nullif(sqrt({q0} + {q1}), 0.0))"
        df = (
            f"((({q0} + {q1}) * ({q0} + {q1})) / "
            f"nullif({q0} * {q0} / nullif({nd0} - 1.0, 0.0) + "
            f"{q1} * {q1} / nullif({nd1} - 1.0, 0.0), 0.0))"
        )
    # a sample with < 2 rows has no variance estimate: NULL, not an
    # ANSI divide-by-zero (CH raises; documented divergence)
    t = f"(CASE WHEN {ok} THEN {t} END)"
    df = f"(CASE WHEN {ok} THEN {df} END)"
    return _struct2(dialect, "t_stat", t, "df", df)


def mw_tail(r0: str, n0: str, n1: str, n: str, tsum: str, dialect: str = "spark") -> str:
    """The Mann-Whitney tail over exact inputs: rank-sum ``r0`` (exact
    halves), sample sizes, and the tie term ``tsum`` = sum(t^3 - t) over
    tied groups (exact integer). u0/u1 are the two U statistics; z the
    tie-corrected normal approximation (no continuity correction —
    documented contract; CH returns (u, p), same p-value divergence as
    the t-tests). Exposed so q165's oracle can compute the inputs
    RELATIONALLY (window ranks — DuckDB's list_reduce has the q162
    row-varying-slice vectorization bug, so no list folds in oracles)
    and still share this exact IEEE tail text."""
    ok = f"(({n0}) >= 1.0 AND ({n1}) >= 1.0 AND ({n}) >= 2.0)"
    u0 = f"(CASE WHEN {ok} THEN ({r0}) - ({n0}) * (({n0}) + 1.0) / 2.0 END)"
    u1 = f"(CASE WHEN {ok} THEN ({n0}) * ({n1}) - {u0} END)"
    # all-tied values zero the variance bracket: NULL z, not an ANSI
    # divide-by-zero (CH raises on degenerate samples; documented)
    z = (
        f"(({u0} - ({n0}) * ({n1}) / 2.0) / "
        f"nullif(sqrt((({n0}) * ({n1}) / 12.0) * ((({n}) + 1.0) - "
        f"CAST({tsum} AS DOUBLE) / nullif(({n}) * (({n}) - 1.0), 0.0))), "
        f"0.0))"
    )
    return _struct3(dialect, [("u0", u0), ("u1", u1), ("z", z)])


def entropy_tail(n: str, sl: str) -> str:
    """Shannon entropy from the exact count ``n`` and the DOUBLE plogp
    sum ``sl``; the final CAST to DECIMAL(18,6) absorbs BOTH the
    cross-engine libm log2 ulp spread (measured: Spark's Java log2
    differs from DuckDB's libm on ~23% of integer inputs) AND the
    double-sum order noise — combined absolute error on H is ~1e-13,
    so a 1e-6 grid flips with probability ~1e-7 (the quantized-output
    device, same trade as the LTTB scaled areas). This is the ONE
    family member whose output is snapped; the moment/t-test/U tails
    are correctly-rounded-only IEEE trees and stay raw doubles."""
    return (
        f"CAST(log2(CAST({n} AS DOUBLE)) - CAST({sl} AS DOUBLE) / "
        f"CAST({n} AS DOUBLE) AS DECIMAL(18,6))"
    )


def _mw_expr(x: str, g: str, dialect: str) -> str:
    if dialect != "spark":
        raise ChSqlError(
            "mannWhitneyUTest's fold form is Spark-side only — oracle "
            "engines spell ranks relationally and share mw_tail()"
        )
    pair = (
        f"CASE WHEN ({x}) IS NOT NULL AND ({g}) IS NOT NULL THEN "
        f"named_struct('v', CAST(CAST({x} AS DECIMAL(18,4)) * 10000 "
        f"AS BIGINT), 'g', CAST({g} AS INT)) END"
    )
    n0 = "CAST(size(filter(ps, p -> p.g = 0)) AS DOUBLE)"
    n1 = "CAST(size(filter(ps, p -> p.g <> 0)) AS DOUBLE)"
    n = "CAST(size(ps) AS DOUBLE)"
    # avg rank of p = |{q: q.v < p.v}| + (|{q: q.v = p.v}| + 1)/2 —
    # exact halves, so the double fold is order-free (< 2^53)
    r0 = (
        "aggregate(filter(ps, p -> p.g = 0), CAST(0.0 AS DOUBLE), "
        "(a, p) -> a + CAST(size(filter(ps, q -> q.v < p.v)) AS DOUBLE) + "
        "(CAST(size(filter(ps, q -> q.v = p.v)) AS DOUBLE) + 1.0) / 2.0)"
    )
    tsum = (
        "aggregate(transform(array_distinct(transform(ps, p -> p.v)), "
        "u -> CAST(size(filter(ps, q -> q.v = u)) AS BIGINT)), "
        "CAST(0 AS BIGINT), (a, t) -> a + t * t * t - t)"
    )
    body = mw_tail(r0, n0, n1, n, tsum, dialect="spark")
    return (
        f"element_at(transform(array(collect_list({pair})), ps -> {body}), 1)"
    )


def _entropy_expr(x: str) -> str:
    xs = f"collect_list(CAST({x} AS STRING))"
    cnt = "CAST(size(filter(xs, e -> e = u)) AS DOUBLE)"
    sl = (
        f"aggregate(array_sort(array_distinct(xs)), "
        f"CAST(0.0 AS DOUBLE), "
        f"(a, u) -> a + {cnt} * log2({cnt}))"
    )
    body = entropy_tail("size(xs)", sl)
    body = f"CASE WHEN size(xs) > 0 THEN {body} END"
    return f"element_at(transform(array({xs}), xs -> {body}), 1)"


def stats_agg_sql(
    fam: str, args: list[str], *, int128: str = _INT128_SPARK,
    dialect: str = "spark", lane: str | None = None,
) -> str:
    """Expression text for one statistical-aggregate family member —
    shared by the Spark rewrite and by oracle GENERATION (the q162
    device: one emitter, two int128/struct spellings, so the IEEE
    expression tails are textually identical and therefore
    bit-identical over the exact integer inputs). ``lane`` picks the
    Spark-side moment spelling for skew*/kurt*/covar* (default: the
    module lane, see ``set_stats_lane``); oracle dialects always emit
    the int128 spelling — both lanes produce the same exact integer
    sums, so the shared tails stay bit-identical either way."""
    lane = lane or _STATS_LANE
    if fam == "avgWeighted":
        x, w = args
        guard = f"(({x}) IS NOT NULL AND ({w}) IS NOT NULL)"
        xv = _sv128(f"CASE WHEN {guard} THEN ({x}) END", int128, dialect)
        wv = _sv128(f"CASE WHEN {guard} THEN ({w}) END", int128, dialect)
        return (
            f"(({_dbl128(f'sum({xv} * {wv})', dialect)} / "
            f"nullif({_dbl128(f'sum({wv})', dialect)}, 0.0)) / 10000.0)"
        )
    if fam in ("skewPop", "skewSamp", "kurtPop", "kurtSamp"):
        (x,) = args
        if dialect == "spark" and lane == "limb":
            s = _limb_moment_sums(x)
            return moment_tails_from_sums(
                s["n"], s["s1"], s["s2"], s["s3"], s["s4"], dialect
            )[fam]
        return _moment_tails(x, int128, dialect)[fam]
    if fam in ("covarPop", "covarSamp"):
        x, y = args
        if dialect == "spark" and lane == "limb":
            s = _limb_covar_sums(x, y)
            return _covar_tail(
                fam,
                f"CAST({s['n']} AS DOUBLE)",
                _dbl128(s["sx"], dialect),
                _dbl128(s["sy"], dialect),
                _dbl128(s["sxy"], dialect),
            )
        guard = f"(({x}) IS NOT NULL AND ({y}) IS NOT NULL)"
        xv = _sv128(f"CASE WHEN {guard} THEN ({x}) END", int128, dialect)
        yv = _sv128(f"CASE WHEN {guard} THEN ({y}) END", int128, dialect)
        n = f"count(CASE WHEN {guard} THEN 1 END)"
        nd = f"CAST({n} AS DOUBLE)"
        return _covar_tail(
            fam,
            nd,
            _dbl128(f"sum({xv})", dialect),
            _dbl128(f"sum({yv})", dialect),
            _dbl128(f"sum({xv} * {yv})", dialect),
        )
    if fam == "boundingRatio":
        x, y = args
        guard = f"(({x}) IS NOT NULL AND ({y}) IS NOT NULL)"
        xv = _sv128(f"CASE WHEN {guard} THEN ({x}) END", "BIGINT", dialect)
        yv = _sv128(f"CASE WHEN {guard} THEN ({y}) END", "BIGINT", dialect)
        st = f"CASE WHEN {guard} THEN {_struct2(dialect, 'x', xv, 'y', yv)} END"
        return (
            f"((CAST(max({st}).y AS DOUBLE) - CAST(min({st}).y AS DOUBLE))"
            f" / nullif(CAST(max({st}).x AS DOUBLE) - "
            f"CAST(min({st}).x AS DOUBLE), 0.0))"
        )
    if fam in ("studentTTest", "welchTTest"):
        x, g = args
        return _ttest_expr(fam, x, g, int128, dialect)
    if fam == "mannWhitneyUTest":
        x, g = args
        return _mw_expr(x, g, dialect)
    if fam == "entropy":
        if dialect != "spark":
            raise ChSqlError(
                "entropy's fold form is Spark-side only — oracles count "
                "relationally and share entropy_tail()"
            )
        (x,) = args
        return _entropy_expr(x)
    raise ChSqlError(f"unknown stats aggregate {fam}")


_STATS_ARITY = {
    "avgWeighted": 2, "skewPop": 1, "skewSamp": 1, "kurtPop": 1,
    "kurtSamp": 1, "covarPop": 2, "covarSamp": 2, "boundingRatio": 2,
    "studentTTest": 2, "welchTTest": 2, "mannWhitneyUTest": 2,
    "entropy": 1,
}


def _rewrite_stats_aggs(sql: str) -> str:
    """ClickHouse's statistical aggregate family → exact scaled-moment
    algebra (see ``stats_agg_sql``). Definitions match ClickHouse's
    (src/AggregateFunctions/StatCommon.h moment forms): central moments
    are always /n; only the variance denominator switches between Pop
    (/n) and Samp (/(n-1)); kurt* is NON-excess (no -3). Domain: the
    DECIMAL(18,4) snap bounds |x| <= ~3e5 for the 4th-power moments to
    stay inside the 128-bit lane — larger magnitudes raise on overflow
    (ANSI), never silently round."""

    def stats_agg(m, args: str) -> str:
        fam = _STATS_NAMES[m.group(1).lower()]
        arity, args = _STATS_ARITY[fam], _split_top_commas(args)
        if len(args) != arity:
            raise ChSqlError(
                f"{fam} expects {arity} argument(s), got {len(args)}"
            )
        return stats_agg_sql(fam, args)

    return _rewrite_calls(sql, _STATS_CALL, stats_agg)


_STATS_NAMES = {n.lower(): n for n in _STATS_ARITY}
_STATS_CALL = _call_pattern(_STATS_ARITY)


def _rewrite_retention(sql: str) -> str:
    """``retention(c1, ..., cN)`` → exact aggregate expansion.

    ClickHouse semantics (AggregateFunctionRetention): each condition is
    OR-ed across the group's rows; r[1] = cond1 seen, r[i] = cond1 seen
    AND cond_i seen. That is plain ``max(CASE...)`` algebra — no state
    machine, no order dependence — so the bridge is a pure expression
    rewrite and the result is bit-identical to CH."""

    def retention(m, args: str) -> str:
        conds = _split_top_commas(args)
        if not conds or not conds[0]:
            raise ChSqlError("retention() needs at least one condition")
        flags = [f"max(CASE WHEN ({c}) THEN 1 ELSE 0 END)" for c in conds]
        items = [flags[0]] + [f"{flags[0]} * {f}" for f in flags[1:]]
        return "array(" + ", ".join(items) + ")"

    return _rewrite_calls(sql, _RETENTION_CALL, retention)


_RETENTION_CALL = _call_pattern(("retention",))


def _rewrite_window_funnel(sql: str) -> str:
    """``windowFunnel(w)(ts, c1, ..., cN)`` → an exact one-pass fold.

    Semantics (CH default mode): the deepest level L such that a chain
    of events e1..eL exists with cond_i(e_i), non-decreasing times, all
    within ``w`` seconds of e1. The bridge collects the group's
    condition-relevant events time-sorted and folds a DP array where
    slot i holds the MAXIMUM chain-start time of any chain reaching
    level i+1 (maximizing the start makes the window constraint the
    loosest — the standard funnel DP); ``transform`` reads the
    PREVIOUS event's state (old-acc), so one event never chains to
    itself, while equal-timestamp events may chain in sort order
    (CH: same-second order undefined; the sort tiebreak pins it).
    Answer = count of non-null slots (levels are prefix-monotone).

    Scale: per-group state is the filtered event list — the same
    per-entity-bounded assumption CH's own implementation makes (it
    also materializes the group's events); modes (strict_order /
    strict_dedup / strict_increase) are not bridged and reject."""
    return _rewrite_calls(sql, _FUNNEL_CALL, _funnel, parametric=True)


_FUNNEL_CALL = _call_pattern(("windowFunnel",))


def _funnel(m, params: str, args: str | None) -> str:
    args, params = _second_list(m, args), params.strip()
    parts = [p.strip() for p in _split_top_commas(params)]
    strict_increase = False
    try:
        float(parts[0])
    except ValueError:
        raise ChSqlError(
            f"windowFunnel({params!r}): the first parameter must be a "
            "numeric window (seconds)"
        ) from None
    for mode in parts[1:]:
        if mode == "'strict_increase'":
            strict_increase = True
        else:
            raise ChSqlError(
                f"windowFunnel mode {mode}: only 'strict_increase' is "
                "bridged ('strict_order'/'strict_deduplication' have "
                "version-dependent early-exit corner semantics in "
                "ClickHouse — spell the funnel manually, q89's shape)"
            )
    window = parts[0]
    if len(args) < 2:
        raise ChSqlError("windowFunnel needs (timestamp, cond1, ...)")
    ts, conds = args[0], args[1:]
    n = len(conds)
    lst = _behavior_events(ts, conds)
    if strict_increase:
        return _strict_increase_funnel(n, window, lst)
    step = (
        f"(acc, e) -> transform(acc, (s, i) -> CASE "
        f"WHEN NOT e.c[i] THEN s "
        f"WHEN i = 0 THEN greatest(s, e.t) "
        f"WHEN element_at(acc, i) IS NOT NULL "
        f"AND e.t - element_at(acc, i) <= {window} "
        f"THEN greatest(s, element_at(acc, i)) ELSE s END)"
    )
    return (
        f"size(filter(aggregate({lst}, "
        f"array_repeat(CAST(NULL AS DOUBLE), {n}), {step}), "
        f"s -> s IS NOT NULL))"
    )


def _strict_increase_funnel(n: int, window: str, lst: str) -> str:
    """The strict_increase windowFunnel fold (round 8): the default
    mode's max-start DP upgraded with per-level chain (first, last)
    timestamp pairs — ClickHouse's events_timestamp pair exactly —
    because "timestamps strictly increase along the chain" needs the
    previous chain EVENT's time, not just the chain start. State = a
    2n double array (slots 1..n the chain-start F, n+1..2n the
    chain-last L, NULL = level unreached); an event extends level p
    when cond_p holds, e.t - F[p-1] <= window and L[p-1] < e.t
    (the strict-increase gate — it also makes every same-timestamp
    subtlety of the default mode moot), overwriting (F[p], L[p]) with
    (F[p-1], e.t) — CH's overwrite-on-extend, which keeps the
    latest-start chain per level. Level = count of non-NULL F slots
    (prefix-monotone: a slot is only ever set from a set predecessor
    and never cleared)."""
    ext = (
        f"(e.t - element_at(acc, i{{off}}) <= {window} "
        f"AND element_at(acc, i{{off}} + {n}) < e.t)"
    )
    f_ext = ext.format(off="")
    l_ext = ext.format(off=f" - {n}")
    step = (
        f"(acc, e) -> transform(acc, (s, i) -> CASE WHEN i < {n} THEN "
        f"(CASE WHEN e.c[i] AND (i = 0 OR {f_ext}) "
        f"THEN (CASE WHEN i = 0 THEN e.t ELSE element_at(acc, i) END) "
        f"ELSE s END) "
        f"ELSE (CASE WHEN e.c[i - {n}] AND (i = {n} OR {l_ext}) "
        f"THEN e.t ELSE s END) END)"
    )
    return (
        f"aggregate({lst}, array_repeat(CAST(NULL AS DOUBLE), {2 * n}), "
        f"{step}, acc -> size(filter(slice(acc, 1, {n}), "
        f"x -> x IS NOT NULL)))"
    )


def _parse_seq_pattern(
    pat: str, allow_time: bool = False
) -> list[tuple[int, bool, str | None, float]]:
    """Restricted sequenceMatch pattern: ``(?N)`` refs optionally
    separated by ``.*`` gaps and/or ``(?t op seconds)`` time
    constraints (round 8; sequenceMatch only — ``allow_time``).
    Returns [(cond_index_0based, gap_before, time_op, seconds)] where
    ``time_op`` in {None, '<=', '<', '>=', '>'} bounds the seconds
    between the events matching this ref and the previous ref.
    ``==``/``!=`` time ops and single ``.`` reject with the manual
    spelling named."""
    steps: list[tuple[int, bool, str | None, float]] = []
    pending_gap = False
    pending_op: str | None = None
    pending_val = 0.0
    i = 0
    while i < len(pat):
        if pat.startswith(".*", i):
            pending_gap = True
            i += 2
            continue
        mt = re.match(r"\(\?t\s*(<=|<|>=|>|==|!=)\s*(\d+(?:\.\d+)?)\)", pat[i:])
        if mt:
            if not allow_time:
                raise ChSqlError(
                    f"pattern {pat!r}: '(?t...)' time constraints are "
                    "bridged for sequenceMatch only (sequenceCount's "
                    "greedy reset + time bound needs the manual spelling)"
                )
            if mt.group(1) in ("==", "!="):
                raise ChSqlError(
                    f"pattern {pat!r}: '(?t{mt.group(1)}...)' exact-seconds "
                    "constraints are not bridged (float-equality on event "
                    "gaps; spell the window manually)"
                )
            if pending_op is not None:
                raise ChSqlError(
                    f"pattern {pat!r}: two consecutive time constraints"
                )
            if not steps:
                raise ChSqlError(
                    f"pattern {pat!r}: a time constraint needs a preceding "
                    "(?N) ref"
                )
            pending_op, pending_val = mt.group(1), float(mt.group(2))
            i += mt.end()
            continue
        m = re.match(r"\(\?(\d+)\)", pat[i:])
        if not m:
            raise ChSqlError(
                f"sequenceMatch pattern {pat!r}: only '(?N)' refs, '.*' "
                "gaps and '(?t op seconds)' constraints are bridged "
                "(single '.' needs the manual windowed-conditions spelling)"
            )
        steps.append((int(m.group(1)) - 1, pending_gap, pending_op, pending_val))
        pending_gap, pending_op, pending_val = False, None, 0.0
        i += m.end()
    if pending_op is not None:
        raise ChSqlError(
            f"pattern {pat!r}: a trailing time constraint has no (?N) ref"
        )
    if not steps:
        raise ChSqlError("sequenceMatch pattern has no (?N) refs")
    return steps


def _rewrite_sequence_match(sql: str) -> str:
    """``sequenceMatch('(?1).*(?2)')(ts, c1, ..., cN)`` → an exact
    one-pass regex-over-events fold.

    CH semantics: events matching NO condition are invisible; adjacent
    ``(?i)(?j)`` refs must match CONSECUTIVE visible events; ``.*``
    allows any number of visible events between. The fold carries per
    pattern position p a 2-bit state over the visible, time-sorted
    sequence: bit0 (A) = a match of the prefix ends EXACTLY at the
    previous event; bit1 (B) = a prefix match ended at or before the
    previous event. A new event extends: adjacency consumes A of p-1,
    a '.*' gap accepts A|B of p-1; the pattern is unanchored, so
    position 0 matches anywhere. Matched = last position's state > 0
    after the fold."""
    return _rewrite_calls(sql, _SEQ_MATCH_CALL, _seq_match, parametric=True)


_SEQ_MATCH_CALL = _call_pattern(("sequenceMatch",))


def _seq_match(m, params: str, args: str | None) -> str:
    args = _second_list(m, args)
    mpat = re.fullmatch(r"'([^']*)'", params.strip())
    if not mpat:
        raise ChSqlError(
            "sequenceMatch needs a quoted literal pattern: "
            "sequenceMatch('(?1)(?2)')(ts, cond1, cond2)"
        )
    steps = _parse_seq_pattern(mpat.group(1), allow_time=True)
    if len(args) < 2:
        raise ChSqlError("sequenceMatch needs (timestamp, cond1, ...)")
    ts, conds = args[0], args[1:]
    for ci, *_rest in steps:
        if not (0 <= ci < len(conds)):
            raise ChSqlError(
                f"sequenceMatch pattern ref (?{ci + 1}) has no matching "
                f"condition (got {len(conds)})"
            )
    p_n = len(steps)
    lst = _behavior_events(ts, conds)
    cidx = "array(" + ", ".join(str(ci) for ci, *_ in steps) + ")"
    garr = "array(" + ", ".join(
        "true" if g else "false" for _, g, *_ in steps
    ) + ")"
    if any(top is not None for _, _, top, _ in steps):
        return _timed_seq_match(steps, p_n, lst, cidx, garr)
    step = (
        f"(acc, e) -> transform(acc, (s, p) -> "
        f"(CASE WHEN e.c[{cidx}[p]] AND (p = 0 OR (CASE WHEN {garr}[p] "
        f"THEN element_at(acc, p) > 0 "
        f"ELSE pmod(element_at(acc, p), 2) = 1 END)) "
        f"THEN 1 ELSE 0 END) + (CASE WHEN s > 0 THEN 2 ELSE 0 END))"
    )
    return (
        f"CAST(element_at(aggregate({lst}, array_repeat(0, {p_n}), "
        f"{step}), {p_n}) > 0 AS INT)"
    )


def _timed_seq_match(steps, p_n: int, lst: str, cidx: str, garr: str) -> str:
    """The time-constrained sequenceMatch fold (round 8). State = a
    2*p_n double array: slots 1..p_n (A) hold the END TIME of a
    prefix-p match ending EXACTLY at the previous visible event (NULL
    if none); slots p_n+1..2*p_n (B) the BEST end time over matches
    ending at-or-before it. "Best" is per-position: the transition
    ENTERING position p compares dt = e.t - prefix_end against its
    constraint, and since dt shrinks as the end time grows, a '<='/'<'
    bound is loosest at the MAX candidate end and a '>='/'>' bound at
    the MIN — each transition depends only on the previous position's
    end time, so the per-position best-end relaxation decides
    matchability EXACTLY (Viterbi over a chain). Adjacency consumes A
    alone; a '.*' gap the best of A and B (greatest/least skip NULLs
    identically in Spark and DuckDB). Matched = last A or B non-NULL,
    read by aggregate()'s finish lambda."""
    tops = {None: 0, "<=": 1, "<": 2, ">=": 3, ">": 4}
    topop = "array(" + ", ".join(str(tops[t]) for _, _, t, _ in steps) + ")"
    tval = "array(" + ", ".join(
        f"CAST({v} AS DOUBLE)" for _, _, _, v in steps
    ) + ")"
    obj_enter = [t in (None, "<=", "<") for _, _, t, _ in steps]
    obj_leave = obj_enter[1:] + [True]
    obje = "array(" + ", ".join("true" if o else "false" for o in obj_enter) + ")"
    objl = "array(" + ", ".join("true" if o else "false" for o in obj_leave) + ")"
    cand = (
        f"(CASE WHEN {garr}[i] THEN (CASE WHEN {obje}[i] "
        f"THEN greatest(element_at(acc, i), element_at(acc, i + {p_n})) "
        f"ELSE least(element_at(acc, i), element_at(acc, i + {p_n})) END) "
        f"ELSE element_at(acc, i) END)"
    )
    passed = (
        f"(CASE {topop}[i] WHEN 0 THEN {cand} IS NOT NULL "
        f"WHEN 1 THEN e.t - {cand} <= {tval}[i] "
        f"WHEN 2 THEN e.t - {cand} < {tval}[i] "
        f"WHEN 3 THEN e.t - {cand} >= {tval}[i] "
        f"ELSE e.t - {cand} > {tval}[i] END)"
    )
    step = (
        f"(acc, e) -> transform(acc, (s, i) -> CASE WHEN i < {p_n} THEN "
        f"(CASE WHEN e.c[{cidx}[i]] AND (i = 0 OR {passed}) "
        f"THEN e.t ELSE CAST(NULL AS DOUBLE) END) "
        f"ELSE (CASE WHEN {objl}[i - {p_n}] "
        f"THEN greatest(element_at(acc, i + 1), "
        f"element_at(acc, i - {p_n} + 1)) "
        f"ELSE least(element_at(acc, i + 1), "
        f"element_at(acc, i - {p_n} + 1)) END) END)"
    )
    return (
        f"CAST(aggregate({lst}, "
        f"array_repeat(CAST(NULL AS DOUBLE), {2 * p_n}), {step}, "
        f"acc -> coalesce(element_at(acc, {p_n}), "
        f"element_at(acc, {2 * p_n})) IS NOT NULL) AS INT)"
    )


#: typed dictGet suffix -> the ClickHouse missing-key default the typed
#: variant returns (plain dictGet's per-attribute type default needs
#: schema knowledge the string layer lacks — it bridges as NULL with the
#: divergence documented on ch_sql), keyed lowercase
_DICTGET_DEFAULTS = {
    "string": "''",
    "int8": "0", "int16": "0", "int32": "0", "int64": "0",
    "uint8": "0", "uint16": "0", "uint32": "0", "uint64": "0",
    "float32": "CAST(0 AS DOUBLE)", "float64": "CAST(0 AS DOUBLE)",
    "date": "DATE '1970-01-01'",
    "datetime": "TIMESTAMP '1970-01-01 00:00:00'",
}

_DICT_CALL = re.compile(
    r"\b(dict(?:Has|Get(?:OrDefault|OrNull)?"
    r"(?:String|U?Int(?:8|16|32|64)|Float(?:32|64)|DateTime|Date)?))\s*\(",
    re.IGNORECASE,
)


def _rewrite_dictget(sql: str, dictionaries: dict[str, str] | None) -> str:
    """``dictGet*('d', 'attr', key)`` family → correlated scalar
    subqueries against a REGISTERED dictionary view (Catalyst rewrites
    them to a left-outer broadcast join — exactly what a dimension-sized
    CH dictionary is). ``dictionaries`` maps dictionary name → its key
    column; names not in the map (or a None map) keep the loud reject.

    Missing-key semantics: typed variants return CH's documented type
    default (coalesce), ``dictGetOrDefault`` its explicit default;
    PLAIN ``dictGet`` yields NULL where CH would synthesize the
    attribute type's default — the one divergence, documented here and
    on ``ch_sql``. ``dictHas`` → correlated count > 0. Composite
    (tuple) keys are not bridged and reject."""
    if not dictionaries:
        return sql
    seq = []

    def lookup(m, args: str) -> str:
        # inner projection renames the dictionary's columns to reserved
        # names BEFORE the correlated predicate: a bare column in the
        # key expression must resolve to the OUTER query — with the
        # dictionary's own columns in scope, `dictGet('d','a',k)` where
        # d also has a column k would silently correlate d.k = d.k
        # (every row matches). The rename leaves only __chd*_ names in
        # the inner scope.
        kc, vc = f"__chd{len(seq)}_k", f"__chd{len(seq)}_v"
        seq.append(kc)
        fn = m.group(1)
        args = _split_top_commas(args)
        mname = re.fullmatch(r"'([^']*)'", args[0]) if args else None
        if not mname:
            raise ChSqlError(f"{fn}: the dictionary name must be a quoted literal")
        dname = mname.group(1)
        if dname not in dictionaries:
            raise ChSqlError(
                f"{fn}({args[0]}): dictionary {dname!r} is not registered — "
                "pass dictionaries={'" + dname + "': '<key_col>'} to ch_sql/"
                "rewrite_clickhouse_sql (the view itself must be registered), "
                "or spell the lookup as a broadcast JOIN"
            )
        key_col = dictionaries[dname]
        low = fn.lower()
        if low == "dicthas":
            if len(args) != 2:
                raise ChSqlError("dictHas needs ('dict', key)")
            return (
                f"((SELECT count(1) FROM (SELECT {key_col} AS {kc} "
                f"FROM {dname}) WHERE {kc} = ({args[1]})) > 0)"
            )
        or_default = low.startswith("dictgetordefault")
        want = 4 if or_default else 3
        if len(args) != want:
            raise ChSqlError(
                f"{fn} needs ('dict', 'attr', key"
                + (", default)" if or_default else ")")
            )
        mattr = re.fullmatch(r"'([^']*)'", args[1])
        if not mattr:
            raise ChSqlError(
                f"{fn}: the attribute name must be a quoted literal"
            )
        attr, keyexpr = mattr.group(1), args[2]
        if re.match(r"(?:tuple\s*)?\(", keyexpr, re.IGNORECASE):
            raise ChSqlError(
                f"{fn}: composite (tuple) dictionary keys are not "
                "bridged — spell the lookup as a JOIN on all key parts"
            )
        sub = (
            f"(SELECT {vc} FROM (SELECT {key_col} AS {kc}, "
            f"{attr} AS {vc} FROM {dname}) WHERE {kc} = ({keyexpr}))"
        )
        if or_default:
            return f"coalesce({sub}, ({args[3]}))"
        if low == "dictgetornull":
            # CH's dictGetOrNull: NULL on a missing key — exactly
            # the bare scalar subquery (no coalesce)
            return sub
        dflt = _DICTGET_DEFAULTS.get(low[len("dictget"):])
        return f"coalesce({sub}, {dflt})" if dflt else sub

    return _rewrite_calls(sql, _DICT_CALL, lookup)


def _rewrite_sequence_count(sql: str) -> str:
    """``sequenceCount('pat')(ts, c1, ..., cN)`` → the q136 automaton
    with ClickHouse's GREEDY NON-OVERLAPPING counting: the fold state
    grows one slot (the count); when any match of the full pattern
    completes at the current event — earliest-completion, which is
    exactly greedy left-to-right search — the count increments and
    every position resets, so the next match must start strictly after
    the completing event (CH resumes its search there too)."""
    return _rewrite_calls(sql, _SEQ_COUNT_CALL, _seq_count, parametric=True)


_SEQ_COUNT_CALL = _call_pattern(("sequenceCount",))


def _seq_count(m, params: str, args: str | None) -> str:
    args = _second_list(m, args)
    mpat = re.fullmatch(r"'([^']*)'", params.strip())
    if not mpat:
        raise ChSqlError(
            "sequenceCount needs a quoted literal pattern: "
            "sequenceCount('(?1)(?2)')(ts, cond1, cond2)"
        )
    steps = _parse_seq_pattern(mpat.group(1))
    if len(args) < 2:
        raise ChSqlError("sequenceCount needs (timestamp, cond1, ...)")
    ts, conds = args[0], args[1:]
    for ci, *_rest in steps:
        if not (0 <= ci < len(conds)):
            raise ChSqlError(
                f"sequenceCount pattern ref (?{ci + 1}) has no matching "
                f"condition (got {len(conds)})"
            )
    p_n = len(steps)
    lst = _behavior_events(ts, conds)
    cidx = "array(" + ", ".join(str(ci) for ci, *_ in steps) + ")"
    garr = "array(" + ", ".join(
        "true" if g else "false" for _, g, *_ in steps
    ) + ")"
    last_ci, last_gap = steps[-1][0], steps[-1][1]
    if p_n == 1:
        complete = f"e.c[{last_ci}]"
    else:
        gate = (
            f"element_at(acc, {p_n - 1}) > 0"
            if last_gap
            else f"pmod(element_at(acc, {p_n - 1}), 2) = 1"
        )
        complete = f"(e.c[{last_ci}] AND {gate})"
    step = (
        f"(acc, e) -> transform(acc, (s, p) -> "
        f"CASE WHEN p = {p_n} THEN s + (CASE WHEN {complete} THEN 1 ELSE 0 END) "
        f"WHEN {complete} THEN 0 "
        f"ELSE (CASE WHEN e.c[{cidx}[p]] AND (p = 0 OR (CASE WHEN {garr}[p] "
        f"THEN element_at(acc, p) > 0 "
        f"ELSE pmod(element_at(acc, p), 2) = 1 END)) "
        f"THEN 1 ELSE 0 END) + (CASE WHEN s > 0 THEN 2 ELSE 0 END) END)"
    )
    return (
        f"CAST(element_at(aggregate({lst}, array_repeat(0, {p_n + 1}), "
        f"{step}), {p_n + 1}) AS BIGINT)"
    )


# ---------------------------------------------------------------------------
# 2b. PREWHERE -> WHERE; trailing SETTINGS stripped
# ---------------------------------------------------------------------------
_TSDIFF_UNITS = {
    "second", "minute", "hour", "day", "week", "month", "quarter", "year",
}

_INTERVAL_SECONDS = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}


# name (lowercase) -> {arity: template} — TYPE-PRESERVING spellings of
# the array vocabulary for the ch_sql dialect path (round 9). The
# CLICKHOUSE_SCALARS registrations of the same names are typed
# ARRAY<STRING> UDFs (CREATE FUNCTION cannot be generic), which coerce
# numeric elements to strings on the direct spark.sql path; through
# ch_sql these templates fire FIRST, so element types survive exactly
# as in ClickHouse. Templates substitute {0}/{1}/... with the raw
# argument text; all are balanced and contain no ClickHouse names, so
# the restart loop terminates.
_ARRAY_TEMPLATES: dict[str, dict[int, str]] = {
    "arraydistinct": {1: "array_distinct({0})"},
    "arrayreverse": {1: "reverse({0})"},
    "arrayflatten": {1: "flatten({0})"},
    "arrayuniq": {1: "size(array_distinct({0}))"},
    "has": {2: "array_contains({0}, {1})"},
    "indexof": {2: "array_position({0}, {1})"},
    "countequal": {2: "size(filter({0}, __ce -> __ce <=> {1}))"},
    # CH order is unspecified; sorted for determinism (the vsort rule,
    # same upgrade the registered alias documents)
    "arrayintersect": {2: "sort_array(array_intersect({0}, {1}))"},
    "hasall": {2: "forall({1}, __ha -> array_contains({0}, __ha))"},
    "hasany": {2: "exists({1}, __ha -> array_contains({0}, __ha))"},
    "arrayconcat": {
        2: "concat({0}, {1})",
        3: "concat({0}, {1}, {2})",
        4: "concat({0}, {1}, {2}, {3})",
    },
    "arraypushback": {2: "concat({0}, array({1}))"},
    "arraypushfront": {2: "concat(array({1}), {0})"},
    "arraypopback": {1: "slice({0}, 1, greatest(size({0}) - 1, 0))"},
    "arraypopfront": {1: "slice({0}, 2, greatest(size({0}) - 1, 0))"},
    # CH arraySlice: 1-based offset (negative = from end); 2-arg form
    # takes the rest of the array — Spark slice truncates length at the
    # end, so size({0}) is a safe "to the end" length
    "arrayslice": {
        2: "slice({0}, {1}, size({0}))",
        3: "slice({0}, {1}, {2})",
    },
    "arrayenumerate": {1: "transform({0}, (__x, __i) -> __i + 1)"},
    "arrayenumerateuniq": {
        1: "transform({0}, (__x, __i) -> "
           "size(filter(slice({0}, 1, __i + 1), __e -> __e <=> __x)))",
    },
    "arraycompact": {
        1: "transform(filter(transform({0}, (__x, __i) -> "
           "named_struct('x', __x, 'i', __i)), __s -> __s.i = 0 OR "
           "NOT (__s.x <=> element_at({0}, __s.i))), __s -> __s.x)",
    },
    # CH match() returns UInt8; the INT cast matches the empty()/
    # notEmpty() convention used across the vocabulary
    "match": {2: "cast({0} RLIKE {1} AS INT)"},
    # CH puts the lambda FIRST; Spark's higher-order builtins take it
    # second. arrayFirst/arrayLast return NULL when nothing matches
    # (CH returns the element type's default — the arrayAvg-class
    # documented divergence; try_element_at is the OrNull convention)
    "arrayfirst": {2: "try_element_at(filter({1}, {0}), 1)"},
    "arraylast": {2: "try_element_at(filter({1}, {0}), -1)"},
    "arrayfirstindex": {
        2: "array_position(transform({1}, {0}), true)",
    },
    "arraylastindex": {
        2: "CASE WHEN array_position(reverse(transform({1}, {0})), true)"
           " = 0 THEN 0L ELSE size({1}) - "
           "array_position(reverse(transform({1}, {0})), true) + 1 END",
    },
    "arrayzip": {
        2: "arrays_zip({0}, {1})",
        3: "arrays_zip({0}, {1}, {2})",
    },
    # operator-function spellings (CH exposes every operator as a
    # function); divide is CH's FLOAT division — Spark's `/` on
    # integers is also double, exact match
    # (sum, count) named tuple — CH's one-pass pair aggregate
    "sumcount": {
        1: "named_struct('sum', sum({0}), 'count', count({0}))",
    },
    # -OrNull: NULL over an empty set — exactly Spark's native
    # aggregate behavior (CH's UNDECORATED sum/count return the type
    # default instead; DIALECT_NOTES: empty-set aggregates)
    "sumornull": {1: "sum({0})"},
    "avgornull": {1: "avg({0})"},
    "minornull": {1: "min({0})"},
    "maxornull": {1: "max({0})"},
    # ignoreNulls=true: CH's any* skip NULLs, and the -OrNull contract
    # is NULL iff NO (matching) rows — without the flag the stacked
    # anyIfOrNull's CASE gate made a leading non-match mask real
    # values (ADVICE r10, verified)
    "anyornull": {1: "any_value({0}, true)"},
    "countornull": {1: "nullif(count({0}), 0)"},
    # -OrDefault for the aggregates whose CH default is numeric 0;
    # min/maxOrDefault stay unbridged (the default is the COLUMN
    # type's zero value — '' for strings — unknowable textually)
    "sumordefault": {1: "coalesce(sum({0}), 0)"},
    "avgordefault": {1: "coalesce(avg({0}), 0.0)"},
    "countordefault": {1: "count({0})"},
    "plus": {2: "({0} + {1})"},
    "minus": {2: "({0} - {1})"},
    "multiply": {2: "({0} * {1})"},
    "divide": {2: "({0} / {1})"},
    "modulo": {2: "({0} % {1})"},
    "negate": {1: "(- {0})"},
    # CH monthName returns the FULL English name; Spark 4's builtin
    # monthname (3-letter) cannot be replaced by a UDF, so rewrite
    # before resolution
    "monthname": {1: "date_format({0}, 'MMMM')"},
    # toTypeName -> typeof: the NAMES are Spark's ('double', 'bigint'),
    # not CH's ('Float64', 'Int64') — documented divergence (the
    # introspection contract is "a type name", not a specific spelling)
    "totypename": {1: "typeof({0})"},
    # CH tuple(...) -> named_struct with CH's positional element names
    # (accessed as ._1/._2 — tupleElement below emits that spelling)
    "tuple": {
        n: "named_struct("
        + ", ".join(f"'_{i + 1}', {{{i}}}" for i in range(n))
        + ")"
        for n in range(1, 9)
    },
}


_TERNARY_LEFT_STOP = re.compile(
    r"\b(SELECT|DISTINCT|WHERE|HAVING|WHEN|THEN|ELSE|BY|ON|SET|"
    r"VALUES|RETURN|JOIN)\s*$",
    re.IGNORECASE,
)
_TERNARY_RIGHT_STOP = re.compile(
    r"\b(FROM|WHERE|GROUP|HAVING|ORDER|LIMIT|UNION|EXCEPT|INTERSECT|"
    r"AS|WHEN|THEN|ELSE|END|ASC|DESC)\b",
    re.IGNORECASE,
)


def _rewrite_ternary(sql: str) -> str:
    """ClickHouse's C-style conditional ``cond ? a : b`` ->
    ``if(cond, a, b)``. Right-associative (the rightmost ``?`` binds
    first, matching C/CH); ``::`` casts and string contents are never
    split. Operand extents follow C precedence — ternary binds LOOSER
    than AND/OR, so ``a AND b ? x : y`` conditions on the whole
    conjunction; operands stop only at same-depth commas, enclosing
    parens, outer ternary marks, and clause keywords. Malformed
    extents produce SQL Spark's parser rejects loudly."""
    while "?" in sql:
        depth_at, opaque = [], []
        for _i, _c, d, kind in _lex(sql):
            depth_at.append(d)
            opaque.append(kind != "code")
        qpos = None
        for i in range(len(sql) - 1, -1, -1):
            if sql[i] == "?" and not opaque[i]:
                qpos = i
                break
        if qpos is None:
            return sql
        d0 = depth_at[qpos]
        # matching ':' — count nested naked '?' to the right (none for
        # the rightmost, but parens may nest), skip '::'
        colon = None
        j = qpos + 1
        while j < len(sql):
            ch = sql[j]
            if opaque[j]:
                j += 1
                continue
            if ch == ":" and depth_at[j] == d0:
                if j + 1 < len(sql) and sql[j + 1] == ":":
                    j += 2
                    continue
                if j > 0 and sql[j - 1] == ":":
                    j += 1
                    continue
                colon = j
                break
            if ch == ")" and depth_at[j] < d0:
                break
            j += 1
        if colon is None:
            raise ChSqlError(
                "ternary '?' without a matching ':' — ClickHouse's "
                "cond ? a : b needs both"
            )
        # condition: scan LEFT from '?' to the nearest same-depth
        # boundary (comma, opening paren, outer ':'/'?', keyword)
        k = qpos - 1
        cstart = 0
        while k >= 0:
            ch = sql[k]
            if not opaque[k]:
                d = depth_at[k]
                if (ch in ",?:" and d == d0) or (ch == "(" and d < d0):
                    cstart = k + 1
                    break
                if ch.isalpha():
                    stop = _TERNARY_LEFT_STOP.search(sql[: k + 1])
                    if stop and stop.end() == k + 1:
                        cstart = k + 1
                        break
            k -= 1
        # else-part: scan RIGHT from ':' to the nearest boundary. A
        # second bare same-depth ':' belongs to an OUTER ternary whose
        # then-branch this one is (``a ? b ? c : d : e`` — ADVICE r09):
        # the else operand ends there, so the outer pass sees its ':'
        # intact. '::' casts pass through, as in the colon matcher.
        j = colon + 1
        eend = len(sql)
        while j < len(sql):
            ch = sql[j]
            if not opaque[j]:
                d = depth_at[j]
                if ch == ":" and d == d0:
                    if j + 1 < len(sql) and sql[j + 1] == ":":
                        j += 2
                        continue
                    if sql[j - 1] == ":":
                        j += 1
                        continue
                    eend = j
                    break
                if (ch == "," and d == d0) or (ch == ")" and d < d0):
                    eend = j
                    break
                if ch.isalpha():
                    stop = _TERNARY_RIGHT_STOP.match(sql, j)
                    if stop and not sql[j - 1].isalnum():
                        eend = j
                        break
            j += 1
        cond = sql[cstart:qpos].strip()
        then = sql[qpos + 1 : colon].strip()
        other = sql[colon + 1 : eend].strip()
        if not cond or not then or not other:
            raise ChSqlError(
                "could not delimit the ternary cond ? a : b operands — "
                "parenthesize them"
            )
        rep = f" if({cond}, {then}, {other}) "
        sql = sql[:cstart] + rep + sql[eend:]
    return sql


#: ClickHouse type name -> Spark SQL type (case-sensitive, as CH's
#: type names are). UInt64 maps to BIGINT: values above 2^63 - 1 are
#: representable in CH but raise Spark's ANSI cast error here — loud,
#: never wrapped (DIALECT_NOTES). FixedString loses the zero-padding
#: contract (plain STRING).
_CH_TYPE_MAP = {
    "Int8": "TINYINT", "Int16": "SMALLINT", "Int32": "INT",
    "Int64": "BIGINT", "UInt8": "SMALLINT", "UInt16": "INT",
    "UInt32": "BIGINT", "UInt64": "BIGINT",
    "Float32": "FLOAT", "Float64": "DOUBLE",
    "String": "STRING", "Bool": "BOOLEAN", "UUID": "STRING",
    "Date": "DATE", "Date32": "DATE", "DateTime": "TIMESTAMP",
}


def _ch_type_or_none(t: str) -> str | None:
    """Spark spelling of a ClickHouse type name, or None when ``t`` is
    not a recognized CH type (Spark's own names flow through a None —
    the caller leaves the text untouched). Wrappers recurse; a
    DateTime with a timezone argument raises (the engine's session is
    UTC by contract — shifting display zones inside a cast would be
    silent)."""
    t = t.strip()
    m = re.fullmatch(r"(Nullable|LowCardinality)\s*\((.*)\)", t, re.DOTALL)
    if m:
        inner = _ch_type_or_none(m.group(2))
        return inner if inner else m.group(2).strip() or None
    m = re.fullmatch(r"Array\s*\((.*)\)", t, re.DOTALL)
    if m:
        inner = _ch_type_or_none(m.group(1)) or m.group(1).strip()
        return f"ARRAY<{inner}>"
    m = re.fullmatch(r"Map\s*\((.*)\)", t, re.DOTALL)
    if m:
        kv = _split_top_commas(m.group(1))
        if len(kv) == 2:
            k = _ch_type_or_none(kv[0]) or kv[0]
            v = _ch_type_or_none(kv[1]) or kv[1]
            return f"MAP<{k}, {v}>"
        return None
    m = re.fullmatch(r"Decimal(32|64|128)\s*\(\s*(\d+)\s*\)", t)
    if m:
        prec = {"32": 9, "64": 18, "128": 38}[m.group(1)]
        return f"DECIMAL({prec}, {m.group(2)})"
    m = re.fullmatch(r"DateTime64\s*\(\s*\d+\s*\)", t)
    if m:
        return "TIMESTAMP"
    if re.fullmatch(r"(DateTime|DateTime64)\s*\(.*'.*\)", t, re.DOTALL):
        raise ChSqlError(
            f"cast to {t!r}: timezone-argument DateTime types are not "
            "bridged (the session timeline is UTC by contract) — cast "
            "to DateTime and convert explicitly if needed"
        )
    m = re.fullmatch(r"FixedString\s*\(\s*\d+\s*\)", t)
    if m:
        return "STRING"
    return _CH_TYPE_MAP.get(t)


def _rewrite_type_names(sql: str) -> str:
    """ClickHouse type names inside ``CAST(x AS T)`` and ``x::T`` —
    mapped to Spark SQL types (``_CH_TYPE_MAP``; wrappers
    Nullable/LowCardinality unwrap, Array/Map recurse, Decimal32/64/
    128(s) widen to the standard precisions). Names that are not
    recognized CH types (including Spark's own) pass through
    untouched. Only these two syntactic contexts are rewritten, so
    identifiers that merely collide with a type name are safe."""
    # x::T — rightmost-first keeps earlier indices stable
    cur = _Cursor(sql)
    casts = [
        m for m in re.finditer(r"::\s*([A-Za-z]\w*)", sql)
        if not cur.at(m.start())[1]
    ]
    for m in reversed(casts):
        start, end = m.start(1), m.end(1)
        if end < len(sql) and sql[end:].lstrip().startswith("("):
            o = sql.index("(", end)
            c = _match_paren(sql, o)
            t = sql[start : c + 1]
            end = c + 1
        else:
            t = m.group(1)
        conv = _ch_type_or_none(t)
        if conv:
            sql = sql[:start] + conv + sql[end:]
    return _rewrite_calls(sql, _CAST_CALL, _cast_type)


_CAST_CALL = _call_pattern(("CAST",))
_AS_KW = re.compile(r"\bAS\b", re.IGNORECASE)


def _cast_type(m, inner: str) -> str | None:
    as_kw = _top_level_matches(inner, _AS_KW)
    if as_kw:
        conv = _ch_type_or_none(inner[as_kw[-1].end() :].strip())
        return f"{m.group(0)}{inner[: as_kw[-1].end()]} {conv})" if conv else None
    # CH's FUNCTION-form cast CAST(x, 'Type') (round 11 probe:
    # previously fell through to Spark's zero-arg `cast` resolver
    # error three layers down). The type must be a literal; unknown
    # names raise rather than pass a bad AS clause along.
    args = _split_top_commas(inner)
    tm = re.fullmatch(r"'([^']*)'", args[1]) if len(args) == 2 else None
    if not tm:
        return None
    conv = _ch_type_or_none(tm.group(1))
    if conv is None:
        raise ChSqlError(
            f"CAST(x, '{tm.group(1)}'): unrecognized "
            "ClickHouse type name in the function-form "
            "cast — spell CAST(x AS <spark type>)"
        )
    return f"{m.group(0)}{args[0]} AS {conv})"


def _rewrite_dquote_identifiers(sql: str) -> str:
    """ClickHouse treats double-quoted tokens as IDENTIFIERS (strings
    are single-quoted only); Spark's default parser reads them as
    STRING literals — so ``SELECT "col" FROM t`` silently projected
    the constant 'col' instead of the column (round 11 probe, the
    worst divergence class). Convert each ``"name"`` span of the lexer
    to backticks, unescaping CH's doubled-quote escape and escaping
    embedded backticks."""
    out, last = [], 0
    for t in _TOKEN.finditer(sql):
        if sql[t.start()] != '"':
            continue
        tok = t.group()
        if tok.count('"') % 2:  # the opener plus "" pairs: no closer
            raise ChSqlError("unterminated double-quoted identifier")
        ident = tok[1:-1].replace('""', '"').replace("`", "``")
        out.append(sql[last : t.start()])
        out.append(f"`{ident}`")
        last = t.end()
    out.append(sql[last:])
    return "".join(out)


def _rewrite_int_literals(sql: str) -> str:
    """CH hex/binary integer literals (``0x1F``, ``0b101``) → decimal
    (Spark parses ``0x1F`` as an identifier → a cryptic
    UNRESOLVED_COLUMN; round 11 probe)."""
    for pat, base in ((r"\b0[xX][0-9A-Fa-f]+\b", 16), (r"\b0[bB][01]+\b", 2)):
        sql = _sub_code(sql, pat, lambda m, b=base: str(int(m.group(0)[2:], b)))
    return sql


def _rewrite_top(sql: str) -> str:
    """``SELECT [DISTINCT] TOP n ...`` — ClickHouse's SQL-Server-style
    spelling of LIMIT. The TOP clause is stripped and ``LIMIT n``
    appended to the statement. A statement that already has a
    top-level LIMIT, or a top-level UNION/EXCEPT/INTERSECT (where the
    appended LIMIT would bind to the whole compound), raises."""
    m = _first_match(sql, r"^\s*SELECT\s+(DISTINCT\s+)?TOP\s+(\d+)\s+")
    if not m:
        return sql
    if _top_level_matches(sql, r"\bLIMIT\b"):
        raise ChSqlError("TOP and LIMIT cannot be combined (CH errors too)")
    if _top_level_matches(sql, r"\bUNION\b|\bEXCEPT\b|\bINTERSECT\b"):
        raise ChSqlError(
            "TOP with a top-level set operation is ambiguous here — "
            "spell LIMIT on the branch you mean"
        )
    head = "SELECT " + (m.group(1) or "")
    return head + sql[m.end() :].rstrip() + f" LIMIT {m.group(2)}"


def _rewrite_array_vocabulary(sql: str) -> str:
    """Apply ``_ARRAY_TEMPLATES`` (type-preserving array/regex scalar
    spellings) plus the two forms that need argument inspection:

    - ``arraySort(arr)`` / ``arrayReverseSort(arr)`` ->
      ``array_sort`` / reversed; the KEY-LAMBDA forms
      ``arraySort(x -> key, arr)`` apply the key inside a comparator
      (CH's lambda is a sort KEY, Spark's is a comparator — different
      contracts, bridged by textual application of the key to both
      sides).
    - ``extract(s, 'regex')`` -> ``regexp_extract`` with CH's group
      rule: first capture group when the pattern HAS one, else the
      whole match. Literal patterns only (the group decision is made
      at rewrite time); a non-literal pattern raises.
    """
    sql = _rewrite_calls(sql, _ARRAY_TEMPLATE_CALL, _array_template)
    sql = _rewrite_calls(sql, _ARRAY_SORT_CALL, _array_sort)
    sql = _rewrite_calls(sql, _FORMAT_CALL, _format_string)
    return _rewrite_calls(sql, _EXTRACT_CALL, _regexp_extract)


_ARRAY_TEMPLATE_CALL = _call_pattern(_ARRAY_TEMPLATES)
_ARRAY_SORT_CALL = _call_pattern(("arraySort", "arrayReverseSort"))
_FORMAT_CALL = _call_pattern(("format",))
_EXTRACT_CALL = _call_pattern(("extract",))


def _array_template(m, args: str) -> str:
    forms = _ARRAY_TEMPLATES[m.group(1).lower()]
    args = _split_top_commas(args)
    tmpl = forms.get(len(args))
    if tmpl is None:
        raise ChSqlError(
            f"{m.group(1)} does not take {len(args)} argument(s) "
            f"(supported: {sorted(forms)})"
        )
    return f"({tmpl.format(*args)})"


def _array_sort(m, args: str) -> str:
    fname, args = m.group(1), _split_top_commas(args)
    desc = fname.lower() == "arrayreversesort"
    if len(args) == 1:
        rep = f"reverse(array_sort({args[0]}))" if desc else f"array_sort({args[0]})"
    elif len(args) == 2 and "->" in args[0]:
        lm = re.fullmatch(r"\(?\s*(\w+)\s*\)?\s*->\s*(.+)", args[0], re.DOTALL)
        if not lm:
            raise ChSqlError(
                f"{fname}: only a single-parameter key lambda is "
                f"bridged, got {args[0]!r}"
            )
        p, body = lm.group(1), lm.group(2).strip()
        kl = _subst_const(body, p, "(__sl)")
        kr = _subst_const(body, p, "(__sr)")
        lt, gt = ("1", "-1") if desc else ("-1", "1")
        rep = (
            f"array_sort({args[1]}, (__sl, __sr) -> "
            f"CASE WHEN ({kl}) < ({kr}) THEN {lt} "
            f"WHEN ({kl}) > ({kr}) THEN {gt} ELSE 0 END)"
        )
    else:
        raise ChSqlError(
            f"{fname} expects (arr) or (key_lambda, arr), got "
            f"{len(args)} argument(s)"
        )
    return f"({rep})"


def _format_string(m, args: str) -> str:
    args = _split_top_commas(args)
    if len(args) < 2:
        raise ChSqlError(
            "format(pattern, arg, ...) needs a pattern and at least "
            "one argument"
        )
    fm = re.fullmatch(r"'((?:[^']|'')*)'", args[0])
    if not fm:
        raise ChSqlError(
            "format() needs a literal pattern (ClickHouse requires a "
            "constant pattern too)"
        )
    # {{ / }} are literal braces; {} auto-numbers; {N} is explicit.
    # CH forbids mixing the auto and explicit forms — so do we.
    parts = re.split(r"(\{\{|\}\}|\{\d*\})", fm.group(1))
    out_parts, auto_i, saw_auto, saw_num = [], 0, False, False
    for p in parts:
        if p == "{{":
            out_parts.append("{")
        elif p == "}}":
            out_parts.append("}")
        elif re.fullmatch(r"\{\d*\}", p):
            if p == "{}":
                saw_auto = True
                out_parts.append(f"%{auto_i + 1}$s")
                auto_i += 1
            else:
                saw_num = True
                out_parts.append(f"%{int(p[1:-1]) + 1}$s")
        else:
            out_parts.append(p.replace("%", "%%"))
    if saw_auto and saw_num:
        raise ChSqlError(
            "format(): mixing automatic {} and indexed {N} "
            "placeholders is an error in ClickHouse too"
        )
    spat = "".join(out_parts)
    return f"(format_string('{spat}', {', '.join(args[1:])}))"


def _regexp_extract(m, args: str) -> str | None:
    args = _split_top_commas(args)
    if len(args) != 2:
        return None  # ANSI EXTRACT(field FROM ts) — not the CH form
    pm = re.fullmatch(r"'((?:[^']|'')*)'", args[1])
    if not pm:
        raise ChSqlError(
            "extract(s, regex) needs a literal pattern — the "
            "capture-group decision (CH returns group 1 when the "
            "pattern has one, else the whole match) is made at "
            "rewrite time"
        )
    has_group = re.search(r"(?<!\\)\((?!\?)", pm.group(1)) is not None
    return f"(regexp_extract({args[0]}, {args[1]}, {1 if has_group else 0}))"


def _rewrite_scalar_calls(sql: str) -> str:
    """Variadic / keyword-argument scalar forms a fixed-arity SQL UDF
    cannot alias:

    - ``multiIf(c1, v1, ..., else)`` -> CASE WHEN chain (exact).
    - ``dateDiff('unit', a, b)`` -> ``timestampdiff(UNIT,
      date_trunc(unit, a), date_trunc(unit, b))`` — ClickHouse counts
      crossed unit BOUNDARIES ('hour' of 08:30->10:00 is 2) while
      Spark's bare timestampdiff counts FULL elapsed units (1); the
      truncation restores the boundary semantics exactly.
    - ``toStartOfInterval(ts, INTERVAL n unit)`` ->
      epoch-modulo truncation for second/minute/hour/day (fixed-width
      units align identically on the session's UTC timeline); month+
      intervals raise (CH anchors them to a calendar origin a literal
      rewrite cannot reproduce faithfully).
    """
    sql = _rewrite_calls(sql, _PARSE_DATETIME_CALL, _parse_datetime)
    sql = _rewrite_calls(sql, _TUPLE_ELEMENT_CALL, _tuple_element)
    # CH tuple access `tuple(a, b).1`: after the tuple() template the
    # expression ends in ')', so ').N' is unambiguous (a decimal
    # literal never follows a closing paren) -> the ._N element name
    sql = _sub_code(sql, _TUPLE_INDEX, lambda m: f")._{m.group(1)}")
    for pat, rule in _SCALAR_CALLS:
        sql = _rewrite_calls(sql, pat, rule)
    return sql


def _parse_datetime(m, args: str) -> str:
    """parseDateTime(s, '%Y-%m-%d ...') — CH's EXACT-format parse (the
    MySQL-code twin of formatDateTime) — shares _translate_fmt's exact
    %-code subset; -OrNull maps to try_to_timestamp, -OrZero to its
    epoch-0 coalesce (CH's DateTime zero). The BestEffort heuristics
    family keeps its loud reject. A third (timezone) argument is not
    bridged: timestamps are session-zoned here."""
    args = _split_top_commas(args)
    if len(args) != 2:
        raise ChSqlError(
            f"parseDateTime{m.group(1) or ''} is bridged for "
            "(value, 'format') — a timezone argument is not "
            "(timestamps are session-zoned; set "
            "spark.sql.session.timeZone)"
        )
    fm = re.fullmatch(r"'([^']*)'", args[1])
    if not fm:
        raise ChSqlError(
            "parseDateTime needs a LITERAL format (the %-code "
            "translation happens at rewrite time)"
        )
    # format-only codes reject at REWRITE time (ADVICE r10): %a/%W/
    # %Q translate to E/q-class Java symbols Spark forbids in
    # datetime PARSING — at runtime they die with a
    # SparkUpgradeException (and -OrNull would leak it instead of
    # returning NULL). They stay available for formatDateTime.
    for pm in re.finditer(r"%(.)", fm.group(1)):
        if pm.group(1) in ("a", "W", "Q"):
            raise ChSqlError(
                f"parseDateTime{m.group(1) or ''} %-code "
                f"%{pm.group(1)} maps to a format-only Java symbol "
                f"({_FMT_CODES[pm.group(1)]}) that Spark forbids in "
                "datetime parsing — usable in formatDateTime only"
            )
    # quoted literal letters in the Java pattern escape as ''
    # inside the emitted SQL literal (the formatDateTime rule)
    pat = _translate_fmt(fm.group(1)).replace("'", "''")
    tail = (m.group(1) or "").lower()
    if tail == "ornull":
        return f"try_to_timestamp({args[0]}, '{pat}')"
    if tail == "orzero":
        return (
            f"coalesce(try_to_timestamp({args[0]}, '{pat}'), "
            f"TIMESTAMP '1970-01-01 00:00:00')"
        )
    # the PLAIN form throws in ClickHouse on unparseable input;
    # a bare to_timestamp silently returns NULL in a non-ANSI
    # session (the fixture default), collapsing parseDateTime
    # into parseDateTimeOrNull (ADVICE r10) — raise in-plan,
    # NULL input still passes through as NULL (CH nullable
    # propagation)
    return (
        f"(CASE WHEN ({args[0]}) IS NULL "
        f"THEN CAST(NULL AS TIMESTAMP) "
        f"ELSE coalesce(try_to_timestamp({args[0]}, '{pat}'), "
        f"CAST(raise_error(concat('parseDateTime: ', "
        f"CAST({args[0]} AS STRING), ' does not match the "
        f"format — parseDateTimeOrNull is the NULL-on-miss "
        f"form')) AS TIMESTAMP)) END)"
    )


def _tuple_element(m, args: str) -> str:
    """tupleElement(t, N) / tupleElement(t, 'name'): positional access
    uses the tuple() bridge's ._N element names (arbitrary source
    structs need the string-name form); a non-literal selector
    rejects — there is no runtime field dispatch (round 10)"""
    args = _split_top_commas(args)
    if len(args) != 2:
        raise ChSqlError("tupleElement expects (tuple, index_or_name)")
    t, sel = args
    if re.fullmatch(r"\d+", sel):
        if int(sel) < 1:
            raise ChSqlError(
                "tupleElement indexes are 1-based (ClickHouse "
                f"throws on index {sel})"
            )
        return f"({t})._{int(sel)}"
    if re.fullmatch(r"'(\w+)'", sel):
        return f"({t}).{sel[1:-1]}"
    raise ChSqlError(
        "tupleElement selector must be an integer or quoted-name "
        "literal (runtime field dispatch is not bridgeable) — "
        f"got {sel!r}"
    )


def _to_decimal(m, args: str) -> str:
    """toDecimal32/64/128[OrNull|OrZero](x, scale-literal) -> CAST at
    CH's precision tier (9/18/38); toDecimal256 exceeds DECIMAL(38)"""
    if m.group(1) == "256":
        raise ChSqlError(
            "toDecimal256 exceeds Spark's DECIMAL(38) lane — use "
            "toDecimal128, or keep the value in DOUBLE"
        )
    args = _split_top_commas(args)
    if len(args) != 2 or not re.fullmatch(r"\d+", args[1]):
        raise ChSqlError(
            f"toDecimal{m.group(1)}{m.group(2) or ''} expects "
            "(x, scale-literal)"
        )
    p = {"32": 9, "64": 18, "128": 38}[m.group(1)]
    s = int(args[1])
    if s > p:
        raise ChSqlError(
            f"toDecimal{m.group(1)}: scale {s} exceeds precision {p}"
        )
    if not m.group(2):
        return f"CAST({args[0]} AS DECIMAL({p},{s}))"
    cast = f"try_cast({args[0]} AS DECIMAL({p},{s}))"
    if m.group(2).lower() == "orzero":
        cast = f"coalesce({cast}, CAST(0 AS DECIMAL({p},{s})))"
    return cast


def _multi_if(m, args: str) -> str:
    args = _split_top_commas(args)
    if len(args) < 3 or len(args) % 2 == 0:
        raise ChSqlError(
            f"multiIf expects (cond, val, ..., else) — odd argument "
            f"count >= 3, got {len(args)}"
        )
    whens = "".join(
        f" WHEN {args[i]} THEN {args[i + 1]}"
        for i in range(0, len(args) - 1, 2)
    )
    return f"(CASE{whens} ELSE {args[-1]} END)"


def _date_diff(m, args: str) -> str | None:
    """date_diff is CH's documented alias of dateDiff; Spark ALSO has a
    2-arg date_diff builtin (any case), so only the 3-arg literal-unit
    call form is treated as the CH spelling (the 2-arg form passes
    through)"""
    args = _split_top_commas(args)
    if len(args) == 2 and m.group(1).lower() == "date_diff":
        return None  # Spark's own 2-arg builtin
    if len(args) != 3:
        raise ChSqlError(f"dateDiff expects 3 arguments, got {len(args)}")
    um = re.fullmatch(r"\s*'(\w+)'\s*", args[0])
    if not um or um.group(1).lower() not in _TSDIFF_UNITS:
        raise ChSqlError(
            f"dateDiff unit must be a literal of {sorted(_TSDIFF_UNITS)}, "
            f"got {args[0]!r}"
        )
    u = um.group(1).lower()
    return (
        f"timestampdiff({u.upper()}, date_trunc('{u}', {args[1]}), "
        f"date_trunc('{u}', {args[2]}))"
    )


#: age('unit', a, b) — COMPLETE units elapsed (no truncation, unlike
#: dateDiff's boundary-crossing count). Spark's timestampdiff has
#: exactly this contract for duration units (probed: 23:00 -> next
#: day 01:00 is 0 DAYs). Calendar units reject: CH's month
#: arithmetic clamps month-ends (Jan 31 + 1 month = Feb 29) while
#: Spark's complete-month rule differs on those edges — a silent
#: off-by-one on real data (round-12 wave 3).
_AGE_UNITS = {
    "microsecond", "millisecond", "second", "minute", "hour",
    "day", "week",
}


def _age(m, args: str) -> str:
    args = _split_top_commas(args)
    if len(args) != 3:
        raise ChSqlError(f"age expects 3 arguments, got {len(args)}")
    um = re.fullmatch(r"\s*'(\w+)'\s*", args[0])
    unit = um.group(1).lower() if um else None
    if unit not in _AGE_UNITS:
        raise ChSqlError(
            f"age unit must be a literal of {sorted(_AGE_UNITS)} "
            f"(month/quarter/year diverge on CH's month-end "
            f"clamping and are not bridged), got {args[0]!r}"
        )
    return f"timestampdiff({unit.upper()}, {args[1]}, {args[2]})"


#: accurateCast[OrNull](x, 'Type') — re-route onto the to<T>[OrNull]
#: family, whose emitted forms carry the width/sign range gates
#: (ADVICE r11): OrNull -> NULL out of domain; the plain form raises
#: in-plan (CH accurateCast throws; the to<T> truncating casts would
#: silently wrap, so they are NOT used here).
_ACC_TYPES = {
    "UInt8", "UInt16", "UInt32", "UInt64",
    "Int8", "Int16", "Int32", "Int64",
    "Float32", "Float64", "DateTime",
}


def _accurate_cast(m, args: str) -> str:
    ornull = bool(m.group(1))
    args = _split_top_commas(args)
    tm = re.fullmatch(r"\s*'(\w+)'\s*", args[1]) if len(args) == 2 else None
    t = tm.group(1) if tm else None
    if t is None or (t not in _ACC_TYPES and t != "String"):
        raise ChSqlError(
            f"accurateCast{'OrNull' if ornull else ''}: the type must "
            f"be a literal of {sorted(_ACC_TYPES | {'String'})} "
            f"(CH type names, exact case), got "
            f"{args[1] if len(args) == 2 else args!r}"
        )
    if t == "String":
        return f"CAST({args[0]} AS STRING)"
    name = f"to{t}"
    probe = f"{name}OrNull({args[0]})"
    if ornull:
        return probe
    return (
        f"(CASE WHEN ({args[0]}) IS NOT NULL AND {probe} IS "
        f"NULL THEN {name}OrNull(raise_error(concat("
        f"'accurateCast: value out of {t} domain: ', "
        f"CAST({args[0]} AS STRING)))) ELSE {probe} END)"
    )


def _start_of_interval(m, args: str) -> str:
    args = _split_top_commas(args)
    if len(args) != 2:
        raise ChSqlError(
            f"toStartOfInterval expects 2 arguments, got {len(args)}"
        )
    im = re.fullmatch(
        r"\s*INTERVAL\s+(\d+)\s+(\w+?)s?\s*", args[1], re.IGNORECASE
    )
    if not im or im.group(2).lower() not in _INTERVAL_SECONDS:
        raise ChSqlError(
            "toStartOfInterval supports INTERVAL n second/minute/hour/"
            f"day (fixed-width units), got {args[1]!r} — month-class "
            "intervals are calendar-anchored in ClickHouse and have no "
            "faithful literal rewrite"
        )
    secs = int(im.group(1)) * _INTERVAL_SECONDS[im.group(2).lower()]
    ts = args[0]
    # pmod, not %: Spark's % takes the dividend's sign, so a negative
    # epoch (pre-1970, representable in CH DateTime64) would round
    # toward zero — an interval start AFTER the input. pmod floors.
    return (
        f"timestamp_seconds(unix_seconds({ts}) - "
        f"pmod(unix_seconds({ts}), {secs}))"
    )


def _linear_regression(m, args: str) -> str:
    """simpleLinearRegression(x, y) — CH's least-squares aggregate
    returning (k, b). Inputs snap to DECIMAL(18,4); the four moment
    sums are exact decimals (x up to epoch scale fits precision 38),
    and k/b derive from them through one fixed IEEE expression — so
    an oracle spelling the same formula over the same snapped sums is
    bit-identical (CH's own float accumulation is partitioning-
    dependent; the snap-then-derive form is the deterministic
    equivalent, same trade as the uniq sketch mappings). Returns a
    named_struct('k','b') — tuple positions in CH."""
    args = _split_top_commas(args)
    if len(args) != 2:
        raise ChSqlError("simpleLinearRegression expects (x, y)")
    x, y = args
    dx = f"CAST({x} AS DECIMAL(18,4))"
    dy = f"CAST({y} AS DECIMAL(18,4))"
    stats = (
        f"named_struct("
        f"'n', CAST(count({x}) AS DOUBLE), "
        f"'sx', CAST(sum({dx}) AS DOUBLE), "
        f"'sy', CAST(sum({dy}) AS DOUBLE), "
        f"'sxy', CAST(sum({dx} * {dy}) AS DOUBLE), "
        f"'sxx', CAST(sum({dx} * {dx}) AS DOUBLE))"
    )
    return (
        f"element_at(transform(array({stats}), s -> element_at("
        f"transform(array((s.n * s.sxy - s.sx * s.sy) / "
        f"(s.n * s.sxx - s.sx * s.sx)), k -> named_struct("
        f"'k', k, 'b', (s.sy - k * s.sx) / s.n)), 1)), 1)"
    )


def _array_fold(m, args: str) -> str:
    """arrayFold((acc, x) -> ..., arr, init) — CH's explicit fold; the
    lambda syntax is identical to Spark's aggregate(), only the
    ARGUMENT ORDER differs (function first in CH, last in Spark)"""
    args = _split_top_commas(args)
    if len(args) != 3:
        raise ChSqlError(
            "arrayFold expects (lambda, array, init) — CH's "
            "single-array form"
        )
    fn, arr, init = args
    return f"aggregate({arr}, {init}, {fn})"


#: arrayReduce('agg', arr) — a named aggregate applied to an array.
#: Bridged for the order-free exact members; anything else raises
#: with the aggregate-subquery spelling
_ARRAY_REDUCE = {
    "sum": "aggregate({a}, CAST(0 AS DOUBLE), (x, y) -> x + y)",
    "min": "array_min({a})",
    "max": "array_max({a})",
    "count": "size({a})",
    "avg": (
        "(aggregate({a}, CAST(0 AS DOUBLE), (x, y) -> x + y) / "
        "size({a}))"
    ),
    "uniqExact": "size(array_distinct({a}))",
}


def _array_reduce(m, args: str) -> str:
    args = _split_top_commas(args)
    if len(args) != 2:
        raise ChSqlError("arrayReduce expects ('agg', array)")
    am = re.fullmatch(r"\s*'(\w+)'\s*", args[0])
    if not am or am.group(1) not in _ARRAY_REDUCE:
        raise ChSqlError(
            f"arrayReduce supports {sorted(_ARRAY_REDUCE)} — other "
            "aggregates need the explode + aggregate spelling"
        )
    return _ARRAY_REDUCE[am.group(1)].format(a=args[1])


def _array_cum_sum(m, a: str) -> str:
    """arrayCumSum / arrayDifference — CH array scalars, exact integer
    algebra when fed integral arrays (the bridge keeps the element
    type for arrayDifference; arrayCumSum folds in DOUBLE — CH keeps
    the widened input type, a documented divergence)"""
    return (
        f"aggregate({a.strip()}, named_struct("
        f"'o', CAST(array() AS ARRAY<DOUBLE>), 'r', CAST(0 AS DOUBLE)), "
        f"(acc, v) -> named_struct("
        f"'o', concat(acc.o, array(acc.r + v)), 'r', acc.r + v)).o"
    )


def _array_difference(m, a: str) -> str:
    # i is 0-based; element_at is 1-based, so element_at(a, i) IS
    # the previous element; v - v pins the leading 0 to the
    # array's own element type (element_at(a, 0) would raise)
    a = a.strip()
    return (
        f"transform({a}, (v, i) -> "
        f"if(i = 0, v - v, v - element_at({a}, i)))"
    )


_PARSE_DATETIME_CALL = re.compile(
    r"\bparseDateTime(OrNull|OrZero)?\s*\(", re.IGNORECASE
)
_TUPLE_ELEMENT_CALL = _call_pattern(("tupleElement",))
_TUPLE_INDEX = re.compile(r"\)\.(\d+)\b")
_SCALAR_CALLS = (
    (re.compile(r"\btoDecimal(32|64|128|256)(OrNull|OrZero)?\s*\(",
                re.IGNORECASE), _to_decimal),
    (_call_pattern(("multiIf",)), _multi_if),
    (_call_pattern(("dateDiff", "date_diff")), _date_diff),
    # leftPad/rightPad 2-arg form: CH defaults the pad string to a
    # space; the registered SQL UDFs are fixed 3-arg (round-12 wave 3)
    (_call_pattern(("leftPad", "rightPad")),
     lambda m, a: f"{m.group(0)}{a}, ' ')"
     if len(_split_top_commas(a)) == 2 else None),
    (_call_pattern(("age",)), _age),
    (re.compile(r"\baccurateCast(OrNull)?\s*\(", re.IGNORECASE),
     _accurate_cast),
    (_call_pattern(("toStartOfInterval",)), _start_of_interval),
    (_call_pattern(("simpleLinearRegression",)), _linear_regression),
    (_call_pattern(("arrayFold",)), _array_fold),
    (_call_pattern(("arrayReduce",)), _array_reduce),
    (_call_pattern(("arrayCumSum",)), _array_cum_sum),
    (_call_pattern(("arrayDifference",)), _array_difference),
)


def _rewrite_prewhere_settings(sql: str) -> str:
    """``PREWHERE c`` is ClickHouse's manual scan-stage filter hint —
    semantically a WHERE conjunct (Catalyst's predicate pushdown IS the
    automatic version), so ``PREWHERE a ... WHERE b`` folds to
    ``WHERE (a) AND (b)``. A trailing ``SETTINGS k=v, ...`` clause
    carries per-query server knobs with no Spark statement-level
    equivalent; it is stripped (session-level tuning lives in the
    SparkSession config)."""
    mp = _first_match(sql, r"\bPREWHERE\b")
    if mp:
        # the PREWHERE predicate runs until the next top-level clause
        after = [
            t
            for t in _top_level_matches(sql, _CLAUSE_AFTER_FROM)
            if t.start() > mp.end()
        ]
        pend = after[0].start() if after else len(sql)
        pred = sql[mp.end() : pend].strip().rstrip(";")
        rest = sql[pend:]
        mw = _first_match(rest, r"\bWHERE\b")
        if mw and mw.start() == 0:  # PREWHERE directly followed by WHERE
            wafter = [
                t
                for t in _top_level_matches(rest, _CLAUSE_AFTER_FROM)
                if t.start() > mw.end()
            ]
            wend = wafter[0].start() if wafter else len(rest)
            wpred = rest[mw.end() : wend].strip()
            rest = f"WHERE ({pred}) AND ({wpred}) " + rest[wend:]
        else:
            rest = f"WHERE {pred} " + rest
        sql = sql[: mp.start()] + rest
    # SETTINGS is grammatically the FINAL clause of a CH statement:
    # strip only a top-level (depth-0) match whose remainder actually
    # parses as `name = value [, name = value ...]`. An identifier that
    # merely happens to be called `settings` (a projected column, a
    # WHERE operand — round-5 advisory repro `SELECT settings FROM t`)
    # fails one of those tests and passes through untouched.
    for ms in _top_level_matches(sql, r"\bSETTINGS\b"):
        tail = sql[ms.end() :].strip().rstrip(";")
        if re.fullmatch(
            r"\s*\w+\s*=\s*[^,]+(\s*,\s*\w+\s*=\s*[^,]+)*\s*", tail
        ) and _first_match(sql[: ms.start()], r"\bFROM\b"):
            # round 11 probe: only EXECUTION knobs may strip silently.
            # Some SETTINGS change RESULTS — join_use_nulls flips
            # non-matched join columns from type defaults to NULL,
            # final=1 applies FINAL to every table, limit/offset act
            # as the LIMIT clause, group_by_use_nulls changes rollup
            # key rendering — dropping those silently diverges, so
            # they reject with the Spark spelling named.
            semantic = {
                "join_use_nulls": "Spark joins are ANSI (non-matched "
                "columns are NULL already) — drop the setting and "
                "verify the join type",
                "group_by_use_nulls": "Spark GROUPING SETS render "
                "missing keys as NULL already",
                "final": "spell FROM t FINAL per table (the "
                "final_tables contract)",
                "limit": "spell the LIMIT clause",
                "offset": "spell the OFFSET clause",
                "totals_mode": "WITH TOTALS bridges as GROUPING SETS; "
                "only the default totals_mode is bridged",
                "union_default_mode": "spell UNION ALL / UNION "
                "DISTINCT explicitly",
                "empty_result_for_aggregation_by_empty_set": "Spark "
                "returns the ANSI empty-set aggregate row; only the "
                "default is bridged",
                "aggregate_functions_null_for_empty": "the -OrNull "
                "combinators are the bridged spelling of that "
                "contract",
            }
            for kv in tail.split(","):
                key = kv.split("=")[0].strip().lower()
                if key in semantic:
                    raise ChSqlError(
                        f"SETTINGS {key}: this setting changes query "
                        f"RESULTS, not execution — stripping it would "
                        f"silently diverge. {semantic[key]}"
                    )
            sql = sql[: ms.start()].rstrip()
            break
    return sql


# ---------------------------------------------------------------------------
# 2c. FROM t SAMPLE f -> deterministic md5 filter (given sample_by)
# ---------------------------------------------------------------------------
def _rewrite_sample(sql: str, sample_by: dict | None) -> str:
    """``FROM t SAMPLE 0.1`` reads a deterministic subset chosen by the
    table's ``SAMPLE BY`` hash — DDL knowledge Spark doesn't have, so
    the caller supplies the sampling key: ``sample_by={"t": "key"}``.
    The rewrite uses the portable md5 prefix contract (q62's dialect):
    the subset is REPLAY-STABLE and identical across Spark and any
    SQL oracle, but NOT bit-compatible with ClickHouse's cityHash
    choice of rows — same statistical contract, different members
    (documented, not silent: an unconfigured SAMPLE raises).
    Fractions only (decimal ``0.1`` or ratio ``1/10``), with the
    ``OFFSET y`` tail as the shifted hash window [y, y + x); the
    ``SAMPLE n`` row-count form is not supported. Round 11 probe: the
    ratio and OFFSET grammars previously fell through half-consumed
    (``FROM t/10``, a stray ``OFFSET 0.5``) — silent text corruption,
    now bridged."""

    def _frac(txt: str, what: str) -> float:
        rm = re.fullmatch(r"([0-9.]+)\s*/\s*([0-9]+)", txt.strip())
        if rm:
            return float(rm.group(1)) / float(rm.group(2))
        try:
            return float(txt)
        except ValueError:  # pragma: no cover - pattern-bounded
            raise ChSqlError(f"SAMPLE: cannot parse {what} {txt!r}") from None

    def sample(m: re.Match) -> str:
        table = m.group(1)
        frac = _frac(m.group(2), "fraction")
        off = _frac(m.group(3), "offset") if m.group(3) else 0.0
        if frac > 1.0:
            raise ChSqlError("SAMPLE n (row-count form) is not supported")
        if off + frac > 1.0:
            raise ChSqlError(
                f"SAMPLE {m.group(2)} OFFSET {m.group(3)}: the window "
                "extends past 1.0 — ClickHouse clamps, which silently "
                "shrinks the sample; shrink the fraction or offset"
            )
        if not sample_by or table not in sample_by:
            raise ChSqlError(
                f"FROM {table} SAMPLE needs its sampling key: pass "
                "sample_by={'" + table + "': 'key_col'}"
            )
        key = sample_by[table]
        # a qualified name (db.t) is not a valid subquery alias: alias
        # by the last component only (round-5 advisory)
        alias = table.split(".")[-1]
        if frac >= 1.0:
            return f"FROM {table}"
        hx = f"substr(md5(CAST({key} AS STRING)), 1, 8)"
        # when the window's upper edge reaches 1.0 exactly (the
        # canonical disjoint-shard usage: SAMPLE 1/2 OFFSET 1/2),
        # int(1.0 * 16**8) formats to NINE hex chars and the 8-char
        # md5 prefix compares below it only when it starts with
        # '0' — i.e. the emitted `< hi` bound silently EMPTIES the
        # tail shard (ADVICE r11, high). The tail window needs no
        # upper bound at all: emit only `>= lo`.
        hi_int = int((off + frac) * 16**8)
        if hi_int >= 16**8:
            if off <= 0.0:  # pragma: no cover - frac>=1.0 handled above
                return f"FROM {table}"
            lo = format(int(off * 16**8), "08x")
            cond = f"{hx} >= '{lo}'"
        elif off > 0.0:
            lo = format(int(off * 16**8), "08x")
            hi = format(hi_int, "08x")
            cond = f"{hx} >= '{lo}' AND {hx} < '{hi}'"
        else:
            cond = f"{hx} < '{format(hi_int, '08x')}'"
        return f"FROM (SELECT * FROM {table} WHERE {cond}) {alias}"

    return _sub_code(
        sql,
        r"\bFROM\s+([A-Za-z_][A-Za-z0-9_.]*)\s+SAMPLE\s+"
        r"([0-9.]+(?:\s*/\s*[0-9]+)?)"
        r"(?:\s+OFFSET\s+([0-9.]+(?:\s*/\s*[0-9]+)?))?",
        sample,
    )


# ---------------------------------------------------------------------------
# 3a. GROUP BY ... WITH TOTALS -> GROUPING SETS ((cols), ())
# ---------------------------------------------------------------------------
def _rewrite_with_totals(sql: str) -> str:
    """ClickHouse ``GROUP BY k1, k2 WITH TOTALS`` appends one
    aggregated-over-everything row — EXACTLY Spark's
    ``GROUP BY GROUPING SETS ((k1, k2), ())`` (the totals row carries
    NULL group keys in both engines).

    Both anchors are TOP-LEVEL (depth-0) matches: a subquery's GROUP BY
    must never be taken as the owner of a top-level WITH TOTALS (the
    round-5 advisory repro — a dashboard aggregate over a subquery with
    its own GROUP BY emitted mangled SQL). Subqueries are masked out
    before this pass anyway (``_mask_subselects``), so the guard is
    defense in depth; a WITH TOTALS with no top-level GROUP BY raises."""
    mts = _top_level_matches(sql, r"\bWITH\s+TOTALS\b")
    if not mts:
        return sql
    mt = mts[0]
    groups = [
        g
        for g in _top_level_matches(sql, r"\bGROUP\s+BY\b")
        if g.start() < mt.start()
    ]
    if not groups:
        raise ChSqlError("WITH TOTALS without a top-level GROUP BY")
    m = groups[-1]
    keys = sql[m.end() : mt.start()].strip()
    return (
        sql[: m.end()]
        + f" GROUPING SETS (({keys}), ())"
        + sql[mt.end() :]
    )


# ---------------------------------------------------------------------------
# 3b. FROM t FINAL -> latest-row-per-key subquery
# ---------------------------------------------------------------------------
def _rewrite_final(sql: str, final_tables: dict | None) -> str:
    """``FROM t FINAL`` — ClickHouse collapses a ReplacingMergeTree to
    the surviving row per sorting key at read time. That semantics
    lives in the table DDL (ORDER BY key + version column), which Spark
    does not have, so the caller supplies it:
    ``final_tables={"t": (["k1", "k2"], "version_col")}`` — the rewrite
    keeps the highest-version row per key (row_number window). Ties on
    the version column are arbitrary in ClickHouse too — use a unique
    version column for deterministic results. A FINAL on a table absent
    from ``final_tables`` raises rather than silently dropping the
    modifier."""
    def final(m: re.Match) -> str:
        table = m.group(1)
        if not final_tables or table not in final_tables:
            raise ChSqlError(
                f"FROM {table} FINAL needs its ReplacingMergeTree contract: "
                "pass final_tables={'" + table + "': ([key_cols], version_col)}"
            )
        keys, version = final_tables[table]
        # alias by the last name component: "...) db.t" is unparseable
        # for a qualified table (round-5 advisory)
        return (
            f"FROM (SELECT * EXCEPT (__rn) FROM ("
            f"SELECT __ft.*, row_number() OVER (PARTITION BY {', '.join(keys)} "
            f"ORDER BY {version} DESC) AS __rn FROM {table} __ft"
            f") WHERE __rn = 1) {table.split('.')[-1]}"
        )

    return _sub_code(
        sql, r"\bFROM\s+([A-Za-z_][A-Za-z0-9_.]*)\s+FINAL\b", final
    )


# ---------------------------------------------------------------------------
# 4. LIMIT n BY k1, k2 -> row_number window filter
# ---------------------------------------------------------------------------
def _rewrite_limit_with_ties(sql: str) -> str:
    """``ORDER BY ... LIMIT n WITH TIES`` → a rank() filter: WITH TIES
    returns every row whose sort key equals the n-th row's, which is
    exactly ``rank() OVER (statement ORDER BY) <= n`` (rank counts tie
    groups collectively, so a tie group straddling the cut survives
    whole). Spark has no WITH TIES; the rewrite wraps the statement.
    Requires a top-level ORDER BY (CH does too)."""
    m = _first_match(sql, r"\bLIMIT\s+(\d+)\s+WITH\s+TIES\b")
    if not m:
        return sql
    tms = [
        t for t in _top_level_matches(sql, r"\bLIMIT\s+\d+\s+WITH\s+TIES\b")
        if t.start() == m.start()
    ]
    if not tms:
        raise ChSqlError(
            "LIMIT ... WITH TIES inside a subquery is not rewritable at "
            "this level (each nesting level rewrites independently)"
        )
    n = int(m.group(1))
    obs = [
        t for t in _top_level_matches(sql, r"\bORDER\s+BY\b")
        if t.start() < m.start()
    ]
    if not obs:
        raise ChSqlError(
            "LIMIT n WITH TIES needs the statement's ORDER BY (ties are "
            "defined by the sort key)"
        )
    ob = obs[-1]
    order_txt = sql[ob.end() : m.start()].strip()
    inner = sql[: m.start()].strip()
    tail = sql[m.end() :].strip()
    if tail:
        raise ChSqlError(
            "LIMIT n WITH TIES must be the final clause"
        )
    return (
        f"SELECT * EXCEPT (__wt_rank) FROM (SELECT *, rank() OVER "
        f"(ORDER BY {order_txt}) AS __wt_rank FROM ({inner}) __wt_base) "
        f"__wt WHERE __wt_rank <= {n} ORDER BY {order_txt}"
    )


def _is_bare_tuple(text: str) -> list[str] | None:
    """``(e1, e2, ...)`` with >= 2 top-level elements and the outer
    parens matching end-to-end — a CH tuple literal/expression, not a
    call's argument list. Returns the element texts or None."""
    t = text.strip()
    if not t.startswith("("):
        return None
    if _match_paren(t, 0) != len(t) - 1:
        return None
    items = _split_top_commas(t[1:-1])
    return items if len(items) >= 2 else None


def _pos_struct(items: list[str]) -> str:
    inner = ", ".join(f"'_{i + 1}', {e}" for i, e in enumerate(items))
    return f"named_struct({inner})"


def _rewrite_tuple_in(sql: str) -> str:
    """CH composite-key membership ``(a, b) IN ((1, 2), (3, 4))``
    (round-10 gap probe): Spark compares struct types INCLUDING field
    names, so the bare-paren spelling dies with named_struct(a, ...)
    vs named_struct(col1, ...) type mismatch. Both sides rewrite to
    POSITIONAL named_structs (``'_1', '_2'`` — the tuple() template's
    names, so ``tuple(a, b) IN ((1, 2))`` composes too). Only the
    literal-tuple-list RHS is touched: ``(a, b) IN (subquery)`` is
    native Spark (the masked block token is a single element), and a
    scalar IN list has no parenthesized tuple elements. An arity
    mismatch is left for Spark's analyzer to reject loudly. Scope:
    paren-depth-0 of each nesting level (WHERE/HAVING/CASE arms); a
    tuple-IN buried inside a function call keeps Spark's loud
    struct-name mismatch. Idempotent: rewritten sides are
    named_struct CALLS, which the bare-tuple detector skips."""
    for m in reversed(
        _top_level_matches(sql, r"\b(?:GLOBAL\s+)?(?:NOT\s+)?IN\s*\(")
    ):
        o = m.end() - 1
        c = _match_paren(sql, o)
        items = _split_top_commas(sql[o + 1 : c])
        elem_lists = [_is_bare_tuple(i) for i in items]
        if not items or any(e is None for e in elem_lists):
            continue
        # LHS: the nearest non-space char left of [NOT] IN must close a
        # bare tuple. Parens preceded by an IDENTIFIER are a call's
        # argument list (`foo(a, b) IN ...` compares foo's result) and
        # stay untouched — but a preceding KEYWORD (SELECT/WHERE/AND/
        # ...) just delimits the expression, so the tuple wraps.
        k = m.start() - 1
        while k >= 0 and sql[k].isspace():
            k -= 1
        lhs_items = None
        if k >= 0 and sql[k] == ")":
            lo = _pair_map(sql).get(k)
            if lo is not None:
                head = re.search(r"([A-Za-z_]\w*)\s*$", sql[:lo])
                tail_ch = sql[:lo].rstrip()[-1:]
                is_call = bool(head) and head.group(1).upper() not in (
                    "SELECT", "DISTINCT", "WHERE", "AND", "OR", "NOT",
                    "ON", "WHEN", "THEN", "ELSE", "CASE", "BY", "HAVING",
                    "ALL", "ANY", "IN", "JOIN", "SET", "UNION", "EXCEPT",
                    "INTERSECT", "AS", "BETWEEN", "IS", "LIKE",
                ) or (not head and tail_ch in ("`", ")"))
                if not is_call:
                    lhs_items = _is_bare_tuple(sql[lo : k + 1])
        rhs = ", ".join(_pos_struct(e) for e in elem_lists)
        sql = sql[: o + 1] + rhs + sql[c:]
        if lhs_items:
            sql = sql[:lo] + _pos_struct(lhs_items) + sql[k + 1 :]
    return sql


def _rewrite_limit_by(sql: str) -> str:
    """``LIMIT [offset,] n BY cols`` / ``LIMIT n OFFSET m BY cols`` —
    CH's per-group row cap (rows offset+1..offset+n of each group in
    the statement order) as a row_number window. Both offset spellings
    bridge (round 10 — the OFFSET form previously slipped through
    unrewritten into Spark's parser)."""
    mlb = _top_level_matches(
        sql, r"\bLIMIT\s+(\d+)\s*(?:,\s*(\d+)|OFFSET\s+(\d+))?\s*BY\b"
    )
    if not mlb:
        return sql
    if len(mlb) > 1:
        raise ChSqlError("multiple top-level LIMIT ... BY clauses")
    m = mlb[0]
    if m.group(2):  # LIMIT offset, n BY
        off, n = int(m.group(1)), int(m.group(2))
    elif m.group(3):  # LIMIT n OFFSET m BY
        off, n = int(m.group(3)), int(m.group(1))
    else:
        off, n = 0, int(m.group(1))

    # the BY expression list runs to the next top-level LIMIT or EOF
    tail_start = m.end()
    next_limit = [
        t
        for t in _top_level_matches(sql, r"\bLIMIT\b|\bSETTINGS\b")
        if t.start() >= tail_start
    ]
    by_end = next_limit[0].start() if next_limit else len(sql)
    by_cols = sql[tail_start:by_end].strip().rstrip(";")
    trailing = sql[by_end:].strip().rstrip(";")  # e.g. "LIMIT 100" or ""

    # the query's top-level ORDER BY (must precede LIMIT BY in CH syntax)
    orders = [t for t in _top_level_matches(sql, r"\bORDER\s+BY\b") if t.start() < m.start()]
    if orders:
        order_clause = sql[orders[0].end() : m.start()].strip()
        body = sql[: orders[0].start()]
    else:
        order_clause = None
        body = sql[: m.start()]
    body = body.strip().rstrip(";")

    win_order = order_clause if order_clause else by_cols
    outer_order = f" ORDER BY {order_clause}" if order_clause else ""
    trail = f" {trailing}" if trailing else ""
    keep = (
        f"__rn > {off} AND __rn <= {off + n}" if off else f"__rn <= {n}"
    )
    return (
        f"SELECT * EXCEPT (__rn) FROM ("
        f"SELECT __t.*, row_number() OVER (PARTITION BY {by_cols} "
        f"ORDER BY {win_order}) AS __rn FROM ({body}) __t"
        f") WHERE {keep}{outer_order}{trail}"
    )


#: aggregate bases x combinator suffixes: any such call SURVIVING the
#: whole rewrite pipeline is an unbridged combinator stack — fail with
#: the stack named instead of Spark's unknown-function error three
#: layers down (round-10 probing wave; the documented-failure contract)
_COMB_STACK_PAT = (
    # longer names BEFORE their prefixes (alternation is first-match):
    # avgWeighted before avg, uniqUpTo before uniq, groupArrayMoving*/
    # Sorted/InsertAt before groupArray, deltaSumTimestamp before
    # deltaSum, maxIntersections*/maxMap before max, topKWeighted
    # before topK — round 11 probe: avgWeightedResample and
    # uniqUpToResample slipped past the reject to Spark's resolver
    r"\b(sumCount|sumMap|sum|countDistinct|count|avgWeighted|avg|"
    r"minMap|min|maxMap|maxIntersectionsPosition|maxIntersections|max|"
    r"anyLast|anyHeavy|any|uniqExact|uniqHLL12|uniqCombined64|"
    r"uniqCombined|uniqTheta|uniqUpTo|uniq|quantiles\w*?|quantile\w*?|"
    r"median\w*?|argMax|argMin|groupArrayMovingSum|groupArrayMovingAvg|"
    r"groupArraySorted|groupArrayInsertAt|groupArray|groupUniqArray|"
    r"topKWeighted|topK|stddev\w*?|var\w*?|corr|covar\w*?|skew\w*?|"
    r"kurt\w*?|deltaSumTimestamp|deltaSum|entropy|retention|"
    r"boundingRatio|studentTTest|welchTTest|mannWhitneyUTest|"
    r"kolmogorovSmirnovTest|sequenceMatch|sequenceCount|"
    r"sequenceNextNode|windowFunnel|largestTriangleThreeBuckets|lttb|"
    r"exponentialMovingAverage|intervalLengthSum|"
    r"simpleLinearRegression)"
    r"((?:If|OrNull|OrDefault|Array|Distinct|State|SimpleState|Merge|"
    r"ForEach|Resample|Map){1,})\s*\("
)


def _reject_unbridged_combinators(sql: str) -> str:
    """Loud reject for aggregate-combinator stacks no pass bridged
    (``sumForEach``, ``avgStateIf``, ``quantileMerge``, ...): every
    bridged form was rewritten away by now, so a surviving
    base+combinator call would otherwise surface as Spark's
    UNRESOLVED_ROUTINE three layers down, or — worse — resolve against
    an unrelated registered UDF. Runs on each nesting level's own text
    (subqueries are masked), after every expression pass."""
    m = _first_match(sql, _COMB_STACK_PAT)
    if m:
        raise ChSqlError(
            f"{m.group(1)}{m.group(2)}(...): this aggregate-combinator "
            "stack is not bridged. Bridged stacks: -If, -Distinct, "
            "-Array, -ArrayIf, -State/-Merge (count/sum/min/max/avg/"
            "uniq), -OrNull/-OrDefault and their -If compositions, "
            "-Map (2-array sum/min/max). Spell anything else as an "
            "explicit CASE/array expression, or as two queries for "
            "-ForEach/-Resample shapes"
        )
    return sql


def _mask_subselects(
    sql: str, final_tables: dict | None, sample_by: dict | None,
    dictionaries: dict | None = None,
) -> tuple[str, dict[str, str]]:
    """Replace every parenthesized SELECT/WITH block with an inert
    identifier token, RECURSIVELY rewriting each block's content first.

    This is what makes the rewriter whole-statement instead of
    top-level-only (round-5 verdict, missing #1): each nesting level
    sees only its own clauses — a subquery's GROUP BY / SETTINGS /
    LIMIT BY can never be captured by an outer pass, and every level
    gets the full rewrite applied to it. Masking reads the same lexer
    as the clause passes, so a '(' inside a string literal, identifier
    or comment never opens a block, and an apostrophe in a comment
    never hides one."""
    blocks: dict[str, str] = {}
    out: list[str] = []
    cur, last = None, 0
    for m in re.finditer(r"\(\s*(SELECT|WITH)\b", sql, re.IGNORECASE):
        i = m.start()
        cur = cur or _Cursor(sql)
        if i < last or cur.at(i)[1]:
            continue  # inside a masked block, or opaque text
        close = _match_paren(sql, i)
        token = f"__CHSQL_SUB_{len(blocks)}__"
        blocks[token] = rewrite_clickhouse_sql(
            sql[i + 1 : close], final_tables, sample_by, dictionaries
        )
        out.append(sql[last:i])
        out.append(f"({token})")
        last = close + 1
    out.append(sql[last:])
    return "".join(out), blocks


#: CH maintenance/DDL statements -> the engine API that owns the
#: operation (round 10): these are not queries, and letting them fall
#: through to Spark's parser produces misleading errors
_CH_MAINTENANCE = (
    (
        r"^\s*OPTIMIZE\s+TABLE\b",
        "OPTIMIZE TABLE [FINAL] is part-merging maintenance — "
        "ManifestTable.compact(spark) is this engine's equivalent "
        "(plans/manifest.py); FINAL-at-read is the final_tables= "
        "contract on ch_sql",
    ),
    (
        r"^\s*ALTER\s+TABLE\s+\S+\s+DELETE\b",
        "ALTER TABLE ... DELETE (a CH mutation) maps to "
        "ManifestTable.delete_where(spark, predicate) — like CH, the "
        "delete rewrites the affected files, it is not in-place",
    ),
    (
        r"^\s*ALTER\s+TABLE\s+\S+\s+UPDATE\b",
        "ALTER TABLE ... UPDATE (a CH mutation) maps to "
        "ManifestTable.update_where(spark, predicate, assignments) — "
        "or upsert(source, key_cols) for key-matched rewrites; like "
        "CH, both rewrite the affected files, never in place",
    ),
    (
        r"^\s*SYSTEM\b",
        "CH SYSTEM commands manage a ClickHouse server — there is "
        "none; Spark session state is managed through SparkSession "
        "conf and the manifest API",
    ),
    (
        r"\bENGINE\s*=\s*\w*MergeTree\b",
        "CREATE TABLE ... ENGINE = *MergeTree maps to the storage "
        "layer, not a query: docs/MIGRATION.md section 2 (partitioned "
        "parquet via plans/manifest.ManifestTable, PARTITION BY -> "
        "layout.partition_by, ORDER BY -> sortWithinPartitions)",
    ),
    # round-12 wave 4
    (
        r"^\s*CREATE\s+MATERIALIZED\s+VIEW\b",
        "CREATE MATERIALIZED VIEW maps to a maintained rollup, not a "
        "view: streaming/incremental.maintain_rollup (the "
        "SummingMergeTree path, q73) or a writeStream into a "
        "ManifestTable — CH MVs are insert-triggered, which is "
        "exactly a foreachBatch sink",
    ),
    (
        r"^\s*KILL\s+QUERY\b",
        "KILL QUERY maps to "
        "spark.sparkContext.cancelJobGroup(group) — tag queries with "
        "setJobGroup first; there is no server-side query table",
    ),
    (
        r"^\s*WATCH\b",
        "WATCH (live views) maps to Structured Streaming: readStream "
        "on the source + the query as a streaming transformation",
    ),
    (
        r"^\s*EXISTS\s+TABLE\b",
        "EXISTS TABLE maps to spark.catalog.tableExists(name)",
    ),
    (
        r"^\s*SET\s+\w+\s*=",
        "standalone SET with a ClickHouse setting name would create "
        "an inert Spark conf key (a silent no-op) — set the Spark "
        "equivalent explicitly via spark.conf.set, or use the "
        "SETTINGS clause whose known result-changing names are "
        "mapped/rejected individually",
    ),
)


# ---------------------------------------------------------------------------
# misc CH grammar (round-12 probing wave): LIMIT offset-form, bare-table
# IN, untuple(), INTO OUTFILE
# ---------------------------------------------------------------------------
#: identifiers after IN that are grammar, not table names
_IN_KEYWORDS = frozenset(
    "select values any all some tuple array".split()
)


def _rewrite_misc_grammar(sql: str) -> str:
    """Round-12 probing wave — each form previously passed through to a
    Spark parser error three layers down (or, for OUTFILE, would have
    silently needed behavior Spark cannot provide):

    - ``LIMIT o, n`` — CH's MySQL-style offset form -> ``LIMIT n
      OFFSET o`` (the ``LIMIT o, n BY cols`` variant is LIMIT BY
      grammar and stays for that pass);
    - ``x IN table`` / ``x NOT IN table`` — CH's bare-table IN
      shorthand -> ``IN (SELECT * FROM table)``;
    - ``untuple(t)`` -> ``t.*`` (Spark's struct star expansion; CH
      names the expanded columns positionally, Spark by field name —
      documented divergence, same values);
    - ``INTO OUTFILE 'f'`` — a CLIENT-side file write; rejects loudly
      naming ``df.write`` (stripping it would silently not write the
      file the statement promises).
    """
    of = _first_match(sql, r"\bINTO\s+OUTFILE\b")
    if of:
        raise ChSqlError(
            "INTO OUTFILE writes a file on the CLIENT — not query "
            "semantics; run the SELECT and write with df.write"
            ".csv/.parquet(...)"
        )
    sql = _sub_code(
        sql, r"\bLIMIT\s+(\d+)\s*,\s*(\d+)\b(?!\s*BY\b)",
        lambda m: f"LIMIT {m.group(2)} OFFSET {m.group(1)}",
    )
    sql = _sub_code(
        sql, r"\bIN\s+([A-Za-z_][\w.]*)\b(?!\s*[(.])",
        lambda m: m.group(0)
        if m.group(1).lower() in _IN_KEYWORDS | _WIRE_FORMATS
        else f"IN (SELECT * FROM {m.group(1)})",
    )
    sql = _rewrite_calls(sql, _UNTUPLE_CALL, _untuple)
    return _rewrite_misc_fns(sql)


_UNTUPLE_CALL = _call_pattern(("untuple",))


def _untuple(m, inner: str) -> str:
    inner = inner.strip()
    if not re.fullmatch(r"[A-Za-z_]\w*(\.[A-Za-z_]\w*)*", inner):
        raise ChSqlError(
            f"untuple({inner!r}): only a named tuple column is "
            "bridged (Spark star-expands `col.*`) — alias the "
            "expression in a subquery first"
        )
    return f"{inner}.*"


#: CH toInterval* constructors -> Spark make_interval/make_dt_interval
#: call templates ({} = the argument text; non-literal args compose)
_TO_INTERVAL = {
    "tointervalyear": "make_interval({})",
    "tointervalquarter": "make_interval(0, 3 * ({}))",
    "tointervalmonth": "make_interval(0, {})",
    "tointervalweek": "make_interval(0, 0, {})",
    "tointervalday": "make_dt_interval({})",
    "tointervalhour": "make_dt_interval(0, {})",
    "tointervalminute": "make_dt_interval(0, 0, {})",
    "tointervalsecond": "make_dt_interval(0, 0, 0, {})",
}


def _rewrite_qualify(sql: str) -> str:
    """CH's ``QUALIFY <pred>`` (filter evaluated AFTER window
    functions) has no Spark clause. Standard decorrelation: the
    predicate is projected as one extra SELECT-list column (lateral
    alias resolution lets it reference sibling aliases, exactly CH's
    scoping), the statement becomes a subquery, and the outer query
    filters on it — post-QUALIFY clauses (ORDER BY / LIMIT) move to
    the outer level, preserving CH's evaluation order."""
    ms = _top_level_matches(sql, r"\bQUALIFY\b")
    if not ms:
        return sql
    m = ms[0]
    if _top_level_matches(sql, r"\b(UNION|EXCEPT|INTERSECT)\b"):
        raise ChSqlError(
            "QUALIFY in an un-parenthesized set-operation statement is "
            "not bridged — parenthesize each branch"
        )
    after = [
        t
        for t in _top_level_matches(
            sql, r"\b(ORDER\s+BY|LIMIT|OFFSET|SETTINGS|FORMAT)\b"
        )
        if t.start() > m.end()
    ]
    pend = after[0].start() if after else len(sql)
    pred = sql[m.end() : pend].strip().rstrip(";")
    tail = sql[pend:]
    head = sql[: m.start()].rstrip()
    froms = _top_level_matches(head, r"\bFROM\b")
    if not froms:
        raise ChSqlError("QUALIFY without a FROM clause is not bridged")
    fpos = froms[0].start()
    inner = (
        head[:fpos].rstrip()
        + f", ({pred}) AS __qual "
        + head[fpos:]
    )
    return (
        f"SELECT * EXCEPT (__qual) FROM ({inner}) __q "
        f"WHERE __qual {tail}"
    )


#: random/time/identity forms (round-12 wave 3). rand() is the one
#: SILENT divergence of the batch: it resolves to Spark's [0,1) double
#: builtin while CH returns a uniform UInt32 — `rand() % N` would run
#: and always yield 0.
_RAND_UINT32 = "CAST(floor(rand() * 4294967296) AS BIGINT)"


#: keywords that terminate an ORDER BY item list at its own depth
_ORDER_STOP = re.compile(
    r"(LIMIT|OFFSET|SETTINGS|FORMAT|UNION|EXCEPT|INTERSECT|WITH|"
    r"INTERPOLATE|ROWS|RANGE|GROUPS|WINDOW)\b",
    re.IGNORECASE,
)


def _rewrite_order_by_nulls(sql: str) -> str:
    """ClickHouse sorts NULLs LAST by default in BOTH sort directions;
    Spark's ASC default is NULLS FIRST — a SILENT row-order divergence
    for every ORDER BY over a nullable key that feeds a LIMIT, LIMIT
    BY, window frame, or neighbor/lag rewrite (round-12 wave 5).
    Every ORDER BY item (statement-level and window-spec) without an
    explicit NULLS FIRST/LAST gets ``NULLS LAST`` appended — CH's
    default, which is also DuckDB's, so oracles need no change.

    ADVICE r12: the span scan rides ``_lex`` so comments,
    strings and backtick identifiers are opaque (a ``limit`` inside a
    block comment no longer ends the span mid-comment), item text is
    preserved verbatim — newlines included — and ``NULLS LAST`` is
    inserted after the item's last CODE character, never after a
    trailing ``--`` comment that would swallow it and everything
    after."""
    pos = 0
    while True:
        m = _first_match(sql[pos:], r"\bORDER\s+BY\b")
        if not m:
            return sql
        istart = pos + m.end()
        # span scan: end at a stop keyword at the SAME depth, at the
        # ')' closing the enclosing block (window spec), or at EOS. A
        # stop keyword can only TERMINATE the list after the current
        # item has content — `ORDER BY interpolate` is a column named
        # interpolate (the FillRejectionScope contract), while
        # `ORDER BY x LIMIT 5`'s LIMIT follows a complete item
        n = len(sql)
        end = n
        item_content = False
        prev_code = " "
        commas = []  # top-level comma positions inside the span
        for off, ch, d, kind in _lex(sql[istart:]):
            i = istart + off
            if kind == "comment":
                continue  # opaque: no content, never a stop keyword
            if kind != "code":
                item_content = True
                prev_code = ch
                continue
            if ch == ")" and d < 0:
                end = i
                break
            if d == 0:
                if ch == ",":
                    commas.append(i)
                    item_content = False
                elif ch.isalpha() or ch == "_":
                    if (
                        item_content
                        and not (prev_code.isalnum() or prev_code == "_")
                        and _ORDER_STOP.match(sql, i)
                    ):
                        end = i
                        break
                    item_content = True
                elif not ch.isspace():
                    item_content = True
            elif not ch.isspace():
                item_content = True
            prev_code = ch
        # segment k spans (after previous comma) .. (next comma or end)
        starts = [istart] + [c + 1 for c in commas]
        seg_ends = commas + [end]
        parts = [sql[b:e] for b, e in zip(starts, seg_ends)]
        out_parts = []
        for it in parts:
            code_chars = []
            last = -1
            for k, c, _d2, kind in _lex(it):
                if kind == "comment":
                    continue
                code_chars.append(c)
                if not c.isspace():
                    last = k
            code = "".join(code_chars).strip()
            if not code or re.search(
                r"\bNULLS\s+(FIRST|LAST)$", code, re.IGNORECASE
            ):
                out_parts.append(it)
            else:
                out_parts.append(
                    it[: last + 1] + " NULLS LAST" + it[last + 1 :]
                )
        rep = ",".join(out_parts)
        sql = sql[:istart] + rep + sql[end:]
        pos = istart + len(rep)


def _reject_parametrized_calls(sql: str) -> str:
    """Catch-all for CH's ``name(params)(args)`` parametrized-aggregate
    call shape (round-12 wave 4): every BRIDGED parametrized family
    (quantile*, topK, histogram-free forms, groupArraySorted, LTTB,
    sequence*, windowFunnel, ...) has been rewritten by the time this
    runs, so any survivor is an unbridged sketch/parametrized
    aggregate (quantileBFloat16, histogram, sparkBar, groupArrayLast,
    ...) — previously a bare Spark PARSE_SYNTAX_ERROR three layers
    down, now a loud named reject. The double-call shape does not
    exist in Spark SQL, so there are no false positives to protect."""
    pairs, cur, n = _pair_map(sql), _Cursor(sql), len(sql)
    for m in re.finditer(r"\b([A-Za-z_]\w*)\s*\(", sql):
        if cur.at(m.start())[1]:
            continue
        o = m.end() - 1
        if o not in pairs:
            raise ChSqlError(f"unbalanced parentheses at offset {o}")
        c = pairs[o]
        j = c + 1
        while j < n and sql[j] in " \t\r\n":
            j += 1
        if j < n and sql[j] == "(":
            raise ChSqlError(
                f"{m.group(1)}({sql[o + 1 : c]})(...): this "
                "parametrized aggregate is not bridged — the bridged "
                "parametrized families are quantile*/topK*/LTTB/"
                "sequence*/windowFunnel/groupArraySorted/"
                "groupArrayInsertAt/groupArrayMoving*/uniqUpTo/"
                "exponentialMovingAverage/sumCount-class; see "
                "DIALECT_NOTES for the full surface"
            )
    return sql


def _rewrite_misc_fns(sql: str) -> str:
    for pat, msg in (
        (r"\brand64\s*\(", "rand64 returns a uniform UInt64 — the upper "
         "half exceeds BIGINT; use rand() (bridged to the UInt32 "
         "domain) or randCanonical() and scale"),
        (r"\btoTimeZone\s*\(", "toTimeZone changes a DateTime's display "
         "zone; this engine pins the session to UTC — use "
         "convert_timezone(...) explicitly if you truly want "
         "wall-clock-shifted values"),
        (r"\bsleep(EachRow)?\s*\(", "sleep/sleepEachRow are CH testing "
         "functions with no query semantics"),
    ):
        if _first_match(sql, pat):
            raise ChSqlError(msg)
    # simple call renames: CH name -> Spark spelling, arguments kept
    sql = _rewrite_calls(
        sql, _FN_RENAME_CALL,
        lambda m, a: f"{_FN_RENAMES[m.group(1).lower()]}({a})",
    )
    # wave-5b scalar batch: bit operators, negated LIKEs, substring
    # alias, array constructors (argument-order/variadic forms a
    # registered SQL UDF cannot express)
    sql = _rewrite_calls(sql, _FN_TEMPLATE_CALL, _fn_template)
    sql = _rewrite_calls(sql, _BIT_TEST_CALL, _bit_test)
    sql = _rewrite_calls(sql, _ARRAY_RESIZE_CALL, _array_resize)
    # toInterval* constructors -> make_interval/make_dt_interval
    sql = _rewrite_calls(
        sql, _TO_INTERVAL_CALL,
        lambda m, a: _TO_INTERVAL[m.group(1).lower()].format(a.strip()),
    )
    sql = _rewrite_calls(sql, _MAP_ARITH_CALL, _map_arith)
    # now64([precision]) -> now() (micros; CH precision arg dropped);
    # toNullable(x) -> (x): Spark nullability is inferred, the wrapper
    # is a no-op on values; rand() / rand(x) -> uniform UInt32 draw
    # (CH's dummy argument only defeats common-subexpression
    # elimination; Spark's rand() is per-row already, so it is dropped)
    sql = _rewrite_calls(sql, _NOW64_CALL, lambda m, a: "now()")
    sql = _rewrite_calls(sql, _TO_NULLABLE_CALL, lambda m, a: f"({a})")
    return _rewrite_calls(sql, _RAND_CALL, lambda m, a: _RAND_UINT32)


#: call renames, arguments kept; JSONExtractKeys(j) -> Spark's
#: json_object_keys; anyHeavy -> mode (CH: SOME heavy hitter if one
#: exists, else arbitrary — mode is the deterministic refinement of
#: that contract)
_FN_RENAMES = {
    "max2": "greatest",
    "min2": "least",
    "roundbankers": "bround",  # 1- and 2-arg both
    "jsonextractkeys": "json_object_keys",
    "anyheavy": "mode",
}
#: name -> (template, arity)
_FN_TEMPLATES = {
    "bitand": ("({0} & {1})", 2),
    "bitor": ("({0} | {1})", 2),
    "bitxor": ("({0} ^ {1})", 2),
    "bitnot": ("(~{0})", 1),
    "notlike": ("({0} NOT LIKE {1})", 2),
    "notilike": ("({0} NOT ILIKE {1})", 2),
    "mid": ("substring({0}, {1}, {2})", 3),
    "arraywithconstant": ("array_repeat({1}, CAST({0} AS INT))", 2),
    "todatetime64": ("CAST({0} AS TIMESTAMP)", 2),
}
_FN_RENAME_CALL = _call_pattern(_FN_RENAMES)
_FN_TEMPLATE_CALL = _call_pattern(_FN_TEMPLATES)
_BIT_TEST_CALL = _call_pattern(("bitTestAll", "bitTestAny"))
_ARRAY_RESIZE_CALL = _call_pattern(("arrayResize",))
_TO_INTERVAL_CALL = _call_pattern(_TO_INTERVAL)
_MAP_ARITH_CALL = _call_pattern(("mapAdd", "mapSubtract"))
_NOW64_CALL = _call_pattern(("now64",))
_TO_NULLABLE_CALL = _call_pattern(("toNullable",))
_RAND_CALL = _call_pattern(("rand",))


def _fn_template(m, args: str) -> str:
    tpl, nargs = _FN_TEMPLATES[m.group(1).lower()]
    args = _split_top_commas(args)
    if len(args) != nargs:
        raise ChSqlError(
            f"{m.group(1)} expects {nargs} arguments, got {len(args)}"
        )
    return tpl.format(*args)


def _bit_test(m, args: str) -> str:
    """bitTestAll/bitTestAny(x, b1, b2, ...) — variadic bit probes"""
    args = _split_top_commas(args)
    if len(args) < 2:
        raise ChSqlError(f"{m.group(1)} needs a value and >= 1 bit")
    x = args[0]
    joiner = " AND " if m.group(1).lower() == "bittestall" else " OR "
    probes = joiner.join(f"((({x}) >> ({b})) & 1) = 1" for b in args[1:])
    return f"(CAST({probes} AS INT))"


def _array_resize(m, args: str) -> str:
    """arrayResize(a, n, ext): truncate or right-extend with ext. The
    2-arg form extends with the element TYPE's default — unknowable
    textually (the min/maxOrDefault precedent) — and rejects; negative
    n (CH's resize-from-the-left) likewise"""
    args = _split_top_commas(args)
    if len(args) != 3:
        raise ChSqlError(
            "arrayResize is bridged for the 3-argument form "
            "(arr, size, extender) — the 2-arg form extends with "
            "the element type's default value, which has no "
            "textual spelling; negative sizes (resize from the "
            "left) are likewise not bridged"
        )
    a, n_, ext = args
    # ADVICE r12: sequence(1, 0) is the DESCENDING [1, 0] in Spark,
    # so size 0 evaluated element_at(a, 0) and raised at runtime —
    # CH returns []. Literal sizes resolve statically (negative =
    # CH's resize-from-the-left, documented reject); non-literal
    # sizes get a runtime guard — slice(a, 1, 0) is the typed empty
    # array, raise_error fires for negatives.
    nlit = re.fullmatch(r"[+-]?\d+", n_)
    if nlit and int(n_) < 0:
        raise ChSqlError(
            "arrayResize with a negative size (resize from the "
            "left) is not bridged"
        )
    if nlit and int(n_) == 0:
        return f"slice({a}, 1, 0)"
    if nlit:
        return (
            f"transform(sequence(1, CAST({n_} AS INT)), __i -> "
            f"if(__i <= size({a}), element_at({a}, __i), {ext}))"
        )
    body = (
        f"transform(sequence(1, greatest(CAST({n_} AS INT), 1)), "
        f"__i -> if(__i <= size({a}), element_at({a}, __i), {ext}))"
    )
    return (
        f"CASE WHEN CAST({n_} AS INT) < 0 THEN "
        f"raise_error('arrayResize: negative size (resize from "
        f"the left) is not bridged') "
        f"WHEN CAST({n_} AS INT) = 0 THEN slice({a}, 1, 0) "
        f"ELSE {body} END"
    )


def _map_arith(m, args: str) -> str:
    """map algebra: CH's merge-by-key arithmetic -> map_zip_with (keys
    union, absent value = 0); mapKeys/mapValues/mapContains etc. are
    registered functions — these two need the lambda"""
    args = _split_top_commas(args)
    if len(args) != 2:
        raise ChSqlError(
            f"{m.group(1)} is bridged for exactly 2 map arguments, "
            f"got {len(args)}"
        )
    op = "+" if m.group(1).lower() == "mapadd" else "-"
    return (
        f"map_zip_with({args[0]}, {args[1]}, (__k, __a, __b) -> "
        f"coalesce(__a, 0) {op} coalesce(__b, 0))"
    )


# ---------------------------------------------------------------------------
# statement-shape pass (round 12, VERDICT r11 #5): multi-statement
# input, trailing tails, query parameters, INSERT column lists
# ---------------------------------------------------------------------------
def _statement_tail(sql: str) -> tuple[int, list[int]]:
    """(content_end, semicolon_positions). content_end is one past the
    last character that is neither whitespace nor inside a comment
    (string and identifier bodies count as content); semicolons are
    those in code."""
    last = 0
    semis: list[int] = []
    for i, ch, _d, kind in _lex(sql):
        if kind == "comment":
            continue
        if kind == "code" and ch == ";":
            semis.append(i)
        elif kind != "code" or not ch.isspace():
            last = i + 1
    return last, semis


def _strip_statement_tail(sql: str) -> str:
    """One statement per call: strip trailing whitespace, comments and
    semicolons; a top-level ``;`` FOLLOWED by content is multi-statement
    input and rejects loudly (CH clients split on ';' client-side;
    Spark's parser error for the same text is three layers deeper and
    names the wrong token). The trailing strip also lets the later
    ``FORMAT <name>`` tail anchor fire through ``FORMAT JSON; -- c``."""
    last, semis = _statement_tail(sql)
    inner = [p for p in semis if p < last]
    if inner:
        raise ChSqlError(
            "multi-statement input (';' followed by more content): this "
            "bridge takes ONE statement per call — split client-side and "
            "call once per statement"
        )
    return sql[:last]


#: {name:Type} — ClickHouse query-parameter placeholder
_QPARAM = re.compile(r"\{\s*([A-Za-z_]\w*)\s*:\s*([A-Za-z0-9_(), ]+?)\s*\}")
_QPARAM_NUM = re.compile(
    r"(U?Int(8|16|32|64|128|256)|Float(32|64)|Decimal\d*\s*(\([^)]*\))?)\s*$",
    re.IGNORECASE,
)


#: strict value shapes for Date/DateTime params — validated, never
#: "sanitized" by quote-stripping (ADVICE r12: stripping quotes is not
#: an escape; validation is)
_QPARAM_DATE = re.compile(r"^\d{4}-\d{2}-\d{2}$")
_QPARAM_DATETIME = re.compile(
    r"^\d{4}-\d{2}-\d{2}([ T]\d{2}:\d{2}:\d{2}(\.\d{1,9})?)?$"
)


def _render_param(name: str, chtype: str, value) -> str:
    """One bound query parameter -> a safely-quoted Spark literal.

    ADVICE r12 hardening — this is the ONE surface meant to carry
    untrusted values safely, so:

    - String arm doubles BACKSLASHES before doubling quotes (Spark's
      default lexer treats ``\\`` as an escape, so a value ending in a
      backslash previously escaped the closing quote — injection);
    - integer CH types render via ``int`` (no float roundtrip — Int64
      above 2**53 was silently corrupted), rejecting non-integral
      values loudly;
    - Date/DateTime values must MATCH a strict datetime shape (quote
      stripping was not an escape mechanism)."""
    t = chtype.strip()
    tl = t.lower()
    if _QPARAM_NUM.match(t):
        if tl.startswith(("int", "uint")):
            if isinstance(value, bool):
                return str(int(value))
            if isinstance(value, int):
                return str(value)
            try:
                return str(int(str(value).strip()))
            except ValueError:
                pass
            try:
                fnum = float(value)
            except (TypeError, ValueError):
                raise ChSqlError(
                    f"query parameter {{{name}:{chtype}}}: value "
                    f"{value!r} is not numeric"
                ) from None
            if fnum != int(fnum) or abs(fnum) > 2**53:
                raise ChSqlError(
                    f"query parameter {{{name}:{chtype}}}: value "
                    f"{value!r} is not losslessly integral for an "
                    "integer ClickHouse type"
                )
            return str(int(fnum))
        if tl.startswith("decimal"):
            s = str(value).strip()
            if not re.match(r"^[+-]?\d+(\.\d+)?$", s):
                raise ChSqlError(
                    f"query parameter {{{name}:{chtype}}}: value "
                    f"{value!r} is not a decimal literal"
                )
            return s
        try:
            num = float(value)
        except (TypeError, ValueError):
            raise ChSqlError(
                f"query parameter {{{name}:{chtype}}}: value {value!r} "
                "is not numeric"
            ) from None
        return repr(num)
    if tl.startswith(("string", "fixedstring", "uuid", "enum")):
        s = str(value).replace("\\", "\\\\").replace("'", "''")
        return f"'{s}'"
    if tl.startswith("datetime"):
        s = str(value).strip()
        if not _QPARAM_DATETIME.match(s):
            raise ChSqlError(
                f"query parameter {{{name}:{chtype}}}: value {value!r} "
                "is not a 'YYYY-MM-DD[ hh:mm:ss[.f]]' datetime"
            )
        return f"TIMESTAMP '{s}'"
    if tl.startswith("date"):
        s = str(value).strip()
        if not _QPARAM_DATE.match(s):
            raise ChSqlError(
                f"query parameter {{{name}:{chtype}}}: value {value!r} "
                "is not a 'YYYY-MM-DD' date"
            )
        return f"DATE '{s}'"
    if tl.startswith("bool"):
        return "true" if value in (True, 1, "1", "true", "True") else "false"
    raise ChSqlError(
        f"query parameter {{{name}:{chtype}}}: type {chtype!r} is not "
        "bridged (numeric/String/Date/DateTime/Bool are)"
    )


def _rewrite_query_params(sql: str, params: dict | None) -> str:
    """ClickHouse query parameters ``{name:Type}`` (the parametrized-
    view / client --param surface) substitute to literals from
    ``params``; an UNBOUND placeholder rejects loudly (Spark would
    otherwise die on the brace token three layers down). The call form
    ``FROM view(name = x)`` also rejects with the binding spelled out —
    parametrized views are views over placeholders, and the bridge
    binds at rewrite time."""
    pv = _first_match(sql, r"\bFROM\s+[A-Za-z_][\w.]*\s*\(\s*\w+\s*=")
    if pv:
        raise ChSqlError(
            f"{pv.group(0).strip()!r}: parametrized-VIEW call — register "
            "the view body with {name:Type} placeholders and pass "
            "params={'name': value} to ch_sql/rewrite_clickhouse_sql"
        )

    def bind(m: re.Match) -> str:
        name, chtype = m.group(1), m.group(2)
        if not params or name not in params:
            raise ChSqlError(
                f"unbound query parameter {{{name}:{chtype}}} — pass "
                f"params={{'{name}': <value>}}"
            )
        return _render_param(name, chtype, params[name])

    return _sub_code(sql, _QPARAM, bind)


def _check_insert_statement(sql: str) -> None:
    """INSERT-statement gates (round-12 probe):

    - ``INSERT INTO t FORMAT <fmt>`` carries inline wire-format DATA —
      not a query; reject with the sink named (previously the FORMAT
      tail strip left a bare ``INSERT INTO t`` for Spark to choke on).
    - ``INSERT INTO t (cols) SELECT ...``: arity-check the column list
      against the SELECT list when it is statically countable — CH
      rejects a mismatch at parse; Spark's checker fires too, but
      three layers down against the ANALYZED plan with the rewrite's
      emitted text in the message. ``SELECT *`` arity needs schema:
      left to Spark's checker (loud either way)."""
    if not _first_match(sql, r"^\s*INSERT\s+INTO\b"):
        return
    if _first_match(
        sql, r"^\s*INSERT\s+INTO\s+[A-Za-z_][\w.]*\s*(\([^)]*\)\s*)?FORMAT\b"
    ):
        raise ChSqlError(
            "INSERT ... FORMAT carries inline wire-format data — not a "
            "query; use sinks/clickhouse.py (the batch INSERT sink) or "
            "INSERT ... SELECT / VALUES"
        )
    m = _first_match(sql, r"^\s*INSERT\s+INTO\s+[A-Za-z_][\w.]*\s*\(")
    if not m:
        return
    c = _match_paren(sql, m.end() - 1)
    cols = _split_top_commas(sql[m.end() : c])
    after = sql[c + 1 :]
    ms = re.match(r"\s*SELECT\b", after, re.IGNORECASE)
    if not ms:
        return  # VALUES / TABLE: Spark's arity check is already loud
    body = after[ms.end() :]
    # truncate at the first top-level clause/set-operator keyword, not
    # just FROM (ADVICE r12: a FROM-less `SELECT 1, 2 UNION ALL SELECT
    # 3, 4` counted both branches' lists and falsely rejected)
    stops = _top_level_matches(
        body,
        r"\b(FROM|WHERE|GROUP|HAVING|ORDER|LIMIT|OFFSET|UNION|EXCEPT|"
        r"INTERSECT|SETTINGS|FORMAT|WINDOW|QUALIFY)\b",
    )
    seg = body[: stops[0].start()] if stops else body
    if _first_match(seg, r"\*"):
        return
    items = _split_top_commas(seg.strip())
    if len(items) != len(cols):
        raise ChSqlError(
            f"INSERT INTO ... ({len(cols)} columns) SELECT with "
            f"{len(items)} expressions: column-list arity mismatch "
            "(ClickHouse rejects this at parse too) — align the lists"
        )


def rewrite_clickhouse_sql(
    sql: str,
    final_tables: dict | None = None,
    sample_by: dict | None = None,
    dictionaries: dict | None = None,
    params: dict | None = None,
) -> str:
    """Rewrite the supported non-scalar ClickHouse forms of a SELECT
    statement — INCLUDING all of its subqueries and CTE bodies, each
    rewritten at its own nesting level — into Spark SQL. Idempotent on
    already-ANSI input. ``final_tables`` supplies the
    ReplacingMergeTree contract for ``FROM t FINAL`` (see
    ``_rewrite_final``); ``sample_by`` supplies the sampling key for
    ``FROM t SAMPLE f`` (see ``_rewrite_sample``); both apply at every
    nesting level. CH maintenance statements (OPTIMIZE, mutations,
    SYSTEM, MergeTree DDL) reject up front with the owning engine
    API named."""
    # statement shape first (round 12): one statement per call (strip
    # trailing ';'/comments, reject real multi-statement input), bind
    # {name:Type} query parameters, gate INSERT forms — all BEFORE any
    # expression pass sees the text
    sql = _strip_statement_tail(sql)
    sql = _rewrite_query_params(sql, params)
    _check_insert_statement(sql)
    for pat, msg in _CH_MAINTENANCE:
        hit = _first_match(sql, pat)
        if hit:
            raise ChSqlError(f"{hit.group(0).strip()!r}: {msg}")
    # round-12 wave 4 statement bridges: RENAME TABLE (single pair) ->
    # Spark's ALTER ... RENAME; CH EXPLAIN variants -> the nearest
    # Spark EXPLAIN mode (PIPELINE/PLAN show physical detail ->
    # FORMATTED; ESTIMATE has no analogue and rejects; SYNTAX prints
    # the rewritten query, which IS this function's output)
    rn = re.match(
        r"^\s*RENAME\s+TABLE\s+(\S+)\s+TO\s+(\S+)\s*$", sql,
        re.IGNORECASE,
    )
    if rn:
        sql = f"ALTER TABLE {rn.group(1)} RENAME TO {rn.group(2)}"
    elif re.match(r"^\s*RENAME\s+TABLE\b", sql, re.IGNORECASE):
        raise ChSqlError(
            "RENAME TABLE with multiple pairs: issue one "
            "ALTER TABLE ... RENAME TO per table"
        )
    ex = re.match(
        r"^\s*EXPLAIN\s+(PIPELINE|PLAN|ESTIMATE|SYNTAX|AST)\b", sql,
        re.IGNORECASE,
    )
    if ex:
        mode = ex.group(1).upper()
        if mode in ("PIPELINE", "PLAN"):
            sql = "EXPLAIN FORMATTED " + sql[ex.end() :].lstrip()
        elif mode == "AST":
            sql = "EXPLAIN EXTENDED " + sql[ex.end() :].lstrip()
        else:
            raise ChSqlError(
                f"EXPLAIN {mode} has no Spark analogue — ESTIMATE "
                "row counts come from ANALYZE TABLE/statistics; "
                "SYNTAX's rewritten statement is exactly "
                "rewrite_clickhouse_sql's return value"
            )
    # CH double-quoted IDENTIFIERS -> backticks before anything else
    # (Spark would read them as string literals — silent divergence)
    sql = _rewrite_dquote_identifiers(sql)
    if _first_match(sql, r"\bDISTINCT\s+ON\s*\("):
        raise ChSqlError(
            "DISTINCT ON keeps an ARBITRARY (block-order) first row in "
            "ClickHouse — nondeterministic; spell the deterministic "
            "equivalent: ORDER BY <want> LIMIT 1 BY <on-cols> (bridged)"
        )
    sql, blocks = _mask_subselects(sql, final_tables, sample_by, dictionaries)
    # first: CH's scalar WITH constants feed every later rewrite (and
    # substitute into the masked block bodies — CH scoping). A block
    # that received a constant is re-rewritten: the substituted expr
    # text comes from the outer statement PRE-rewrite, so it may carry
    # CH function names the block's own (already finished) recursive
    # pass never saw; rewrites are idempotent on ANSI input, so the
    # second pass only touches what the substitution introduced.
    touched: list[str] = []
    sql = _rewrite_with_constants(sql, blocks, touched)
    for token in touched:
        blocks[token] = rewrite_clickhouse_sql(
            blocks[token], final_tables, sample_by, dictionaries
        )
    sql = _rewrite_numbers(sql)
    # CH alias visibility: SELECT-list aliases are legal in the same
    # query's WHERE — inline them (early, so later rewrites process
    # the copied expressions too)
    sql = _inline_aliases_into_where(sql)
    # early: CH bracket syntax (1-based subscripts -> element_at, [..]
    # literals -> array(..)) so every later rewrite sees Spark spelling
    sql = _rewrite_brackets(sql)
    # type-preserving array/regex vocabulary (fires before the typed
    # ARRAY<STRING> UDF registrations would resolve the same names)
    sql = _rewrite_array_vocabulary(sql)
    sql = _rewrite_type_names(sql)
    sql = _rewrite_int_literals(sql)
    # after the array vocabulary (tuple() is a named_struct by now, so
    # tuple(a, b) IN ((1, 2)) composes on the same positional names)
    sql = _rewrite_tuple_in(sql)
    sql = _rewrite_top(sql)
    sql = _rewrite_misc_grammar(sql)
    sql = _rewrite_ternary(sql)
    # before _rewrite_combinators: the -State name inside
    # runningAccumulate(...) determines the window merge function
    sql = _rewrite_running_accumulate(sql)
    sql = _rewrite_combinators(sql)
    sql = _rewrite_scalar_calls(sql)
    sql = _rewrite_format_datetime(sql)
    sql = _rewrite_topk(sql)
    sql = _rewrite_lttb(sql)
    sql = _rewrite_map_aggs(sql)
    sql = _rewrite_delta_ema(sql)
    sql = _rewrite_interval_aggs(sql)
    sql = _rewrite_assoc_aggs(sql)
    sql = _rewrite_weighted_aggs(sql)
    sql = _rewrite_sequence_next_node(sql)
    sql = _rewrite_uniq_upto(sql)
    sql = _rewrite_moving(sql)
    sql = _rewrite_retention(sql)
    sql = _rewrite_window_funnel(sql)
    sql = _rewrite_sequence_match(sql)
    sql = _rewrite_sequence_count(sql)
    sql = _rewrite_dictget(sql, dictionaries)
    sql = _rewrite_global_and_format(sql)
    sql = _rewrite_running(sql)
    sql = _rewrite_prewhere_settings(sql)
    sql = _rewrite_with_totals(sql)
    sql = _rewrite_sample(sql, sample_by)
    sql = _rewrite_final(sql, final_tables)
    sql = _rewrite_array_join_clause(sql)
    sql = _rewrite_array_join(sql)
    # CH/Spark NULL-ordering parity BEFORE the ORDER-BY-consuming
    # passes (LIMIT BY / QUALIFY / WITH TIES windows inherit the
    # normalized items)
    sql = _rewrite_order_by_nulls(sql)
    sql = _rewrite_limit_by(sql)
    # after the expression passes (its wrap is final Spark syntax);
    # before LIMIT WITH TIES, whose ORDER BY lands on the outer level
    sql = _rewrite_qualify(sql)
    sql = _rewrite_limit_with_ties(sql)
    # LAST among the expression passes (round 10): the limb moment
    # spelling inflates the statement by tens of KB per family call,
    # and every later pass re-scans the whole text — emitting it after
    # the other rewrites keeps their scans on the small original
    sql = _rewrite_stats_aggs(sql)
    sql = _reject_unbridged_combinators(sql)
    # catch-all LAST: combinator stacks got their specific reject
    # above; any surviving name(params)(args) shape is an unbridged
    # parametrized aggregate and rejects with its name
    sql = _reject_parametrized_calls(sql)
    for token, body in blocks.items():
        sql = sql.replace(f"({token})", f"({body})")
    return sql


# ---------------------------------------------------------------------------
# ORDER BY ... WITH FILL — the session-aware front door (round 7)
# ---------------------------------------------------------------------------
_WF_TAIL = re.compile(
    r"\bWITH\s+FILL\b"
    r"(?:\s+FROM\s+(?P<frm>.+?))?"
    r"(?:\s+TO\s+(?P<to>.+?))?"
    r"(?:\s+STEP\s+(?P<step>.+?))?"
    r"(?:\s+INTERPOLATE\s*(?P<interp>\(.*\))?)?"
    r"\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _extract_with_fill(sql: str):
    """Parse a top-level ``ORDER BY <key> [ASC|DESC] WITH FILL [FROM ..]
    [TO ..] [STEP ..] [INTERPOLATE (..)]`` tail. Returns None when the
    statement has no top-level WITH FILL, else ``(inner_sql, spec)``
    where ``inner_sql`` keeps the plain ORDER BY and ``spec`` carries
    key text, direction, from/to/step literals and interpolate columns.

    Multi-key ORDER BY is supported in the dashboard shape (round 7):
    plain SERIES keys first, the fill axis LAST — ``ORDER BY lang,
    bucket WITH FILL`` fills per lang group, bounds per group unless
    FROM/TO pin them globally (ClickHouse's restart-on-prefix-change
    semantics). A WITH FILL on a non-final key is not bridged.

    Restrictions (reject loudly, never silently approximate): one fill
    key (the last); no LIMIT after the fill (ClickHouse applies LIMIT
    to the FILLED result and the composition is rarely what a
    dashboard means); INTERPOLATE only in the identity / bare form
    (arbitrary previous-row expressions are not bridged)."""
    obs = _top_level_matches(sql, r"\bORDER\s+BY\b")
    if not obs:
        return None
    ob = obs[-1]
    wfs = [
        m
        for m in _top_level_matches(sql, r"\bWITH\s+FILL\b")
        if m.start() > ob.end()
    ]
    if not wfs:
        return None
    if len(wfs) > 1:
        raise ChSqlError(
            "multiple WITH FILL keys are not bridged — fill one axis"
        )
    lim = [
        m
        for m in _top_level_matches(sql, r"\bLIMIT\b|\bSETTINGS\b")
        if m.start() > ob.end()
    ]
    if lim:
        raise ChSqlError(
            "LIMIT/SETTINGS after ORDER BY ... WITH FILL is not bridged "
            "(ClickHouse limits the FILLED result; apply the limit to the "
            "returned DataFrame instead)"
        )
    tail = sql[wfs[0].start() :]
    m = _WF_TAIL.match(tail)
    if not m:
        raise ChSqlError(f"unparseable WITH FILL tail: {tail!r}")
    keyseg = sql[ob.end() : wfs[0].start()].strip()
    segs = [s.strip() for s in _split_top_commas(keyseg)]
    prefix_keys = []
    for pseg in segs[:-1]:
        pm = re.fullmatch(
            r"(`?)(\w+)\1(?:\s+ASC)?", pseg, re.IGNORECASE
        )
        if not pm:
            raise ChSqlError(
                f"WITH FILL series key {pseg!r}: only plain ascending "
                "column names are bridged ahead of the fill axis"
            )
        prefix_keys.append(pm.group(2))
    keyseg = segs[-1]
    dm = re.fullmatch(r"(?P<key>.+?)\s+(?P<dir>ASC|DESC)", keyseg, re.IGNORECASE)
    key, desc = (
        (dm.group("key"), dm.group("dir").upper() == "DESC")
        if dm
        else (keyseg, False)
    )
    interp = m.group("interp")
    interp_cols: list[str] | None
    if re.search(r"\bINTERPOLATE\b", tail, re.IGNORECASE):
        if interp is None:
            interp_cols = ["*"]  # bare INTERPOLATE: carry all non-key cols
        else:
            cols = []
            for item in _split_top_commas(interp.strip()[1:-1]):
                im = re.fullmatch(
                    r"\s*(`?)(\w+)\1(?:\s+AS\s+(.+?))?\s*",
                    item,
                    re.IGNORECASE | re.DOTALL,
                )
                if not im:
                    raise ChSqlError(f"unparseable INTERPOLATE item {item!r}")
                name, expr = im.group(2), im.group(3)
                if expr is not None and expr.strip().strip("`") != name:
                    raise ChSqlError(
                        f"INTERPOLATE ({item.strip()}): only the identity "
                        "(carry-previous-value) form is bridged; compute "
                        "derived fills on the returned DataFrame"
                    )
                cols.append(name)
            interp_cols = cols
    else:
        interp_cols = None
    inner = (
        sql[: ob.end()]
        + " "
        + ", ".join(prefix_keys + [keyseg])
    )
    return inner, {
        "key": key.strip().strip("`"),
        "prefix": prefix_keys,
        "desc": desc,
        "from": (m.group("frm") or "").strip() or None,
        "to": (m.group("to") or "").strip() or None,
        "step": (m.group("step") or "").strip() or None,
        "interpolate": interp_cols,
    }


def _apply_with_fill(spark, src, spec):
    """Materialize ClickHouse WITH FILL semantics over ``src``: every
    source row is retained; grid points of ``sequence(FROM|min(key),
    TO|max(key), STEP)`` absent from the source are inserted with
    ClickHouse TYPE DEFAULTS for the other columns (0 for numerics, ''
    for strings, false for booleans — NULL for types whose CH default,
    e.g. epoch dates, would be a silent lie) and, for INTERPOLATE
    columns, the previous source row's value carried forward.

    Multi-key form (round 7): with SERIES keys ahead of the fill axis
    the grid is built PER PREFIX GROUP — bounds from a
    groupBy(prefix).min/max when FROM/TO don't pin them (ClickHouse's
    restart-on-prefix-change semantics), the anti-join and the
    INTERPOLATE window partition by the prefix.

    Scale: single-series bounds are a 2-scalar collect and the grid a
    generated column; multi-series bounds are one partial-aggregated
    exchange on the series keys and the grid explodes per group — and
    the INTERPOLATE window is series-partitioned, never global."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    key = spec["key"]
    prefix = spec.get("prefix") or []
    for k in [key] + prefix:
        if k not in src.columns:
            raise ChSqlError(
                f"WITH FILL key {k!r} must be a named output column of "
                f"the SELECT (have: {src.columns})"
            )
    ktype = src.schema[key].dataType
    # CH STEP is a positive magnitude; a DESC fill walks downward
    step_txt = (
        ("-(" + spec["step"] + ")")
        if (spec["desc"] and spec["step"])
        else (spec["step"] or ("-1" if spec["desc"] else "1"))
    )
    step = F.expr(step_txt)

    def _seq(frm, to):
        # An empty fill range (FROM beyond the data's max, or TO before
        # its min) inserts nothing in ClickHouse; Spark's sequence()
        # instead raises on reversed bounds, so guard with the walk
        # direction and fall back to an empty grid.
        f, t = frm.cast(ktype), to.cast(ktype)
        ok = (f >= t) if spec["desc"] else (f <= t)
        return F.when(ok, F.sequence(f, t, step)).otherwise(
            F.array().cast(T.ArrayType(ktype))
        )

    if prefix:
        bounds = src.groupBy(*prefix).agg(
            F.min(key).alias("__wf_lo"), F.max(key).alias("__wf_hi")
        )
        frm = (
            F.expr(spec["from"])
            if spec["from"]
            else (F.col("__wf_hi") if spec["desc"] else F.col("__wf_lo"))
        )
        to = (
            F.expr(spec["to"])
            if spec["to"]
            else (F.col("__wf_lo") if spec["desc"] else F.col("__wf_hi"))
        )
        grid = bounds.select(
            *prefix, F.explode(_seq(frm, to)).alias(key)
        )
    else:
        if spec["from"] is None or spec["to"] is None:
            row = src.agg(
                F.min(key).alias("lo"), F.max(key).alias("hi")
            ).first()
            if row["lo"] is None:
                return src  # empty source: CH fills nothing without FROM/TO
            lo, hi = F.lit(row["lo"]), F.lit(row["hi"])
        frm = (
            F.expr(spec["from"]) if spec["from"] else (hi if spec["desc"] else lo)
        )
        to = F.expr(spec["to"]) if spec["to"] else (lo if spec["desc"] else hi)
        grid = spark.range(1).select(F.explode(_seq(frm, to)).alias(key))
    if spec["to"]:  # CH's TO bound is exclusive; sequence() is inclusive
        cmp = F.col(key) > F.expr(spec["to"]) if spec["desc"] else F.col(
            key
        ) < F.expr(spec["to"])
        grid = grid.where(cmp)

    interp = spec["interpolate"]
    gkeys = prefix + [key]
    if interp == ["*"]:
        interp = [c for c in src.columns if c not in gkeys]
    interp = interp or []

    def _default(f):
        if f.name in interp:
            return F.lit(None).cast(f.dataType)
        if isinstance(f.dataType, T.BooleanType):
            return F.lit(False)
        if isinstance(f.dataType, T.StringType):
            return F.lit("")
        if isinstance(f.dataType, T.NumericType):
            return F.lit(0).cast(f.dataType)
        return F.lit(None).cast(f.dataType)

    missing = grid.join(
        src.select(*gkeys).where(F.col(key).isNotNull()).distinct(),
        gkeys,
        "left_anti",
    )
    filled = missing.select(
        *[F.col(k) for k in gkeys],
        *[
            _default(f).alias(f.name)
            for f in src.schema.fields
            if f.name not in gkeys
        ],
    )
    out = src.withColumn("__wf_fill", F.lit(False)).unionByName(
        filled.withColumn("__wf_fill", F.lit(True))
    )
    korder = F.col(key).desc() if spec["desc"] else F.col(key).asc()
    order = [F.col(k).asc() for k in prefix] + [korder]
    if interp:
        w = (
            (Window.partitionBy(*prefix) if prefix else Window)
            .orderBy(korder)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        for c in interp:
            out = out.withColumn(
                c,
                F.when(
                    F.col("__wf_fill"),
                    F.last(
                        F.when(~F.col("__wf_fill"), F.col(c)), ignorenulls=True
                    ).over(w),
                ).otherwise(F.col(c)),
            )
    return out.drop("__wf_fill").orderBy(*order)


def ch_sql(spark, sql: str, final_tables: dict | None = None,
           sample_by: dict | None = None,
           dictionaries: dict | None = None,
           params: dict | None = None):
    """Execute a ClickHouse-dialect SELECT on Spark: the string rewrite
    (``rewrite_clickhouse_sql``) plus the forms that need a session —
    today ``ORDER BY ... WITH FILL [INTERPOLATE]``, whose inserted rows
    take per-column TYPE defaults that only schema analysis can supply,
    and ``ASOF [LEFT|INNER] JOIN``, which routes through the DataFrame
    as-of operator. Returns a DataFrame. The ClickHouse scalars the
    statement names are registered in ``spark`` first."""
    asof = _extract_asof_join(sql)
    if asof is not None:
        return _apply_asof_join(spark, sql, asof, final_tables, sample_by)
    anyj = _extract_any_join(sql)
    if anyj is not None:
        return _apply_any_join(spark, sql, anyj, final_tables, sample_by)
    ext = _extract_with_fill(sql)
    if ext is None:
        return _spark_sql(
            spark,
            rewrite_clickhouse_sql(sql, final_tables, sample_by, dictionaries, params),
        )
    inner, spec = ext
    src = _spark_sql(
        spark,
        rewrite_clickhouse_sql(inner, final_tables, sample_by, dictionaries, params),
    )
    return _apply_with_fill(spark, src, spec)


def _spark_sql(spark, sql: str):
    """``spark.sql(sql)`` after registering the ClickHouse scalars that
    ``sql`` names. Every statement ``ch_sql`` runs goes through here."""
    register_clickhouse_functions(spark, sql)
    return spark.sql(sql)


# ---------------------------------------------------------------------------
# ASOF JOIN — the session-aware bridge (round 7)
# ---------------------------------------------------------------------------
_ASOF_FROM = re.compile(
    r"\bFROM\s+(?P<lt>\w+)(?:\s+(?!ASOF\b)(?P<la>\w+))?"
    r"\s+ASOF\s+(?P<kind>LEFT\s+|INNER\s+)?JOIN\s+"
    r"(?P<rt>\w+)(?:\s+(?!ON\b)(?P<ra>\w+))?\s+ON\b",
    re.IGNORECASE,
)
_ASOF_COND = re.compile(
    r"^\s*(\w+)\.(\w+)\s*(>=|<=|=|>|<)\s*(\w+)\.(\w+)\s*$"
)

#: suffix for the bridges' temp views: one ``next()`` per view gives each
#: call its own name even when threads run ``ch_sql`` on one session
_BRIDGE_SEQ = itertools.count(1)


def _extract_asof_join(sql: str):
    """Parse a top-level ``FROM l [la] ASOF [LEFT|INNER] JOIN r [ra] ON
    <equi-conds AND one ts inequality>``. Returns None when absent, else
    a dict with table names, aliases, keys, ts columns, strictness,
    join kind, and the (start, end) span of the FROM..ON-conds segment.

    Supported: named tables/views on both sides, equality conditions on
    columns, exactly ONE ts inequality. Subquery sides or computed
    conditions reject loudly (register a view first)."""
    ms = _top_level_matches(sql, _ASOF_FROM.pattern)
    if not ms:
        if _top_level_matches(
            sql, r"\bASOF\s+(?:LEFT\s+|RIGHT\s+|INNER\s+)?JOIN\b"
        ):
            raise ChSqlError(
                "ASOF JOIN: only `FROM <view> [a] ASOF [LEFT|INNER] JOIN "
                "<view> [b] ON a.k = b.k AND a.ts >= b.ts` is bridged — "
                "register subqueries as views first"
            )
        return None
    if len(ms) > 1:
        raise ChSqlError("multiple ASOF JOINs are not bridged")
    m = _ASOF_FROM.search(sql, ms[0].start())
    # ON conditions end at the next top-level clause keyword
    stops = [
        s.start()
        for s in _top_level_matches(
            sql,
            r"\b(WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|SETTINGS|UNION)\b",
        )
        if s.start() > m.end()
    ]
    end = min(stops) if stops else len(sql)
    conds = _split_top_commas(sql[m.end() : end].strip())  # no top commas
    parts = re.split(r"\bAND\b", conds[0] if conds else "", flags=re.IGNORECASE)
    la = m.group("la") or m.group("lt")
    ra = m.group("ra") or m.group("rt")
    keys, ineq = [], None
    for p in parts:
        cm = _ASOF_COND.match(p)
        if not cm:
            raise ChSqlError(
                f"ASOF JOIN condition {p.strip()!r}: only `alias.col OP "
                "alias.col` conjunctions are bridged"
            )
        a1, c1, op, a2, c2 = cm.groups()
        if {a1, a2} != {la, ra}:
            raise ChSqlError(
                f"ASOF JOIN condition {p.strip()!r} must relate the two "
                f"join sides ({la!r}, {ra!r})"
            )
        # normalize to left-side-first
        if a1 != la:
            a1, c1, a2, c2 = a2, c2, a1, c1
            op = {">=": "<=", "<=": ">=", ">": "<", "<": ">", "=": "="}[op]
        if op == "=":
            keys.append((c1, c2))
        else:
            if ineq is not None:
                raise ChSqlError("ASOF JOIN needs exactly one inequality")
            ineq = (c1, op, c2)
    if ineq is None:
        raise ChSqlError("ASOF JOIN needs exactly one ts inequality")
    if ineq[1] in ("<=", "<"):
        raise ChSqlError(
            "ASOF JOIN with left_ts <= right_ts (match the EARLIEST "
            "following row) is not bridged; flip the inequality or "
            "pre-negate the ts column"
        )
    kind = (m.group("kind") or "").strip().upper() or "INNER"
    return {
        "span": (m.start(), end),
        "lt": m.group("lt"),
        "rt": m.group("rt"),
        "la": la,
        "ra": ra,
        "keys": keys,
        "left_ts": ineq[0],
        "right_ts": ineq[2],
        "strict": ineq[1] == ">",
        "kind": kind,
    }


def _apply_asof_join(spark, sql: str, spec, final_tables, sample_by):
    """Execute the bridged ASOF JOIN: run the DataFrame as-of operator
    (`operators/asof.py` — union + one key-partitioned window merge, no
    range explosion), register the result, and textually remap the
    query's alias references onto it (left columns keep their names,
    right columns surface under the operator's ``asof_`` prefix)."""
    from ..operators.asof import asof_join

    left, right = spark.table(spec["lt"]), spark.table(spec["rt"])
    lk = [k for k, _ in spec["keys"]]
    rk = [k for _, k in spec["keys"]]
    # the operator joins on shared key names; align right to left's names
    r2 = right
    for a, b in zip(lk, rk):
        if a != b:
            r2 = r2.withColumnRenamed(b, a)
    joined = asof_join(
        left,
        r2,
        on=lk,
        left_ts=spec["left_ts"],
        right_ts=spec["right_ts"],
        strict=spec["strict"],
    )
    from pyspark.sql import functions as F

    if spec["kind"] == "INNER":  # CH bare ASOF JOIN drops unmatched rows
        joined = joined.filter(
            F.col(f"asof_{spec['right_ts']}").isNotNull()
        )
    view = f"__asof_bridge_{next(_BRIDGE_SEQ)}"
    joined.createOrReplaceTempView(view)
    s, e = spec["span"]
    out = sql[:s] + f"FROM {view} " + sql[e:]
    # alias remapping: left alias drops, right alias prefixes. The right
    # side's KEY columns live under the left name post-join.
    for a, b in zip(lk, rk):
        out = re.sub(rf"\b{re.escape(spec['ra'])}\.{re.escape(b)}\b", a, out)
    out = re.sub(rf"\b{re.escape(spec['ra'])}\.(\w+)", r"asof_\1", out)
    out = re.sub(rf"\b{re.escape(spec['la'])}\.(\w+)", r"\1", out)
    return _spark_sql(spark, rewrite_clickhouse_sql(out, final_tables, sample_by))


# ---------------------------------------------------------------------------
# ANY JOIN — deterministic one-match-per-key bridge (round 7)
# ---------------------------------------------------------------------------
_ANY_JOIN = re.compile(
    r"\b(?:ANY\s+(?P<k1>LEFT|INNER)?\s*JOIN|(?P<k2>LEFT|INNER)\s+ANY\s+JOIN)"
    r"\s+(?P<rt>\w+)(?:\s+(?!ON\b)(?P<ra>\w+))?\s+ON\b",
    re.IGNORECASE,
)


def _extract_any_join(sql: str):
    """Parse a top-level ``[l alias] ANY [LEFT|INNER] JOIN r [ra] ON
    <equi-conds>`` (either strictness-first or direction-first keyword
    order). Returns None when absent, else the join segment's span,
    right table/alias, join kind, and the right-side key columns."""
    ms = _top_level_matches(sql, _ANY_JOIN.pattern)
    if not ms:
        return None
    if len(ms) > 1:
        raise ChSqlError("multiple ANY JOINs are not bridged")
    m = _ANY_JOIN.search(sql, ms[0].start())
    stops = [
        s.start()
        for s in _top_level_matches(
            sql,
            r"\b(WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|SETTINGS|UNION)\b",
        )
        if s.start() > m.end()
    ]
    end = min(stops) if stops else len(sql)
    ra = m.group("ra") or m.group("rt")
    rkeys = []
    for p in re.split(r"\bAND\b", sql[m.end() : end], flags=re.IGNORECASE):
        cm = _ASOF_COND.match(p)
        if not cm or cm.group(3) != "=":
            raise ChSqlError(
                f"ANY JOIN condition {p.strip()!r}: only equality "
                "conjunctions on `alias.col` are bridged"
            )
        a1, c1, _op, a2, c2 = cm.groups()
        if a1 == ra:
            rkeys.append(c1)
        elif a2 == ra:
            rkeys.append(c2)
        else:
            raise ChSqlError(
                f"ANY JOIN condition {p.strip()!r} does not reference the "
                f"right side {ra!r}"
            )
    kind = (m.group("k1") or m.group("k2") or "INNER").upper()
    return {
        "span": (m.start(), m.end() - 2),  # keep the trailing 'ON'
        "rt": m.group("rt"),
        "ra": ra,
        "keys": rkeys,
        "kind": kind,
    }


def _apply_any_join(spark, sql: str, spec, final_tables, sample_by):
    """Execute the bridged ANY JOIN: ClickHouse keeps ONE ARBITRARY
    match per key; the bridge refines that to the DETERMINISTIC
    lowest-full-row match (right side deduped per join key by
    row_number over ALL right columns in table order — a valid "any",
    replay-stable, and oracle-expressible). Right sides with
    non-orderable columns (maps) would need an explicit projection
    first; Spark raises there.

    Scale: the dedup is one window over the RIGHT side only (partial
    ranking per key; no pair blow-up), then a plain join Catalyst
    plans normally (broadcast if small)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    right = spark.table(spec["rt"])
    w = W.partitionBy(*spec["keys"]).orderBy(
        *[F.col(c) for c in right.columns]
    )
    dedup = (
        right.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    view = f"__any_bridge_{next(_BRIDGE_SEQ)}"
    dedup.createOrReplaceTempView(view)
    s, e = spec["span"]
    out = (
        sql[:s]
        + f"{'LEFT ' if spec['kind'] == 'LEFT' else ''}JOIN {view} "
        + f"{spec['ra']} "
        + sql[e:]
    )
    return _spark_sql(spark, rewrite_clickhouse_sql(out, final_tables, sample_by))
