"""The dialect lexer's views agree (functions/chsql.py).

The per-character view (``_lex``), the ascending cursor behind
``_first_match``/``_top_level_matches`` (``_Cursor``), paren matching
and the top-level comma split all read one token regex. On any text —
here drawn from the characters that open, close or escape a span, plus
parens, brackets, commas and filler — they must tell the same story.
The call rewriter (``_rewrite_calls``) is checked against the
per-character view too, and the clause-span function (``_clause_end``)
against statements built from the clause table. No Spark."""

from __future__ import annotations

import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mb8600_clickhouse_spark.functions.chsql import (
    ChSqlError,
    _Cursor,
    _clause_end,
    _lex,
    _match_paren,
    _rewrite_calls,
    _split_top_commas,
)

_CHARS = list("'`\"\\-/*()[],;a \n")
_TEXTS = st.lists(st.sampled_from(_CHARS), max_size=40).map("".join)


@settings(max_examples=300, deadline=None)
@given(sql=_TEXTS)
def test_lexer_views_agree(sql):
    view = list(_lex(sql))
    assert [(i, ch) for i, ch, _d, _k in view] == list(enumerate(sql))

    # the cursor's (depth, opaque) is the per-character view's
    cur = _Cursor(sql)
    for i, _ch, d, kind in view:
        assert cur.at(i) == (d, kind != "code"), i

    # _match_paren: the first position where the depth comes back
    for i, ch, d, kind in view:
        if ch != "(" or kind != "code":
            continue
        close = next(
            (j for j, c, dj, k in view[i + 1 :]
             if c == ")" and k == "code" and dj == d),
            None,
        )
        if close is None:
            with pytest.raises(ChSqlError, match="unbalanced"):
                _match_paren(sql, i)
        else:
            assert _match_paren(sql, i) == close

    # _split_top_commas splits exactly at the code commas of depth 0
    cuts = [i for i, ch, d, k in view if ch == "," and k == "code" and d == 0]
    bounds = [-1, *cuts, len(sql)]
    parts = [sql[a + 1 : b].strip() for a, b in zip(bounds, bounds[1:])]
    assert _split_top_commas(sql) == [p for p in parts if p]


_CALL_PIECES = st.sampled_from(
    ["f(", "g(", ")", ",", "'", "`", '"', "--", "/*", "*/", "a", " ", "\n"]
)
# runs of pieces, some wrapped as f(...) so that closed nested calls are
# common; the texts are still strings of the pieces alone
_CALL_TEXTS = st.recursive(
    _CALL_PIECES,
    lambda inner: st.one_of(
        st.lists(inner, min_size=2, max_size=4).map("".join),
        inner.map(lambda t: f"f({t})"),
    ),
    max_leaves=30,
)


@settings(max_examples=300, deadline=None)
@given(sql=_CALL_TEXTS)
def test_call_rewriter_agrees_with_lexer(sql):
    """Every code ``f(`` that begins a word becomes ``g(`` and nothing
    else changes; ``_rewrite_calls`` raises exactly when such a call has no
    closing paren."""
    view = list(_lex(sql))
    calls = [
        i for i, ch, _d, kind in view
        if ch == "f" and kind == "code" and sql[i + 1 : i + 2] == "("
        and (i == 0 or not (sql[i - 1].isalnum() or sql[i - 1] == "_"))
    ]
    unclosed = [
        i for i in calls
        if not any(
            c == ")" and k == "code" and d == view[i + 1][2]
            for _j, c, d, k in view[i + 2 :]
        )
    ]

    def rewrite():
        return _rewrite_calls(sql, r"\bf\s*\(", lambda m, a: f"g({a})")

    if unclosed:
        with pytest.raises(ChSqlError, match="unbalanced"):
            rewrite()
    else:
        want = "".join("g" if i in calls else ch for i, ch in enumerate(sql))
        assert rewrite() == want


def test_spans():
    """Each opaque span with its escapes; an unterminated span runs to
    the end of the text."""
    mark = {"code": ".", "str": "s", "ident": "i", "comment": "#"}

    def kinds(sql):
        return "".join(mark[k] for _i, _c, _d, k in _lex(sql))

    assert kinds("a'b''c'd") == ".ssssss."
    assert kinds(r"'a\'b' x") == "ssssss.."
    assert kinds("`a``b`,") == "iiiiii."
    assert kinds('"a""b"(') == "iiiiii."
    assert kinds("x -- c'\ny") == "..#####.."
    assert kinds("/* a */b") == "#######."
    assert kinds("a 'bc") == "..sss"
    assert kinds("`x") == "ii"
    assert kinds("'a\\") == "sss"
    assert kinds("/*/") == "###"


# --- clause spans --------------------------------------------------------
# the clause table's keywords in grammar order; a tuple is one slot
# whose spellings are alternatives
_STATEMENT = [
    "WITH", "SELECT", "FROM", ("ARRAY JOIN", "LEFT ARRAY JOIN"), "PREWHERE",
    "WHERE", "GROUP BY", "WITH TOTALS", "HAVING", "WINDOW", "QUALIFY",
    "ORDER BY", "WITH FILL", "INTERPOLATE", "LIMIT", "OFFSET", "SETTINGS",
    "FORMAT", ("UNION", "EXCEPT", "INTERSECT"), "SELECT", "FROM", "WHERE",
]
_WINDOW_SPEC = ["PARTITION BY", "ORDER BY", ("ROWS", "RANGE", "GROUPS")]
_GAPS = [" ", "  ", "\n", " \t"]
# item bodies; the keyword text in them is opaque, nested, after a dot
# or an operator, or the first word of its item, so it ends no clause
_ATOMS = [
    "x", "42", "a + b", "1 BY k", "arr[1]", "'LIMIT 1, ''WHERE'''",
    "`from`", '"ORDER BY"', "/* GROUP BY */ y", "y /* LIMIT */",
    "z -- SETTINGS\n", "f(a, (SELECT b FROM c WHERE d LIMIT 1))",
    "interpolate", "rows", "range(5)", "format", "t.rows", "t.limit",
    "a AND offset > 1", "x AS window", "b = range", "-groups",
]


def _keyword(rnd, slot):
    """A slot's keyword in random case, its words apart by any gap."""
    kw = rnd.choice(slot) if isinstance(slot, tuple) else slot
    words = [rnd.choice([w, w.lower(), w.title()]) for w in kw.split()]
    return "".join(w + rnd.choice(_GAPS) for w in words[:-1]) + words[-1]


def _item(rnd, depth):
    """``(text, spans)``: an atom, or a window call whose spec's clause
    spans are relative to the text."""
    if depth > 1 or rnd.random() < 0.7:
        return rnd.choice(_ATOMS), []
    head = "count() OVER ("
    spec, spans = _clauses(rnd, _WINDOW_SPEC, depth + 1)
    return f"{head}{spec})", [(a + len(head), b + len(head)) for a, b in spans]


def _clauses(rnd, slots, depth=0):
    """``(text, spans)`` for a grammar-ordered subset of ``slots``: each
    clause is its keyword and a body of items; a span runs from the end
    of the keyword to the next keyword or the end of the text."""
    chosen = [s for s in slots if rnd.random() < 0.5] or slots[:1]
    text, spans = "", []
    for slot in chosen:
        if spans:
            spans[-1] = (spans[-1][0], len(text))
        text += _keyword(rnd, slot)
        start = len(text)
        text += rnd.choice(_GAPS)
        for i in range(rnd.randint(1, 3)):
            it, sub = _item(rnd, depth)
            text += ", " if i else ""
            spans += [(a + len(text), b + len(text)) for a, b in sub]
            text += it
        text += rnd.choice(_GAPS)
        spans.append((start, None))
    spans[-1] = (spans[-1][0], len(text))
    return text, spans


@settings(max_examples=300, deadline=None)
@given(seed=st.integers(min_value=0))
def test_clause_spans_are_the_built_bodies(seed):
    """``_clause_end`` from the end of each clause keyword, top level or
    inside a window spec, lands on the next keyword at that depth, the
    ``)`` closing the spec or the end of the text."""
    sql, spans = _clauses(random.Random(seed), _STATEMENT)
    assert [(s, _clause_end(sql, s)) for s, _e in spans] == spans, sql
