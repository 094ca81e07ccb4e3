"""Span algebra: position-interval queries as JVM higher-order functions.

The reference (query/spans.py:309-930) computes spans with per-doc Python
matcher trees, in the same matcher tree as the boolean operators.  Here a
span query is a leaf of the planner's one compiler (``planner._TermTree``):
its leaves read the tree's one postings aggregate, and every node is a
``(score, spans array<struct<s:int, e:int>>)`` pair of column expressions
over it (`span_columns`), so a span tree, alone or anywhere in a boolean
tree, plans as one postings scan and one ``groupBy(docid)``.  The
combinators are array higher-order functions written as parsed SQL text.

Semantics mirrored per node (reference file:line):
- span leaf Term     -> one Span(p, p) per position (mcore.py:266-282)
- multiterm / Or-of-terms leaf -> sorted distinct union of the term set's
                        positions, NO merging (UnionMatcher.spans,
                        matching/binary.py:219-232)
- SpanFirst(q,limit) -> spans with end <= limit      (spans.py:309-352)
- SpanNear2(qs,...)  -> left-fold pairwise window join with slop / ordered /
                        mindist and span merging     (spans.py:530-699)
- SpanOr(subqs)      -> union + Span.merge of overlapping/touching spans
                        (spans.py:702-753, merge spans.py:99-126)
- SpanNot(a,b)       -> a-spans not overlapping any b-span; AndMaybe scoring
                        (spans.py:771-818)
- SpanContains(a,b)  -> a-spans containing some b-span (spans.py:821-866)
- SpanBefore(a,b)    -> a-spans ending before the first b-span
                        (spans.py:869-901)
- SpanCondition(a,b) -> a-spans, b only filters docs  (spans.py:904-930)

A doc matches a span node iff its span list is nonempty
(SpanWrappingMatcher._find_next, spans.py:193-236), and the node's score
is NULL exactly where it does not: Near, Contains, Before and Condition
need every child, Not only its `a`, Or any child — the doc sets of the
reference's intersection, AndMaybe and union matchers.  Scores follow
those binary matchers (sum through intersections / unions), identical to
the reference's scoring through SpanWrappingMatcher.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass
from functools import reduce
from typing import Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from whoosh_reloaded_spark.query import ast as Q

SPANS_TYPE = "array<struct<s:int,e:int>>"


# ---- AST nodes --------------------------------------------------------------


@dataclass(frozen=True)
class SpanQuery(Q.Query):
    pass


@dataclass(frozen=True)
class SpanFirst(SpanQuery):
    """Spans ending within the first `limit` positions (spans.py:309-352)."""

    q: Q.Query
    limit: int = 0


@dataclass(frozen=True)
class SpanNear2(SpanQuery):
    """Subqueries occurring near each other (spans.py:530-699)."""

    qs: Tuple[Q.Query, ...]
    slop: int = 1
    ordered: bool = True
    mindist: int = 1

    def __init__(self, qs, slop=1, ordered=True, mindist=1):
        object.__setattr__(self, "qs", tuple(qs))
        object.__setattr__(self, "slop", slop)
        object.__setattr__(self, "ordered", ordered)
        object.__setattr__(self, "mindist", mindist)


def SpanNear(a: Q.Query, b: Q.Query, slop: int = 1, ordered: bool = True,
             mindist: int = 1) -> SpanNear2:
    """Binary-form convenience (the reference's legacy SpanNear,
    spans.py:355-528, whose pairwise semantics SpanNear2 subsumes)."""
    return SpanNear2((a, b), slop=slop, ordered=ordered, mindist=mindist)


@dataclass(frozen=True)
class SpanOr(SpanQuery):
    subqs: Tuple[Q.Query, ...]

    def __init__(self, subqs):
        object.__setattr__(self, "subqs", tuple(subqs))


@dataclass(frozen=True)
class SpanNot(SpanQuery):
    a: Q.Query
    b: Q.Query


@dataclass(frozen=True)
class SpanContains(SpanQuery):
    a: Q.Query
    b: Q.Query


@dataclass(frozen=True)
class SpanBefore(SpanQuery):
    a: Q.Query
    b: Q.Query


@dataclass(frozen=True)
class SpanCondition(SpanQuery):
    a: Q.Query
    b: Q.Query


# ---- span-expression helpers (SQL text of JVM higher-order functions) -----
# Each Python-lambda higher-order function costs a py4j round trip at
# plan time, so the span algebra is written as SQL text over the
# aggregate's columns.

_EMPTY = f"CAST(array() AS {SPANS_TYPE})"
_NULL = f"CAST(NULL AS {SPANS_TYPE})"


def _pos_to_spans(positions: str) -> str:
    return f"transform({positions}, p -> named_struct('s', p, 'e', p))"


def _overlaps(a: str, b: str) -> str:
    # Span.overlaps (spans.py:146-155): intervals intersect
    return f"{a}.s <= {b}.e AND {b}.s <= {a}.e"


def _distance(a: str, b: str) -> str:
    # Span.distance_to (spans.py:169-175)
    return (
        f"CASE WHEN {_overlaps(a, b)} THEN 0"
        f" WHEN {a}.e < {b}.s THEN {b}.s - {a}.e ELSE {a}.s - {b}.e END"
    )


def _merge_pair(a: str, b: str) -> str:
    # Span.to (spans.py:128-144): covering interval
    return (
        f"named_struct('s', least({a}.s, {b}.s),"
        f" 'e', greatest({a}.e, {b}.e))"
    )


def _near_combine(a_spans: str, b_spans: str, slop: int, ordered: bool,
                  mindist: int) -> str:
    """One fold step of SpanNear2Matcher._get_spans (spans.py:653-699)."""
    keep = [f"NOT (y.e < x.s - {int(slop)})"]
    if ordered:
        keep.append("NOT (x.s > y.s)")
    keep.append(f"NOT (y.s > x.e + {int(slop)})")
    d = _distance("x", "y")
    keep += [f"{d} >= {int(mindist)}", f"{d} <= {int(slop)}"]
    merged = (
        f"transform(filter({b_spans}, y -> {' AND '.join(keep)}),"
        f" y -> {_merge_pair('x', 'y')})"
    )
    return (
        "array_distinct(array_sort(flatten("
        f"transform({a_spans}, x -> {merged}))))"
    )


def _merge_sorted(spans: str) -> str:
    """Span.merge (spans.py:99-126): fold the SORTED list, merging each span
    into the accumulator's last element when they overlap or touch."""
    last = "element_at(acc, -1)"
    merged = (
        "concat(slice(acc, 1, size(acc) - 1),"
        f" array({_merge_pair(last, 'x')}))"
    )
    return (
        f"aggregate(array_sort(array_distinct({spans})), {_EMPTY}, (acc, x) ->"
        f" CASE WHEN size(acc) = 0 THEN concat(acc, array(x))"
        f" WHEN x.s <= {last}.e + 1 THEN {merged}"
        f" ELSE concat(acc, array(x)) END)"
    )


def _matched(spans: str, score: Column) -> Tuple[Column, str]:
    """A node whose score is NULL wherever its span list is empty."""
    return F.when(F.expr(f"size({spans}) > 0"), score), spans


# ---- compilation --------------------------------------------------------------


def span_columns(tree, q: Q.Query) -> Tuple[Column, str]:
    """(score, spans) of span query `q` over `tree` (a planner._TermTree):
    `score` a column NULL exactly where `q` does not match, `spans` the SQL
    text of its span list there (empty or NULL elsewhere).  A Term reads
    the tree's word score and positions columns; a multiterm leaf or an
    Or of Terms reads one score sum and one positions union over its term
    set (_TermTree.span_leaf)."""
    if isinstance(q, Q.Term):
        score = tree.word(q.text)
        if q.boost != 1.0:
            score = score * F.lit(q.boost)
        return score, _pos_to_spans(tree.positions(q.text))
    if isinstance(q, Q._MultiTerm) or (
        isinstance(q, Q.Or) and all(isinstance(c, Q.Term) for c in q.children)
    ):
        score, positions = tree.span_leaf(q)
        return score, _pos_to_spans(positions) if positions else _NULL
    if isinstance(q, SpanFirst):
        score, spans = span_columns(tree, q.q)
        return _matched(f"filter({spans}, x -> x.e <= {int(q.limit)})", score)
    if isinstance(q, SpanNear2):
        kids = [span_columns(tree, sq) for sq in q.qs]
        spans = kids[0][1]
        for _, b in kids[1:]:
            spans = _near_combine(spans, b, q.slop, q.ordered, q.mindist)
        return _matched(spans, reduce(operator.add, [s for s, _ in kids]))
    if isinstance(q, SpanOr):
        kids = [span_columns(tree, sq) for sq in q.subqs]
        spans = ", ".join(f"coalesce({b}, {_EMPTY})" for _, b in kids)
        score = reduce(
            operator.add, [F.coalesce(s, F.lit(0.0)) for s, _ in kids]
        )
        return _matched(_merge_sorted(f"concat({spans})"), score)
    if not isinstance(q, (SpanNot, SpanContains, SpanBefore, SpanCondition)):
        raise TypeError(f"unsupported span subquery: {q!r}")
    a_score, a = span_columns(tree, q.a)
    b_score, b = span_columns(tree, q.b)
    if isinstance(q, SpanNot):
        # b counts where it matches (AndMaybe); with no b, a's spans stay
        spans = (
            f"filter({a}, x -> NOT exists(coalesce({b}, {_EMPTY}),"
            f" y -> {_overlaps('x', 'y')}))"
        )
        return _matched(spans, a_score + F.coalesce(b_score, F.lit(0.0)))
    if isinstance(q, SpanContains):
        spans = (
            f"filter({a}, x -> exists({b}, y -> y.s >= x.s AND y.e <= x.e))"
        )
    elif isinstance(q, SpanBefore):
        spans = f"filter({a}, x -> x.e < array_min(transform({b}, y -> y.s)))"
    else:  # SpanCondition: a's spans untouched, where b matches
        spans = f"CASE WHEN size({b}) > 0 THEN {a} END"
    return _matched(spans, a_score + b_score)


class SpanEvaluator:
    """The (docid, score, spans) frame of a span query: its compiled
    tree's one aggregate, at the docs where the query matches."""

    def __init__(self, searcher):
        self.s = searcher

    def frame(self, q: Q.Query) -> DataFrame:
        from whoosh_reloaded_spark.query.planner import _TermTree

        tree = _TermTree.of(self.s, q)
        score, spans = span_columns(tree, q)
        return (
            tree.frame()
            .select(
                "docid", score.alias("score"), F.expr(spans).alias("spans")
            )
            .where(F.col("score").isNotNull())
        )
