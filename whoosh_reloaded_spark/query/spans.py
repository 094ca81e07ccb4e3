"""Span algebra: position-interval queries as JVM higher-order functions.

The reference (query/spans.py:309-930) computes spans with per-doc Python
matcher trees; here every span node evaluates to a DataFrame
``(docid, score, spans array<struct<s:int, e:int>>)`` and the combinators
are array higher-order functions inside whole-stage codegen.  A SpanNear2
of plain Terms reads the planner's one-scan aggregate (the per-word score
and positions columns of ``planner._TermTree``, which also evaluates
Phrase and Ordered); every other node joins its children's frames.

Semantics mirrored per node (reference file:line):
- span leaf Term     -> one Span(p, p) per position (mcore.py:266-282)
- Or-of-terms leaf   -> sorted distinct union, NO merging
                        (UnionMatcher.spans, matching/binary.py:219-232)
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
(SpanWrappingMatcher._find_next, spans.py:193-236) — each node filters
eagerly so nested spans compose exactly like the reference's matcher tree.
Scores follow the underlying binary matchers (sum through intersections /
unions), identical to the reference's scoring through SpanWrappingMatcher.
"""

from __future__ import annotations

from dataclasses import dataclass
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


# ---- span-expression helpers (all JVM higher-order functions) ---------------


def _pos_to_spans(positions: Column) -> Column:
    def mk(p):
        return F.struct(p.cast("int").alias("s"), p.cast("int").alias("e"))

    return F.transform(positions, mk)


def _overlaps(a: Column, b: Column) -> Column:
    # Span.overlaps (spans.py:146-155): intervals intersect
    return (a["s"] <= b["e"]) & (b["s"] <= a["e"])


def _distance(a: Column, b: Column) -> Column:
    # Span.distance_to (spans.py:169-175)
    return (
        F.when(_overlaps(a, b), F.lit(0))
        .when(a["e"] < b["s"], b["s"] - a["e"])
        .otherwise(a["s"] - b["e"])
    )


def _merge_pair(a: Column, b: Column) -> Column:
    # Span.to (spans.py:128-144): covering interval
    return F.struct(
        F.least(a["s"], b["s"]).alias("s"), F.greatest(a["e"], b["e"]).alias("e")
    )


def _near_combine(a_spans: Column, b_spans: Column, slop: int, ordered: bool,
                  mindist: int) -> Column:
    """One fold step of SpanNear2Matcher._get_spans (spans.py:653-699)."""

    def per_a(a):
        def keep(b):
            c = ~(b["e"] < a["s"] - slop)
            if ordered:
                c = c & ~(a["s"] > b["s"])
            c = c & ~(b["s"] > a["e"] + slop)
            d = _distance(a, b)
            return c & (d >= mindist) & (d <= slop)

        def merge(b):
            return _merge_pair(a, b)

        return F.transform(F.filter(b_spans, keep), merge)

    return F.array_distinct(F.array_sort(F.flatten(F.transform(a_spans, per_a))))


def _merge_sorted(spans: Column) -> Column:
    """Span.merge (spans.py:99-126): fold the SORTED list, merging each span
    into the accumulator's last element when they overlap or touch."""
    empty = F.expr(f"CAST(array() AS {SPANS_TYPE})")

    def step(acc, x):
        last = F.element_at(acc, -1)
        merged = F.concat(
            F.slice(acc, 1, F.size(acc) - 1), F.array(_merge_pair(last, x))
        )
        appended = F.concat(acc, F.array(x))
        return (
            F.when(F.size(acc) == 0, appended)
            .when(x["s"] <= last["e"] + 1, merged)
            .otherwise(appended)
        )

    return F.aggregate(F.array_sort(F.array_distinct(spans)), empty, step)


# ---- evaluation -------------------------------------------------------------


class SpanEvaluator:
    """Evaluates a span tree to (docid, score, spans) frames using the
    Searcher's scored-posting machinery."""

    def __init__(self, searcher):
        self.s = searcher

    def frame(self, q: Q.Query) -> DataFrame:
        if isinstance(q, Q.Term):
            df = self.s._scored_postings([q.text], with_positions=True)
            return df.select(
                "docid",
                (F.col("score") * F.lit(q.boost)).alias("score"),
                _pos_to_spans(F.col("positions")).alias("spans"),
            )
        if isinstance(q, Q._MultiTerm):
            # lexicon-expanding leaves (Prefix/Wildcard/Fuzzy/Variations...)
            # become a union of their expansion's term spans — the
            # reference's multiterm matcher is a UnionMatcher over the same
            # expansion (terms.py:150-520)
            terms = self.s.expand_terms(q)
            spark = self.s.ix.postings.sparkSession
            if terms is None:
                # overflowing expansion (> TOO_MANY_CLAUSES): relational
                # full-expansion plan — same union semantics, no IN-list
                df = self.s._scored_postings_rel(q, with_positions=True)
                return (
                    df.select(
                        "docid",
                        (F.col("score") * F.lit(q.boost)).alias("score"),
                        _pos_to_spans(F.col("positions")).alias("spans"),
                    )
                    .groupBy("docid")
                    .agg(
                        F.sum("score").alias("score"),
                        F.array_sort(
                            F.array_distinct(F.flatten(F.collect_list("spans")))
                        ).alias("spans"),
                    )
                )
            if not terms:
                return spark.createDataFrame(
                    [], f"docid long, score double, spans {SPANS_TYPE}"
                )
            return self.frame(
                Q.Or(tuple(Q.Term(t, q.fieldname, q.boost) for t in terms))
            )
        if isinstance(q, Q.Or) and all(
            isinstance(c, Q.Term) for c in q.children
        ):
            # UnionMatcher.spans (binary.py:219-232): sorted distinct union,
            # NOT merged (only SpanOr merges)
            parts = [self.frame(c) for c in q.children]
            u = parts[0]
            for p in parts[1:]:
                u = u.unionByName(p)
            return u.groupBy("docid").agg(
                F.sum("score").alias("score"),
                F.array_sort(
                    F.array_distinct(F.flatten(F.collect_list("spans")))
                ).alias("spans"),
            )
        if isinstance(q, SpanFirst):
            child = self.frame(q.q)
            out = child.select(
                "docid",
                "score",
                F.filter(F.col("spans"), _first_pred(q.limit)).alias("spans"),
            )
            return out.where(F.size("spans") > 0)
        if isinstance(q, SpanNear2) and all(
            isinstance(sq, Q.Term) for sq in q.qs
        ):
            # all-Terms path: the planner's one scan and one aggregate of
            # per-word score and positions columns (_TermTree), then the
            # near-window fold over those columns
            from whoosh_reloaded_spark.query.planner import _TermTree

            words = [sq.text for sq in q.qs]
            tree = _TermTree(self.s, list(dict.fromkeys(words)))
            spans = _pos_to_spans(F.col(tree.positions(words[0])))
            for w in words[1:]:
                spans = _near_combine(
                    spans, _pos_to_spans(F.col(tree.positions(w))),
                    q.slop, q.ordered, q.mindist,
                )
            score = sum(
                [tree.word(sq.text) * F.lit(sq.boost) for sq in q.qs],
                F.lit(0.0),
            )
            return (
                tree.frame()
                .select("docid", score.alias("score"), spans.alias("spans"))
                .where(F.size("spans") > 0)
            )
        if isinstance(q, SpanNear2):
            frames = [self.frame(sq) for sq in q.qs]
            j = frames[0].select(
                "docid", F.col("score").alias("_s0"), F.col("spans").alias("_sp0")
            )
            for i, fr in enumerate(frames[1:], start=1):
                j = j.join(
                    fr.select(
                        "docid",
                        F.col("score").alias(f"_s{i}"),
                        F.col("spans").alias(f"_sp{i}"),
                    ),
                    "docid",
                )
            spans = F.col("_sp0")
            for i in range(1, len(frames)):
                spans = _near_combine(
                    spans, F.col(f"_sp{i}"), q.slop, q.ordered, q.mindist
                )
            score = sum(
                [F.col(f"_s{i}") for i in range(len(frames))], F.lit(0.0)
            )
            return (
                j.select("docid", score.alias("score"), spans.alias("spans"))
                .where(F.size("spans") > 0)
            )
        if isinstance(q, SpanOr):
            parts = [self.frame(sq) for sq in q.subqs]
            u = parts[0]
            for p in parts[1:]:
                u = u.unionByName(p)
            agg = u.groupBy("docid").agg(
                F.sum("score").alias("score"),
                F.flatten(F.collect_list("spans")).alias("_all"),
            )
            return agg.select(
                "docid", "score", _merge_sorted(F.col("_all")).alias("spans")
            ).where(F.size("spans") > 0)
        if isinstance(q, SpanNot):
            a = self.frame(q.a)
            b = self.frame(q.b).select(
                "docid",
                F.col("score").alias("_bscore"),
                F.col("spans").alias("_bspans"),
            )
            j = a.join(b, "docid", "left")

            def no_overlap(x):
                def hits(y):
                    return _overlaps(x, y)

                return ~F.exists(F.col("_bspans"), hits)

            spans = F.when(
                F.col("_bspans").isNull(), F.col("spans")
            ).otherwise(F.filter(F.col("spans"), no_overlap))
            score = F.col("score") + F.coalesce(F.col("_bscore"), F.lit(0.0))
            return (
                j.select("docid", score.alias("score"), spans.alias("spans"))
                .where(F.size("spans") > 0)
            )
        if isinstance(q, (SpanContains, SpanBefore, SpanCondition)):
            a = self.frame(q.a)
            b = self.frame(q.b).select(
                "docid",
                F.col("score").alias("_bscore"),
                F.col("spans").alias("_bspans"),
            )
            j = a.join(b, "docid")
            if isinstance(q, SpanContains):

                def contains_some(x):
                    def within(y):
                        return (y["s"] >= x["s"]) & (y["e"] <= x["e"])

                    return F.exists(F.col("_bspans"), within)

                spans = F.filter(F.col("spans"), contains_some)
            elif isinstance(q, SpanBefore):
                bmin = F.array_min(
                    F.transform(F.col("_bspans"), lambda y: y["s"])
                )

                def before(bm):
                    return lambda x: x["e"] < bm

                spans = F.filter(F.col("spans"), before(bmin))
            else:  # SpanCondition: a's spans untouched
                spans = F.col("spans")
            score = F.col("score") + F.col("_bscore")
            return (
                j.select("docid", score.alias("score"), spans.alias("spans"))
                .where(F.size("spans") > 0)
            )
        raise TypeError(f"unsupported span subquery: {q!r}")


def _first_pred(limit: int):
    def pred(x):
        return x["e"] <= F.lit(limit)

    return pred
