"""The per-operator union/join planner, kept as the reference that the
one-aggregate compiler (Searcher._eval_term_tree) is tested against.

Each boolean operator maps to a relational op over its children's
docid-unique (docid, score) frames:

    And       -> union + groupBy(docid) having count == n, score = sum
                 (IntersectionMatcher sums scores, matching/binary.py:95-96)
    Or        -> union + groupBy(docid).sum  (UnionMatcher, binary.py:252-268)
    DisMax    -> groupBy(docid).max (binary.py:298-404; tiebreak never
                 scores, binary.py:367-374)
    AndNot    -> left-anti join          (binary.py:559-676)
    Require   -> left-semi join          (wrappers.py:431-494)
    AndMaybe  -> left-outer join         (binary.py:677-793)

and a scaled Or's SQR matching count comes from per-child (docid, _tm)
frames.  Every other node (a bare leaf, which compiles alone, Not,
wrappers, ranges, nested queries) is planned by Searcher._eval.  The
operator branches, _eval_with_tm, _tm_frame and _union are the planner's
code before its operators compiled into one aggregate, unchanged.
"""

from functools import reduce
from typing import List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whoosh_reloaded_spark.query import ast as Q
from whoosh_reloaded_spark.query.planner import Searcher, term_in


def _union(frames: List[DataFrame]) -> DataFrame:
    return reduce(DataFrame.unionByName, frames)


class UnionJoinSearcher(Searcher):
    """A Searcher that plans And / Or / DisjunctionMax / AndNot / Require /
    AndMaybe operator by operator (see the module docstring)."""

    def _eval(self, q: Q.Query) -> DataFrame:
        if isinstance(q, Q.Or):
            # Not children evaluate to their complement frame (score = boost,
            # like the reference's InverseMatcher, matching/wrappers.py:424-428)
            tc = 0
            if q.scale:
                # SQR coordination bonus (CoordMatcher, wrappers.py:532-583).
                # The reference's termcount is the number of LEAF TERM
                # MATCHERS in the whole tree (mcore.py:103-110) — a phrase
                # child contributes one per word — and `matching` counts the
                # term matchers active at the doc.  Each child frame carries
                # its term-matcher count; when a child matches, all of its
                # term matchers are active (exact for Term/Phrase/Ordered/
                # And; Not contributes 0).  Pre-warm the stats memo in ONE
                # lexicon lookup so the per-child live-matcher counts
                # don't each pay a driver round-trip.
                self._lookup_stats([t for _, t in q.iter_all_terms()])
                tc = sum(self._n_term_matchers(c) for c in q.children)
            if q.scale and tc:
                if tc == q.scale:
                    # degenerate SQR denominator — still yield matching docs
                    # at score 0 like CoordMatcher._sqr (wrappers.py:560+)
                    u0 = _union(
                        [self._eval(c).select("docid") for c in q.children]
                    )
                    return u0.distinct().select(
                        "docid", F.lit(0.0).alias("score")
                    )
                u = _union([self._eval_with_tm(c) for c in q.children])
                agg = u.groupBy("docid").agg(
                    F.sum("score").alias("_s"),
                    F.sum("_tm").alias("_m"),
                )
                # node boost inside the SQR, as in _TermTree._or
                sqr = (
                    F.col("_s") * F.lit(q.boost)
                    + (F.col("_m") - 1) / F.lit(float((tc - q.scale) ** 2))
                ) * F.lit((tc - 1) / tc)
                return agg.select("docid", sqr.alias("score"))
            u = _union([self._eval(c) for c in q.children])
            out = u.groupBy("docid").agg(F.sum("score").alias("score"))
            return self._boosted_frame(out, q.boost)
        if isinstance(q, Q.And):
            pos = [c for c in q.children if not isinstance(c, Q.Not)]
            neg = [c for c in q.children if isinstance(c, Q.Not)]
            n = len(pos)
            if not pos:
                # And of only Nots (e.g. "NOT foo NOT bar"): start from the
                # full doc set at score 0 — each Not's boost is added below,
                # matching the bare-Not complement semantics
                out = self._all_docs(0.0)
            else:
                u = _union([self._eval(c) for c in pos])
                # every _eval child frame is docid-unique (see _eval
                # docstring), so each child contributes at most one row
                # per docid and the row count equals the distinct-child
                # count — count_distinct would plan an extra exchange
                out = (
                    u.groupBy("docid")
                    .agg(
                        F.sum("score").alias("score"),
                        F.count(F.lit(1)).alias("_n"),
                    )
                    .where(F.col("_n") == n)
                    .drop("_n")
                )
            # anti-join each negated child; the InverseMatcher still SCORES
            # for surviving docs — but always its default weight 1.0:
            # Not.matcher never forwards Not.boost into InverseMatcher
            # (wrappers.py:138-144; score() at matching/wrappers.py:424-428
            # returns the 1.0 default), verified live round 5
            neg_bonus = 0.0
            for nq in neg:
                out = out.join(self._eval(nq.child), "docid", "left_anti")
                neg_bonus += 1.0
            if neg_bonus:
                out = out.select(
                    "docid", (F.col("score") + F.lit(neg_bonus)).alias("score")
                )
            return self._boosted_frame(out, q.boost)
        if isinstance(q, Q.DisjunctionMax):
            # NOTE: the reference's DisjunctionMaxMatcher.score() is a pure
            # max — its `tiebreak` argument is stored but never used in
            # scoring (matching/binary.py:367-374).  We mirror that exactly.
            u = _union([self._eval(c) for c in q.children])
            agg = u.groupBy("docid").agg(F.max("score").alias("_mx"))
            return agg.select(
                "docid", (F.col("_mx") * F.lit(q.boost)).alias("score")
            )
        if isinstance(q, Q.AndNot):
            return self._boosted_frame(
                self._eval(q.a).join(self._eval(q.b), "docid", "left_anti"),
                q.boost,
            )
        if isinstance(q, Q.Require):
            return self._boosted_frame(
                self._eval(q.a).join(self._eval(q.b), "docid", "left_semi"),
                q.boost,
            )
        if isinstance(q, Q.AndMaybe):
            a = self._eval(q.a)
            b = self._eval(q.b).withColumnRenamed("score", "_bscore")
            s = F.col("score") + F.coalesce(F.col("_bscore"), F.lit(0.0))
            if q.boost != 1.0:
                s = s * F.lit(q.boost)
            return a.join(b, "docid", "left").select(
                "docid", s.alias("score")
            )
        return super()._eval(q)

    def _eval_with_tm(self, c: Q.Query) -> DataFrame:
        """Child frame (docid, score, _tm) for the SQR matching count.
        `_tm` is the number of the child's live term matchers AT the doc
        (Matcher.matching_terms, mcore.py:112-124): constant for
        Term/Phrase/And (a match implies every leaf active), but PER-DOC
        for multiterm expansions and nested unscaled Ors, where only the
        terms the doc contains are active — the round-5 or-mode fuzz
        caught the constant upper bound overcounting
        ('alfa OR [alfa TO]').  Binary/Not children keep the documented
        constant approximation (the reference's own count there depends
        on cursor positions of non-matching branches)."""
        tmf = self._tm_frame(c)
        if tmf is not None:
            return self._eval(c).join(tmf, "docid", "left").select(
                "docid", "score",
                F.coalesce(F.col("_tm"), F.lit(0)).alias("_tm"),
            )
        return self._eval(c).withColumn(
            "_tm", F.lit(self._matching_term_count(c))
        )

    def _tm_frame(self, q: Q.Query) -> Optional[DataFrame]:
        """(docid, _tm) — per-doc count of q's term matchers active at the
        doc, for the term/phrase/multiterm/And/Or algebra; None when q
        needs the constant fallback.  Intersection children count their
        terms only on docs they match (inner join), matching the
        reference's skip_to-driven cursor placement."""
        if isinstance(q, Q.WeightingQuery):
            # a re-weighted subtree builds the same term matchers
            return self._tm_frame(q.child)
        if isinstance(q, Q.Term):
            if self._lookup_stats([q.text])[q.text][0] == 0:
                return None  # dead term: constant 0 fallback is exact
            return self.ix.postings.where(
                F.col("term") == q.text
            ).select("docid", F.lit(1).alias("_tm"))
        if isinstance(q, (Q.Phrase, Q.Ordered)):
            n = self._n_term_matchers(q)
            if n == 0:
                return None
            return self._eval(q).select("docid", F.lit(n).alias("_tm"))
        if isinstance(q, Q._MultiTerm):
            texts = self.expand_terms(q)
            if texts is None:
                return None
            return (
                self.ix.postings.where(term_in(texts))
                .groupBy("docid")
                .agg(F.count(F.lit(1)).alias("_tm"))
            )
        if isinstance(q, Q.Or):
            # scale is irrelevant here: the CoordMatcher wrapper is
            # transparent to term_matchers, so a nested scaled Or counts
            # like a plain union
            frames = [self._tm_frame(cc) for cc in q.children]
            if any(f is None for f in frames):
                return None
            return _union(frames).groupBy("docid").agg(F.sum("_tm").alias("_tm"))
        if isinstance(q, Q.And):
            out = None
            for cc in q.children:
                f = self._tm_frame(cc)
                if f is None:
                    return None
                f = f.withColumnRenamed("_tm", "_tm_c")
                if out is None:
                    out = f.withColumnRenamed("_tm_c", "_tm")
                else:
                    out = out.join(f, "docid").select(
                        "docid",
                        (F.col("_tm") + F.col("_tm_c")).alias("_tm"),
                    )
            return out
        if isinstance(q, Q.AndNot):
            # at an AndNot-matched doc the excluded side's cursor is by
            # construction NOT at the doc (it would have excluded it), so
            # only the a side counts; _eval_with_tm's left join restricts
            # to matched docs (verified live: 'alfa ANDNOT bravo NOT
            # alfa' scores with m=1 at alfa docs, tc=3)
            return self._tm_frame(q.a)
        if isinstance(q, Q.Require):
            # both sides present at every matched doc
            fa, fb = self._tm_frame(q.a), self._tm_frame(q.b)
            if fa is None or fb is None:
                return None
            fb = fb.withColumnRenamed("_tm", "_tm_b")
            return fa.join(fb, "docid").select(
                "docid", (F.col("_tm") + F.col("_tm_b")).alias("_tm")
            )
        if isinstance(q, Q.AndMaybe):
            # a side always at matched docs; b side only where it matches
            fa, fb = self._tm_frame(q.a), self._tm_frame(q.b)
            if fa is None or fb is None:
                return None
            fb = fb.withColumnRenamed("_tm", "_tm_b")
            return fa.join(fb, "docid", "left").select(
                "docid",
                (
                    F.col("_tm") + F.coalesce(F.col("_tm_b"), F.lit(0))
                ).alias("_tm"),
            )
        if isinstance(q, Q.Not):
            # the inverse matcher's inner cursor parks on EXCLUDED docs,
            # never on the docs the Not (or its union siblings) matches —
            # 0 at-doc matchers even though its terms count toward tc
            return self.ix.docmeta.select(
                "docid", F.lit(0).alias("_tm")
            )
        if isinstance(
            q,
            (Q.Every, Q.NullQuery, Q.NumericRange, Q.DateRange, Q.ColumnQuery),
        ):
            # term-less leaves: their matchers carry no term, so they
            # contribute 0 active term matchers at any doc (round-6
            # or-mode fuzz find, "* ANDNOT 'alfa alfa'^2": the AndNot's
            # Every side must count 0, not fall back to the constant
            # that includes the prohibited side's terms)
            return self.ix.docmeta.select("docid", F.lit(0).alias("_tm"))
        return None
