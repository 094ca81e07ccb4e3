"""Key-term extraction + more-like-this — reference classify.py semantics.

Expansion models (classify.py:57-95), exactly as published (Bo1/Bo2/KL from
the DFR literature):

    Bo1: score(wt, cf)  = wt*log2((1+f)/f) + log2(1+f),   f = cf/N
    Bo2: score(wt, tt)  = wt*log2((1+f)/f) + log2(1+f),   f = wt*tt/FL
    KL:  score(wt, cf)  = p*log2(p/(wt/FL)) if p >= cf/FL else 0, p = wt/tt

where wt = term weight summed over the top docs, cf = collection weight,
tt = total weight of all terms in the top docs, N = doc count, FL = total
field length.  Normalized by model.normalizer(maxscore, tt), sorted by
(score desc, term asc), top `numterms` returned — mirroring
Expander.expanded_terms (classify.py:175-207).

The top-docs term vectors come from the postings table (docid IN hits) —
the reference reads stored text / term vectors per doc; ours is one
pushed-down scan + groupBy.
"""

from __future__ import annotations

import math
from typing import List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whoosh_reloaded_spark.query import ast as Q
from whoosh_reloaded_spark.query.planner import Searcher


class Bo1Model:
    def __init__(self, N: int, field_length: int):
        self.N = N
        self.FL = field_length

    def score(self, wt: float, cf: float, tt: float) -> float:
        f = cf / self.N
        return wt * math.log((1.0 + f) / f, 2) + math.log(1.0 + f, 2)

    def normalizer(self, maxweight: float, tt: float) -> float:
        if not maxweight:
            return maxweight
        f = maxweight / self.N
        return (
            maxweight * math.log((1.0 + f) / f) + math.log(1.0 + f)
        ) / math.log(2.0)


class Bo2Model(Bo1Model):
    def score(self, wt, cf, tt):
        f = wt * tt / self.FL
        return wt * math.log((1.0 + f) / f, 2) + math.log(1.0 + f, 2)

    def normalizer(self, maxweight, tt):
        if not self.FL:
            return maxweight
        f = maxweight * self.N / self.FL
        return maxweight * math.log((1.0 + f) / f, 2) + math.log(1.0 + f, 2)


class KLModel(Bo1Model):
    def score(self, wt, cf, tt):
        p = wt / tt
        q = cf / self.FL
        if p < q:
            return 0.0
        return p * math.log(p / (wt / self.FL), 2)

    def normalizer(self, maxweight, tt):
        if not self.FL:
            return maxweight
        return maxweight * math.log(self.FL / tt) / math.log(2.0) * tt


def key_terms(searcher: Searcher, docids: List[int], numterms: int = 5,
              model=Bo1Model, normalize: bool = True) -> List[Tuple[str, float]]:
    """Top expansion terms of the given docs (searching.py:511-560)."""
    stats = searcher.ix.ensure_stats()
    m = model(int(stats["doc_count"]), int(stats["field_length"]))

    # per-term weight summed over the top docs + the total — one scan
    tv = (
        searcher.ix.postings.where(F.col("docid").isin([int(d) for d in docids]))
        .groupBy("term")
        .agg(F.sum("weight").alias("wt"))
    )
    rows = tv.join(
        searcher.ix.term_stats.select("term", F.col("total_weight").alias("cf")),
        "term",
    ).collect()
    if not rows:
        return []
    tt = sum(float(r["wt"]) for r in rows)
    tlist = []
    maxscore = 0.0
    for r in rows:
        s = m.score(float(r["wt"]), float(r["cf"]), tt)
        maxscore = max(maxscore, s)
        tlist.append((s, r["term"]))
    norm = m.normalizer(maxscore, tt) if normalize else maxscore
    tlist = [(s / norm, t) for s, t in tlist]
    tlist.sort(key=lambda x: (0 - x[0], x[1]))
    return [(t, s) for s, t in tlist[:numterms]]


def key_terms_from_text(searcher: Searcher, text: str, numterms: int = 5,
                        model=Bo1Model, normalize: bool = True,
                        analyzer=None) -> List[Tuple[str, float]]:
    """Top expansion terms of a raw text (Searcher.key_terms_from_text,
    searching.py:547-559; Expander.add_text, classify.py:156-203).

    Parity notes: the total weight `tt` sums EVERY analyzed token
    (including words absent from the index — Expander.add adds before the
    membership check), while scored candidates are only the words present
    in the lexicon (read through the searcher's stats memo: at most one
    pushed `term IN` lookup, never a lexicon scan)."""
    from collections import Counter

    from whoosh_reloaded_spark.analysis import StandardAnalyzer

    stats = searcher.ix.ensure_stats()
    m = model(int(stats["doc_count"]), int(stats["field_length"]))
    ana = analyzer or StandardAnalyzer()
    weights = Counter(t for t, _ in ana(text))
    if not weights:
        return []
    tt = float(sum(weights.values()))
    stats = searcher._lookup_stats(list(weights))
    tlist = []
    maxscore = 0.0
    for t, wt in weights.items():
        df, cf = stats[t]
        if df:
            s = m.score(float(wt), cf, tt)
            maxscore = max(maxscore, s)
            tlist.append((s, t))
    if not tlist:
        return []
    norm = m.normalizer(maxscore, tt) if normalize else maxscore
    tlist = [(s / norm, t) for s, t in tlist]
    tlist.sort(key=lambda x: (0 - x[0], x[1]))
    return [(t, s) for s, t in tlist[:numterms]]


def more_like(searcher: Searcher, docid: int, numterms: int = 5,
              model=Bo1Model, limit: int = 10) -> DataFrame:
    """More-like-this (searching.py:561-616): expand the doc's key terms
    into an Or query, excluding the source doc."""
    terms = key_terms(searcher, [docid], numterms, model)
    if not terms:
        spark = searcher.ix.postings.sparkSession
        return spark.createDataFrame([], "docid long, uid string, score double")
    q = Q.Or(tuple(Q.Term(t) for t, _ in terms))
    hits = searcher._eval(q).where(F.col("docid") != docid)
    out = hits.orderBy(F.col("score").desc(), F.col("docid").asc()).limit(limit)
    return out.join(
        searcher.ix.docmeta.select("docid", "uid"), "docid"
    ).orderBy(F.col("score").desc(), F.col("docid").asc())
