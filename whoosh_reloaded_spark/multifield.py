"""Multi-field schemas: per-field indexes + a field-routing searcher.

The reference's Schema maps many fields to one segment's postings keyed by
(fieldname, term); BM25F scores each field with its own statistics
(df per (field, term), per-field average length) and per-field B overrides
(scoring.py:274-329).  Here each field is its own index over SHARED docids
(one rank_docids pass), and MultiFieldSearcher routes fielded leaf queries
to the right per-field Searcher — in a compound query each routed leaf is a
frame leaf of the planner's one aggregate (query/planner.py).

At scale this layout is strictly better than one interleaved posting table:
queries touching one field scan only that field's files, and per-field
tables compact/merge independently.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whoosh_reloaded_spark.index.build import (
    InvertedIndex,
    build_index,
    rank_docids,
)
from whoosh_reloaded_spark.query import ast as Q
from whoosh_reloaded_spark.query.planner import Searcher


@dataclass
class FieldSpec:
    """Per-field config (≙ the reference's FieldType essentials:
    analyzer, field boost, posting format, vectors — fields.py:60-373)."""

    text_col: str
    analyzer: Optional[object] = None
    boost: float = 1.0
    format: str = "positions"   # "positions" | "frequency" | "existence"
    store_vector: bool = False


def build_multi_index(
    corpus: DataFrame,
    fields: Dict[str, FieldSpec],
    uid_col: str = "url",
    num_partitions: int = 0,
) -> Dict[str, InvertedIndex]:
    """Build one index per field over a single shared docid assignment."""
    ranked = rank_docids(
        corpus.select(uid_col, *[fs.text_col for fs in fields.values()]),
        uid_col,
        num_partitions,
    )
    out = {}
    for name, fs in fields.items():
        out[name] = build_index(
            ranked.docs,
            uid_col=uid_col,
            text_col=fs.text_col,
            fieldname=name,
            analyzer=fs.analyzer,
            field_boost=fs.boost,
            with_docids=True,
            num_partitions=ranked.k,
            format=fs.format,
            store_vector=fs.store_vector,
        )
    return out


_FIELDED_LEAVES = (
    Q.Term, Q.Phrase, Q.Ordered, Q.Prefix, Q.Wildcard, Q.Regex,
    Q.FuzzyTerm, Q.TermRange, Q.Every,
)


class MultiFieldSearcher(Searcher):
    """Routes fielded leaf queries to per-field searchers; compound nodes
    combine across fields on docid (scores sum like the reference's Or/And
    over fielded term matchers), each routed leaf a frame leaf of the one
    aggregate."""

    def __init__(self, indexes: Dict[str, InvertedIndex],
                 default_field: str = "text", weighting=None,
                 field_B: Optional[Dict[str, float]] = None):
        from whoosh_reloaded_spark.scoring import BM25F

        self.field_searchers = {}
        for fname, ix in indexes.items():
            w = weighting
            if w is None:
                w = BM25F(field_B=field_B or {})
            self.field_searchers[fname] = Searcher(ix, w)
        self.default_field = default_field
        base = self.field_searchers[default_field]
        super().__init__(indexes[default_field], base.weighting)

    def _routed(self, q: Q.Query) -> Optional[Searcher]:
        """The field searcher that plans a fielded leaf, or None.  A
        FIELDED Every must scan only its field's docmeta — the base
        _all_docs here is the all-fields union, which is the unfielded
        Every('*:*') semantics (qcore.py:650-737)."""
        fname = getattr(q, "fieldname", None)
        if (
            isinstance(q, _FIELDED_LEAVES)
            and fname in self.field_searchers
            and (fname != self.ix.fieldname or isinstance(q, Q.Every))
        ):
            return self.field_searchers[fname]
        return None

    # a routed leaf's frame, and its term matchers for the SQR counts,
    # come from the searcher that plans it

    def _eval(self, q: Q.Query) -> DataFrame:
        s = self._routed(q)
        return s._eval(q) if s else super()._eval(q)

    def _leaf_frame(self, q: Q.Query) -> DataFrame:
        s = self._routed(q)
        return s._leaf_frame(q) if s else super()._leaf_frame(q)

    def _n_term_matchers(self, q: Q.Query) -> int:
        s = self._routed(q)
        return s._n_term_matchers(q) if s else super()._n_term_matchers(q)

    def _weighted(self, weighting) -> Searcher:
        """A WeightingQuery's sub-searcher: its field searchers carry the
        model too, each sharing its own memos, so the subtree's fielded
        leaves are routed and scored under the model."""
        sub = super()._weighted(weighting)
        if sub is not self:
            sub.field_searchers = {
                f: s._weighted(weighting)
                for f, s in self.field_searchers.items()
            }
        return sub

    def _all_docs(self, score: float = 1.0) -> DataFrame:
        # Every()/Not() complement over the union of all fields' docmeta
        metas = [s.ix.docmeta.select("docid") for s in self.field_searchers.values()]
        u = metas[0]
        for m in metas[1:]:
            u = u.unionByName(m)
        return u.distinct().select(
            "docid", F.lit(float(score)).alias("score")
        )


def expand_glob_fields(corpus: DataFrame, glob_specs: Dict[str, FieldSpec],
                       exclude: Optional[list] = None) -> Dict[str, FieldSpec]:
    """Dynamic glob-named fields (fields.py:1447-1452, tests/test_flexible.py):
    expand patterns like ``*_text`` against the corpus columns, each match
    becoming a concrete field with the template's config (analyzer/boost/
    format), field name == column name."""
    import fnmatch

    out: Dict[str, FieldSpec] = {}
    skip = set(exclude or ())
    for pattern, template in glob_specs.items():
        for col in corpus.columns:
            if col in skip or col in out:
                continue
            if fnmatch.fnmatchcase(col, pattern):
                out[col] = FieldSpec(
                    text_col=col,
                    analyzer=template.analyzer,
                    boost=template.boost,
                    format=template.format,
                    store_vector=template.store_vector,
                )
    return out


def build_multi_index_glob(corpus: DataFrame,
                           glob_specs: Dict[str, FieldSpec],
                           uid_col: str = "url",
                           num_partitions: int = 0) -> Dict[str, InvertedIndex]:
    """build_multi_index over glob-expanded dynamic fields."""
    fields = expand_glob_fields(corpus, glob_specs, exclude=[uid_col])
    if not fields:
        raise ValueError("no corpus columns match the glob patterns")
    return build_multi_index(corpus, fields, uid_col, num_partitions)
