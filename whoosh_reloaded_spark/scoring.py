"""Weighting models as vectorized Spark column expressions.

The reference's WeightingModel/Scorer protocol (src/whoosh/scoring.py) pulls a
score per posting from a Python iterator; here every model is a factory that
returns a single Column expression evaluated inside whole-stage codegen over
the (query-term x posting) frame — no per-row Python.

Replicated formulas (behavior parity, re-derived from the published BM25/DFR
literature and verified against the reference's searcher):

- idf = log(N / (df + 1)) + 1                      (ref scoring.py:51-57)
- BM25: idf * (w*(K1+1)) / (w + K1*((1-B) + B*fl/avgfl))
                                                   (ref scoring.py:264-271)
  with B=0.75, K1=1.2 defaults (scoring.py:277), fl = BYTE-DECODED doc field
  length (lossy quantization — lengths.py), avgfl = exact total/doccount
  (searching.py:277-280).
- TF_IDF: w * idf                                  (ref scoring.py:459-484)
- Frequency: w                                     (ref scoring.py:453-456)
- DFree / PL2: the Terrier DFR formulas            (ref scoring.py:335-447)
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field as dc_field
from typing import Dict, Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

from whoosh_reloaded_spark.lengths import byte_to_length_expr


def idf_value(doc_count: int, df: int) -> float:
    """Driver-side idf (cached per searcher like searching.py:334-351)."""
    return math.log(doc_count / (df + 1)) + 1.0


@dataclass
class ScoreContext:
    """Everything a weighting model may consume, as Columns + scalars.

    Column inputs come from the posting frame; per-term statistics (idf, cf)
    are embedded as literal maps keyed by the term column — the reference
    caches the same stats per searcher (searching.py:334-351)."""

    weight: Column          # posting weight (tf * boosts)
    len_byte: Column        # quantized field length byte
    idf: Column             # per-term idf literal map lookup
    cf: Optional[Column]    # per-term collection frequency (total weight)
    N: int                  # doc_count_all
    avgfl: float            # exact average field length
    field_length: int       # total field length (collection)
    fieldname: str = "text"
    positions: Optional[Column] = None  # per-posting position array (only
    # resolvable when the model sets needs_positions and the frame has it)
    reads_length: bool = dc_field(default=False, init=False)

    @property
    def length(self) -> Column:
        """The exact field length.  Saved postings do not store it (the
        reference keeps only the length byte per doc); reading it sets
        `reads_length`, and the planner then brings the column in, from
        one join on docmeta where the postings lack it."""
        self.reads_length = True
        return F.col("length")

    def fl(self, quantized: bool) -> Column:
        """Effective per-doc length: byte-decoded in parity mode (the
        reference scores with the lossy decoded value), exact otherwise."""
        return (
            byte_to_length_expr(self.len_byte)
            if quantized
            else self.length.cast("double")
        )


class WeightingModel:
    quantized: bool = True
    needs_positions: bool = False  # ask the planner to carry positions
    use_final: bool = False        # apply final_col per doc after combining

    def score_col(self, ctx: ScoreContext) -> Column:
        raise NotImplementedError

    def final_col(self, score: Column) -> Column:
        """Doc-level post-hook (ref scoring.py:66-82 WeightingModel.final):
        applied by Searcher.search to the combined per-doc score, exactly
        where the reference's collector calls weighting.final()."""
        return score


@dataclass
class BM25F(WeightingModel):
    """Default weighting (ref scoring.py:274-329).  ``quantized=False``
    scores with exact lengths — used for SQL-oracle cross-checks, NOT for
    whoosh-parity (which requires byte-decoded lengths); on a saved index
    they come from docmeta, one join per postings scan (see
    ScoreContext.length), while the default scores with the length byte
    each posting stores."""

    B: float = 0.75
    K1: float = 1.2
    quantized: bool = True
    field_B: Dict[str, float] = dc_field(default_factory=dict)

    def score_col(self, ctx: ScoreContext) -> Column:
        B = self.field_B.get(ctx.fieldname, self.B)
        K1 = self.K1
        w = ctx.weight
        fl = ctx.fl(self.quantized)
        return ctx.idf * (
            (w * (K1 + 1.0)) / (w + K1 * ((1.0 - B) + B * fl / F.lit(ctx.avgfl)))
        )


@dataclass
class TF_IDF(WeightingModel):
    quantized: bool = True

    def score_col(self, ctx: ScoreContext) -> Column:
        return ctx.weight * ctx.idf


@dataclass
class Frequency(WeightingModel):
    quantized: bool = True

    def score_col(self, ctx: ScoreContext) -> Column:
        return ctx.weight.cast("double")


@dataclass
class DFree(WeightingModel):
    """Terrier DFree (ref scoring.py:335-371): divergence-from-randomness.

    cf = collection term weight, fl(collection) = total field length."""

    quantized: bool = True
    qf: float = 1.0

    def score_col(self, ctx: ScoreContext) -> Column:
        tf = ctx.weight
        dl = ctx.fl(self.quantized)
        cf = ctx.cf
        coll_fl = F.lit(float(ctx.field_length))
        prior = tf / dl
        post = (tf + 1.0) / (dl + 1.0)
        invpriorcol = coll_fl / cf
        norm = tf * F.log(post / prior)
        return (
            F.lit(self.qf)
            * norm
            * (
                tf * F.log(prior * invpriorcol)
                + (tf + 1.0) * F.log(post * invpriorcol)
                + 0.5 * F.log(post / prior)
            )
        )


@dataclass
class PL2(WeightingModel):
    """Terrier PL2 (ref scoring.py:393-447)."""

    c: float = 1.0
    quantized: bool = True
    qf: float = 1.0

    def score_col(self, ctx: ScoreContext) -> Column:
        rec_log2_of_e = 1.0 / math.log(2)
        tf = ctx.weight
        fl = ctx.fl(self.quantized)
        cf = ctx.cf
        TF = tf * F.log(1.0 + (self.c * ctx.avgfl) / fl)
        norm = 1.0 / (TF + 1.0)
        f = cf / F.lit(float(ctx.N))
        return (
            norm
            * F.lit(self.qf)
            * (
                TF * F.log(1.0 / f)
                + f * F.lit(rec_log2_of_e)
                + 0.5 * F.log(2.0 * math.pi * TF)
                + TF * (F.log(TF) - F.lit(rec_log2_of_e))
            )
        )


class FunctionWeighting(WeightingModel):
    """Score with a user-supplied Column factory (ref scoring.py:515-556).

    The reference's fn signature is ``(searcher, fieldname, text, matcher)``
    pulled per posting; the Spark-native equivalent is one vectorized
    ``fn(ctx: ScoreContext) -> Column`` evaluated over the whole posting
    frame.  Example — the reference docstring's position scorer::

        FunctionWeighting(lambda ctx: 1.0 / (F.element_at(ctx.positions, 1) + 1),
                          needs_positions=True)

    ``final_fn(score_col) -> Column`` maps onto the legacy ``final()``
    doc-level hook (ref scoring.py:66-82, tests/test_weightings.py
    test_compatibility).
    """

    def __init__(self, fn, quantized: bool = True,
                 needs_positions: bool = False, final_fn=None):
        self.fn = fn
        self.quantized = quantized
        self.needs_positions = needs_positions
        self.final_fn = final_fn
        self.use_final = final_fn is not None

    def score_col(self, ctx: ScoreContext) -> Column:
        return self.fn(ctx)

    def final_col(self, score: Column) -> Column:
        return self.final_fn(score) if self.final_fn is not None else score


class MultiWeighting(WeightingModel):
    """Per-field model dispatch (ref scoring.py:558-583): the keyword map
    picks the model for each fieldname, falling back to `default`.  Dispatch
    happens at plan time via ctx.fieldname — each per-field subplan gets its
    own score expression, like the reference handing each fielded term its
    field's scorer."""

    def __init__(self, default: WeightingModel, **weightings: WeightingModel):
        self.default = default
        self.weightings = weightings

    def _pick(self, fieldname: str) -> WeightingModel:
        return self.weightings.get(fieldname, self.default)

    @property
    def quantized(self):  # parity mode follows the dispatched models
        return self.default.quantized

    def score_col(self, ctx: ScoreContext) -> Column:
        return self._pick(ctx.fieldname).score_col(ctx)


class ReverseWeighting(WeightingModel):
    """0 - wrapped score (ref scoring.py:586-611): lowest-scoring docs rank
    first.  Top-k keeps orderBy(score desc) — negated scores sort exactly
    like the reference's reversed heap."""

    def __init__(self, weighting: WeightingModel):
        self.weighting = weighting

    @property
    def quantized(self):
        return self.weighting.quantized

    @property
    def needs_positions(self):
        return self.weighting.needs_positions

    def score_col(self, ctx: ScoreContext) -> Column:
        return F.lit(0.0) - self.weighting.score_col(ctx)
