"""Or-of-terms top-k parity (FIXTURES.md §5 invariant).

These tests once held the block-max WAND plan to the exhaustive Or plan.
WAND is gone (BASELINE.md §3.4 measured it slower at every scale tried);
what stays is the exhaustive plan, so they now hold the searcher's public
top-k — the fused one-scan Or plan cut by TakeOrderedAndProject — to a
top-k built independently from per-term Term frames (union + sum, the
UnionMatcher semantics of matching/binary.py:252-268), exactly (docids AND
scores), with and without boosts, on a built and on a saved index."""

from functools import reduce

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whoosh_reloaded_spark.corpus import PAGES_SCHEMA, generate_rows
from whoosh_reloaded_spark.index import build_index
from whoosh_reloaded_spark.query import Or, Searcher, Term


@pytest.fixture(scope="module")
def searcher(spark):
    df = spark.createDataFrame(list(generate_rows(400)), PAGES_SCHEMA)
    ix = build_index(df)
    ix.persist()
    return Searcher(ix)


def _topk(df, k):
    return [
        (r["docid"], round(r["score"], 9))
        for r in df.orderBy(F.col("score").desc(), F.col("docid").asc())
        .limit(k)
        .collect()
    ]


def _per_term_union(searcher, terms, boosts=None):
    """Exhaustive Or built from one Term frame per term, summed per doc."""
    boosts = boosts or {}
    frames = [searcher._eval(Term(t, boost=boosts.get(t, 1.0))) for t in terms]
    return (
        reduce(DataFrame.unionByName, frames)
        .groupBy("docid")
        .agg(F.sum("score").alias("score"))
    )


def _search_topk(searcher, terms, k, boosts=None):
    boosts = boosts or {}
    q = Or(tuple(Term(t, boost=boosts.get(t, 1.0)) for t in terms))
    return _topk(searcher.search(q, limit=k, with_uid=False), k)


@pytest.mark.parametrize(
    "terms",
    [
        ["render"],
        ["render", "yellow"],
        ["alpha", "data", "spark"],          # Zipf-head terms, long lists
        ["render", "zzznope"],               # one missing term
        ["alfa"],                            # graded-tf fixture docs
    ],
)
@pytest.mark.parametrize("k", [3, 10])
def test_wand_parity(searcher, terms, k):
    want = _topk(_per_term_union(searcher, terms), k)
    assert _search_topk(searcher, terms, k) == want, (terms, k)
    assert want  # every case has at least one live term


@pytest.mark.parametrize(
    "boosts",
    [
        {"alpha": 5.0, "render": 1.0},   # boosted head term
        {"alpha": 1.0, "render": 7.0},
        {"alpha": 0.25},                  # down-boost
    ],
)
def test_wand_parity_with_boosts(searcher, boosts):
    """Per-term boosts must reach the fused Or plan's scores."""
    terms = ["alpha", "render"]
    got = _search_topk(searcher, terms, 5, boosts)
    want = _topk(_per_term_union(searcher, terms, boosts), 5)
    assert got == want, (boosts, got, want)
    assert len(want) == 5  # the result must not be empty


def test_wand_parity_saved_index(spark, tmp_path):
    """A saved index carries no block_no column; its top-k equals the
    in-memory index's, and the Or plan needs no range join."""
    from whoosh_reloaded_spark.index import load_index, save_index

    df = spark.createDataFrame(list(generate_rows(400)), PAGES_SCHEMA)
    built = Searcher(build_index(df))
    save_index(built.ix, str(tmp_path / "ix"))
    s = Searcher(load_index(spark, str(tmp_path / "ix")))
    assert "block_no" not in s.ix.postings.columns
    assert not (tmp_path / "ix" / "blocks").exists()
    for terms in (["render", "yellow"], ["alpha", "data", "spark"]):
        want = _topk(_per_term_union(built, terms), 10)
        assert _search_topk(s, terms, 10) == want, terms
    q = Or((Term("alpha"), Term("render")))
    plan = s.search(q, limit=5)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
