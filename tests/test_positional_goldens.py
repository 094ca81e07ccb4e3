"""Pinned url -> score maps for positional, multiterm and mixed trees.

These goldens run without the reference.  The engine builds one seeded
60-doc corpus whose words share prefixes (alfa / alfas / alfalfa, delta /
deltas, golf / golfer), so Prefix, Wildcard and FuzzyTerm expand to
several terms, adjacent pairs and repeated words occur, and df varies by
word.  Every case pins the full hit set and each hit's score (rel 1e-9):

* bare phrases (2 and 3 words, a repeated word, an OOV word, slop 2, a
  boost, a fieldname other than the index's) and Ordered;
* multiterm leaves, including the single-term expansion that drops its
  boost and the empty expansion;
* boolean trees mixing those leaves with terms, scaled Ors among them;
* span queries: SpanNear2 over terms (ordered and unordered with slop),
  SpanFirst, SpanOr, SpanNot and SpanBefore.

The values were captured from the per-leaf phrase/Ordered plans and the
union/join path that planned any tree holding such a leaf, so they hold
any rewrite of positional or multiterm planning to the same results.  The
values live in ``tests/positional_goldens.json``; regenerate them (only
when a change of results is intended) with
``python -m tests.test_positional_goldens``.
"""

import json
import os
import random

import pytest

from whoosh_reloaded_spark.query import ast as Q
from whoosh_reloaded_spark.query.spans import (
    SpanBefore,
    SpanFirst,
    SpanNear2,
    SpanNot,
    SpanOr,
)

GOLDEN_PATH = os.path.join(os.path.dirname(__file__), "positional_goldens.json")

WORDS = [
    "alfa", "bravo", "charlie", "delta", "echo", "golf",
    "alfas", "deltas", "golfer", "hotel", "alfalfa", "kilo",
]


def corpus():
    """60 docs of 3-12 words, drawn with falling weights, plus fixed docs
    that hold the 3-word phrase and a repeated adjacent word."""
    rng = random.Random(23)
    weights = [14 - i for i in range(len(WORDS))]
    docs = [
        " ".join(rng.choices(WORDS, weights, k=rng.randint(3, 12)))
        for _ in range(56)
    ]
    docs += [
        "alfa bravo charlie delta",
        "echo alfa bravo charlie alfa alfa",
        "golfer alfa alfa bravo kilo",
        "charlie golf alfa echo bravo",
    ]
    return docs


def T(text, boost=1.0):
    return Q.Term(text, boost=boost)


def P(text, **kw):
    return Q.Phrase(text.split(), **kw)


a, b, c, d, e = T("alfa"), T("bravo"), T("charlie"), T("delta"), T("echo")

CASES = {
    # bare phrases
    "phrase 2": lambda: P("alfa bravo"),
    "phrase 3": lambda: P("alfa bravo charlie"),
    "phrase alfa alfa": lambda: P("alfa alfa"),
    "phrase OOV word": lambda: P("alfa zebra"),
    "phrase slop 2": lambda: P("alfa charlie", slop=2),
    "phrase^2.5": lambda: P("bravo alfa", boost=2.5),
    "phrase on another field": lambda: P("alfa bravo", fieldname="title"),
    # bare Ordered
    "ordered 2": lambda: Q.Ordered(("alfa", "charlie")),
    "ordered repeated word": lambda: Q.Ordered(("alfa", "bravo", "alfa")),
    "ordered^2": lambda: Q.Ordered(("delta", "alfa"), boost=2.0),
    # bare multiterm leaves
    "prefix alf": lambda: Q.Prefix("alf"),
    "wildcard *o": lambda: Q.Wildcard("*o"),
    "wildcard g?lf*^3": lambda: Q.Wildcard("g?lf*", boost=3.0),
    "fuzzy delta": lambda: Q.FuzzyTerm("delta"),
    "fuzzy alfa^1.5": lambda: Q.FuzzyTerm("alfa", boost=1.5),
    "termrange bravo-delta": lambda: Q.TermRange("bravo", "delta"),
    "single expansion drops boost": lambda: Q.Prefix("golfe", boost=2.0),
    "empty expansion": lambda: Q.Prefix("zz"),
    # mixed trees
    '"a b" AND c': lambda: Q.And((P("alfa bravo"), c)),
    'a* OR "b c"': lambda: Q.Or((Q.Prefix("alf"), P("bravo charlie"))),
    'And(a, Not "b c")': lambda: Q.And((a, Q.Not(P("bravo charlie")))),
    'Or(a, "b c", scale=0.9)': lambda: Q.Or(
        (a, P("bravo charlie")), scale=0.9
    ),
    'Or(a, "b zebra", d, scale=0.9)': lambda: Q.Or(
        (a, P("bravo zebra"), d), scale=0.9
    ),
    'DisMax("a b", c)': lambda: Q.DisjunctionMax((P("alfa bravo"), c)),
    "a~ AND b": lambda: Q.And((Q.FuzzyTerm("alfa"), b)),
    "Or(alf*, b, scale=0.9)": lambda: Q.Or((Q.Prefix("alf"), b), scale=0.9),
    "Or(golfe*^2, c)": lambda: Q.Or((Q.Prefix("golfe", boost=2.0), c)),
    "Or(zz*, a, e, scale=0.9)": lambda: Q.Or(
        (Q.Prefix("zz"), a, e), scale=0.9
    ),
    "Or(Ordered(a, c), e, scale=0.9)^2": lambda: Q.Or(
        (Q.Ordered(("alfa", "charlie")), e), scale=0.9, boost=2.0
    ),
    'AndMaybe("a b"^2, d~)': lambda: Q.AndMaybe(
        P("alfa bravo", boost=2.0), Q.FuzzyTerm("delta")
    ),
    'AndNot(a*, "a a")': lambda: Q.AndNot(Q.Prefix("alf"), P("alfa alfa")),
    'Require(Or(c, e), "a b" slop 2)': lambda: Q.Require(
        Q.Or((c, e)), P("alfa bravo", slop=2)
    ),
    'Or(And("a b", c), Ordered(d, a), [bravo TO delta], scale=0.9)':
        lambda: Q.Or(
            (
                Q.And((P("alfa bravo"), c)),
                Q.Ordered(("delta", "alfa")),
                Q.TermRange("bravo", "delta"),
            ),
            scale=0.9,
        ),
    # spans
    "SpanNear2(a, b)": lambda: SpanNear2((a, b)),
    "SpanNear2(a^2, b, c)": lambda: SpanNear2((T("alfa", 2.0), b, c)),
    "SpanNear2(a, c, slop=3, unordered)": lambda: SpanNear2(
        (a, c), slop=3, ordered=False
    ),
    "SpanFirst(a, 1)": lambda: SpanFirst(a, limit=1),
    "SpanOr(d, SpanNear2(a, b))": lambda: SpanOr((d, SpanNear2((a, b)))),
    "SpanNot(a, SpanNear2(a, b))": lambda: SpanNot(a, SpanNear2((a, b))),
    "SpanBefore(a, c)": lambda: SpanBefore(a, c),
}


def _searcher(spark):
    from whoosh_reloaded_spark.index import build_index
    from whoosh_reloaded_spark.query import Searcher

    df = spark.createDataFrame(
        [(f"d{i:02d}", t) for i, t in enumerate(corpus())],
        "url string, text string",
    )
    return Searcher(build_index(df).persist())


def hits(searcher, q):
    return {u: s for _, u, s in searcher.search_list(q, 1000)}


def capture(spark):
    s = _searcher(spark)
    return {name: hits(s, make()) for name, make in CASES.items()}


@pytest.fixture(scope="module")
def searcher(spark):
    return _searcher(spark)


@pytest.fixture(scope="module")
def goldens():
    with open(GOLDEN_PATH, encoding="utf-8") as f:
        return json.load(f)


def test_every_case_pinned(goldens):
    assert set(goldens) == set(CASES)


@pytest.mark.parametrize("name", list(CASES))
def test_positional_golden(searcher, goldens, name):
    got = hits(searcher, CASES[name]())
    want = goldens[name]
    assert set(got) == set(want), name
    for u, s in want.items():
        assert got[u] == pytest.approx(s, rel=1e-9, abs=1e-12), (name, u)


if __name__ == "__main__":
    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    session.sparkContext.setLogLevel("ERROR")
    data = capture(session)
    session.stop()
    # one case per line, hits sorted by url, so a changed golden shows as
    # a readable diff
    lines = [
        f"  {json.dumps(name)}: {json.dumps(dict(sorted(data[name].items())))}"
        for name in CASES
    ]
    with open(GOLDEN_PATH, "w", encoding="utf-8") as f:
        f.write("{\n" + ",\n".join(lines) + "\n}\n")
