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
  SpanFirst, SpanOr, SpanNot and SpanBefore; the 13 shapes of
  ``tests/test_spans.make_cases`` over this corpus; every span node over
  every leaf kind (a boosted Term, a Prefix, a single-term Prefix with a
  boost, a FuzzyTerm, an empty expansion, and a boosted, scaled Or of
  Terms with a repeated term); a SpanNot whose excluded side never
  matches; 3-deep nesting; spans inside And, Or, scaled Or, AndNot and
  Not;
* overflowing expansions: with ``TOO_MANY_CLAUSES`` patched to 2 on a
  fresh searcher (cases named ``overflow ...``), ``alf*`` and ``*o``
  expand past the cap, bare and inside And, AndMaybe, Or, scaled Or,
  SpanNear2 and SpanOr, beside terms that their expansion also holds.

For every case whose root is a span query, the ``(docid, score, spans)``
rows of ``SpanEvaluator(searcher).frame`` are pinned too (scores rel
1e-9, spans exactly).

The values were captured from the per-leaf phrase/Ordered plans and the
union/join path that planned any tree holding such a leaf, and from the
per-operator span evaluator, so they hold any rewrite of positional,
span or multiterm planning to the same results.  The values live in
``tests/positional_goldens.json``; regenerate them (only when a change
of results is intended) with ``python -m tests.test_positional_goldens``.
"""

import contextlib
import json
import os
import random
from unittest import mock

import pytest

from whoosh_reloaded_spark.query import ast as Q
from whoosh_reloaded_spark.query import planner
from whoosh_reloaded_spark.query.spans import (
    SpanBefore,
    SpanCondition,
    SpanContains,
    SpanEvaluator,
    SpanFirst,
    SpanNear,
    SpanNear2,
    SpanNot,
    SpanOr,
    SpanQuery,
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
    # the shapes of tests/test_spans.make_cases
    "make_cases first_default": lambda: SpanFirst(a),
    "make_cases first_limit1": lambda: SpanFirst(b, limit=1),
    "make_cases near_ordered": lambda: SpanNear(a, b, ordered=True),
    "make_cases near_unordered": lambda: SpanNear(a, b, ordered=False),
    "make_cases near_same_term": lambda: SpanNear(b, b, ordered=True),
    "make_cases near_nested": lambda: SpanNear(SpanNear(a, c), e),
    "make_cases near_or_subquery": lambda: SpanNear(
        Q.Or((a, c)), e, ordered=True
    ),
    "make_cases near2_slop": lambda: SpanNear2((b, e), slop=3),
    "make_cases span_not": lambda: SpanNot(SpanNear(a, c, slop=2), b),
    "make_cases span_or": lambda: SpanOr((SpanNear(a, c, slop=2), b)),
    "make_cases span_contains": lambda: SpanContains(
        SpanNear(a, c, slop=3), e
    ),
    "make_cases span_before": lambda: SpanBefore(a, c),
    "make_cases span_condition": lambda: SpanCondition(a, c),
    # a SpanNot whose excluded side never matches, and 3-deep nesting
    "SpanNot(a, zebra)": lambda: SpanNot(a, T("zebra")),
    "SpanNot(a, zz*)": lambda: SpanNot(a, Q.Prefix("zz")),
    "SpanOr(SpanNot(SpanNear2(a, b), SpanFirst(b)), SpanContains(...))":
        lambda: SpanOr((
            SpanNot(SpanNear2((a, b), slop=2, ordered=False),
                    SpanFirst(b, limit=1)),
            SpanContains(SpanNear2((c, e), slop=3, ordered=False), d),
        )),
    "SpanFirst(SpanNear2(SpanOr(a, d), SpanBefore(b, e)), 5)": lambda: (
        SpanFirst(SpanNear2((SpanOr((a, d)), SpanBefore(b, e)), slop=2), 5)
    ),
    # spans inside boolean trees; a span ignores its leaves' fieldnames
    "And(SpanNear2(a, b), c)": lambda: Q.And((SpanNear2((a, b)), c)),
    "And(SpanNear2(title:a, b), c)": lambda: Q.And(
        (SpanNear2((Q.Term("alfa", "title"), b)), c)
    ),
    "Or(SpanFirst(a, 1), d)": lambda: Q.Or((SpanFirst(a, limit=1), d)),
    "Or(SpanFirst(a, 1), d, scale=0.9)": lambda: Q.Or(
        (SpanFirst(a, limit=1), d), scale=0.9
    ),
    "Or(SpanNear2(alf*, b), e, scale=0.9)^2": lambda: Q.Or(
        (SpanNear2((Q.Prefix("alf"), b)), e), scale=0.9, boost=2.0
    ),
    "AndNot(c, SpanNear2(a, b))": lambda: Q.AndNot(c, SpanNear2((a, b))),
    "And(c, Not SpanOr(a, d))": lambda: Q.And(
        (c, Q.Not(SpanOr((a, d))))
    ),
    "DisMax(SpanBefore(a, c), AndMaybe(e, SpanFirst(d, 2)))": lambda: (
        Q.DisjunctionMax(
            (SpanBefore(a, c), Q.AndMaybe(e, SpanFirst(d, limit=2)))
        )
    ),
}

# every span node over every leaf kind
SPAN_LEAVES = {
    "alfa^2": lambda: T("alfa", 2.0),
    "alf*": lambda: Q.Prefix("alf"),
    "golfe*^2": lambda: Q.Prefix("golfe", boost=2.0),
    "delta~": lambda: Q.FuzzyTerm("delta"),
    "zz*": lambda: Q.Prefix("zz"),
    "Or(a, a^2, e, scale=0.9)^1.5": lambda: Q.Or(
        (a, T("alfa", 2.0), e), boost=1.5, scale=0.9
    ),
}
SPAN_NODES = {
    "SpanFirst({}, 2)": lambda x: SpanFirst(x, limit=2),
    "SpanNear2({}, b, slop=2)": lambda x: SpanNear2((x, b), slop=2),
    "SpanOr({}, d)": lambda x: SpanOr((x, d)),
    "SpanNot({}, SpanNear2(b, c, slop=3, unordered))": lambda x: SpanNot(
        x, SpanNear2((b, c), slop=3, ordered=False)
    ),
    "SpanContains(SpanNear2(b, c, slop=3, unordered), {})": lambda x: (
        SpanContains(SpanNear2((b, c), slop=3, ordered=False), x)
    ),
    "SpanBefore({}, c)": lambda x: SpanBefore(x, c),
    "SpanCondition({}, c)": lambda x: SpanCondition(x, c),
}
for _node, _wrap in SPAN_NODES.items():
    for _leaf, _make in SPAN_LEAVES.items():
        CASES[_node.format(_leaf)] = (
            lambda w=_wrap, m=_make: w(m())
        )

# expansions past the cap (3 terms each: alfa/alfas/alfalfa and
# bravo/echo/kilo); evaluated with TOO_MANY_CLAUSES patched to
# OVERFLOW_CAP on a fresh searcher
OVERFLOW_CAP = 2
CASES.update({
    "overflow alf*": lambda: Q.Prefix("alf"),
    "overflow alf*^2": lambda: Q.Prefix("alf", boost=2.0),
    "overflow And(alf*, b)": lambda: Q.And((Q.Prefix("alf"), b)),
    "overflow And(alf*, a)": lambda: Q.And((Q.Prefix("alf"), a)),
    "overflow AndMaybe(b, alf*)": lambda: Q.AndMaybe(b, Q.Prefix("alf")),
    "overflow Or(alf*, b)": lambda: Q.Or((Q.Prefix("alf"), b)),
    "overflow Or(alf*, b, scale=0.9)": lambda: Q.Or(
        (Q.Prefix("alf"), b), scale=0.9
    ),
    "overflow Or(alf*^2, a, *o, scale=0.9)": lambda: Q.Or(
        (Q.Prefix("alf", boost=2.0), a, Q.Wildcard("*o")), scale=0.9
    ),
    "overflow SpanNear2(alf*, b)": lambda: SpanNear2((Q.Prefix("alf"), b)),
    "overflow SpanNear2(alf*^2, *o, slop=2)": lambda: SpanNear2(
        (Q.Prefix("alf", boost=2.0), Q.Wildcard("*o")), slop=2
    ),
    "overflow SpanOr(alf*, d)": lambda: SpanOr((Q.Prefix("alf"), d)),
    "overflow SpanNot(SpanOr(alf*, a), b)": lambda: SpanNot(
        SpanOr((Q.Prefix("alf"), a)), b
    ),
})


def _searcher(spark):
    from whoosh_reloaded_spark.index import build_index
    from whoosh_reloaded_spark.query import Searcher

    df = spark.createDataFrame(
        [(f"d{i:02d}", t) for i, t in enumerate(corpus())],
        "url string, text string",
    )
    return Searcher(build_index(df).persist())


@contextlib.contextmanager
def case_searcher(searcher, name):
    """`searcher`, or for an ``overflow`` case a fresh searcher on the same
    index (no memoized expansion) with the cap patched."""
    if not name.startswith("overflow "):
        yield searcher
        return
    with mock.patch.object(planner, "TOO_MANY_CLAUSES", OVERFLOW_CAP):
        yield type(searcher)(searcher.ix)


def hits(searcher, q):
    return {u: s for _, u, s in searcher.search_list(q, 1000)}


def frame_rows(searcher, q):
    """The span frame as [docid, score, [[start, end], ...]] by docid."""
    rows = SpanEvaluator(searcher).frame(q).collect()
    return sorted(
        [r["docid"], r["score"], [[x["s"], x["e"]] for x in r["spans"]]]
        for r in rows
    )


SPAN_CASES = [name for name, make in CASES.items()
              if isinstance(make(), SpanQuery)]


def capture(spark):
    s = _searcher(spark)
    out = {"hits": {}, "frames": {}}
    for name, make in CASES.items():
        with case_searcher(s, name) as cs:
            out["hits"][name] = hits(cs, make())
            if name in SPAN_CASES:
                out["frames"][name] = frame_rows(cs, make())
    return out


@pytest.fixture(scope="module")
def searcher(spark):
    return _searcher(spark)


@pytest.fixture(scope="module")
def goldens():
    with open(GOLDEN_PATH, encoding="utf-8") as f:
        return json.load(f)


def test_every_case_pinned(goldens):
    assert set(goldens["hits"]) == set(CASES)
    assert set(goldens["frames"]) == set(SPAN_CASES)


@pytest.mark.parametrize("name", list(CASES))
def test_positional_golden(searcher, goldens, name):
    with case_searcher(searcher, name) as s:
        got = hits(s, CASES[name]())
    want = goldens["hits"][name]
    assert set(got) == set(want), name
    for u, s in want.items():
        assert got[u] == pytest.approx(s, rel=1e-9, abs=1e-12), (name, u)


@pytest.mark.parametrize("name", SPAN_CASES)
def test_span_frame_golden(searcher, goldens, name):
    with case_searcher(searcher, name) as s:
        got = frame_rows(s, CASES[name]())
    want = goldens["frames"][name]
    assert [r[0] for r in got] == [r[0] for r in want], name
    for (docid, score, spans), (_, want_score, want_spans) in zip(got, want):
        assert score == pytest.approx(want_score, rel=1e-9, abs=1e-12), (
            name, docid,
        )
        assert spans == want_spans, (name, docid)


def _plan_jobs(spark, s, q, group):
    """The Spark jobs s.search(q) runs before its frame executes."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "search() before execution")
    try:
        s.search(q, limit=10)
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_overflow_count_is_memoized(spark, searcher, goldens):
    """A scaled Or counts an overflowing expansion's terms once per
    searcher: with the expansion and the stats already memoized, it plans
    with the one count job, and with none when searched again."""
    with case_searcher(searcher, "overflow ") as s:
        assert s.search(Q.Or((Q.Prefix("alf"), b)), 10).collect()
        q = Q.Or((Q.Prefix("alf"), b), scale=0.9)
        assert _plan_jobs(spark, s, q, "wrs-plan-overflow-1") == 1
        assert _plan_jobs(spark, s, q, "wrs-plan-overflow-2") == 0
        got = hits(s, q)
    want = goldens["hits"]["overflow Or(alf*, b, scale=0.9)"]
    assert got == pytest.approx(want, rel=1e-9, abs=1e-12)


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
    def section(key, names, fmt):
        lines = [
            f"    {json.dumps(name)}: {json.dumps(fmt(data[key][name]))}"
            for name in names
        ]
        return f"  {json.dumps(key)}: {{\n" + ",\n".join(lines) + "\n  }"

    with open(GOLDEN_PATH, "w", encoding="utf-8") as f:
        f.write(
            "{\n"
            + section("hits", CASES, lambda h: dict(sorted(h.items())))
            + ",\n"
            + section("frames", SPAN_CASES, lambda rows: rows)
            + "\n}\n"
        )
