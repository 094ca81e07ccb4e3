"""The one-scan compiler (Searcher._eval_term_tree).

* Differential property test: random trees of And / Or (plain and
  scaled) / DisjunctionMax / AndNot / Require / AndMaybe / Not over
  Terms, Phrases, Ordereds, Prefix / FuzzyTerm leaves and span leaves
  (SpanNear2, SpanFirst and SpanOr over Terms and Prefixes) must give the
  same doc set and scores (rel 1e-9) as the general per-operator
  union/join path on the same tree.  The general path is reached by
  wrapping every leaf (a span query whole) in ``WeightingQuery(leaf,
  None)``: _eval unwraps it to the same leaf, compiled alone, but the
  compiler accepts only bare leaves.  A second run patches
  TOO_MANY_CLAUSES to 1, so two-term expansions overflow.
* Plan shape: on a saved index, shapes that used to take two postings
  scans and a join or union now plan as exactly one postings scan and
  no join; a tree with overflowing expansions plans as one aggregate
  over the `term IN` scan and one scan (and lexicon join) per
  overflowing leaf.
"""

import random
from unittest import mock

import pytest
from hypothesis import HealthCheck, assume, given, settings
from hypothesis import strategies as st

from tests.conftest import final_plan, postings_scans
from tests.test_parser_fuzz import DOCS, OOV, VOCAB
from whoosh_reloaded_spark.query import ast as Q
from whoosh_reloaded_spark.query import planner
from whoosh_reloaded_spark.query.parser import QueryParser
from whoosh_reloaded_spark.query.spans import (
    SpanBefore,
    SpanCondition,
    SpanContains,
    SpanFirst,
    SpanNear2,
    SpanNot,
    SpanOr,
    SpanQuery,
)


# VOCAB's words share no prefix; these make Prefix and FuzzyTerm leaves
# expand to two terms
WORDS = VOCAB + ["alfas", "deltas", "golfer"]


def _corpus():
    """40 docs of 2-9 words with uneven word frequencies, so terms
    co-occur in every combination and adjacent pairs recur (unlike DOCS,
    whose docs each draw from one residue class of the vocabulary)."""
    rng = random.Random(11)
    weights = [len(WORDS) - i for i in range(len(WORDS))]
    return [
        " ".join(rng.choices(WORDS, weights, k=rng.randint(2, 9)))
        for _ in range(40)
    ]


@pytest.fixture(scope="module")
def searcher(spark):
    from whoosh_reloaded_spark.index import build_index
    from whoosh_reloaded_spark.query import Searcher

    df = spark.createDataFrame(
        [(f"d{i:02d}", t) for i, t in enumerate(_corpus())],
        "url string, text string",
    )
    return Searcher(build_index(df).persist())


boost = st.sampled_from([1.0, 2.0, 3.0])
# a few words drawn often, so trees repeat terms across and within nodes
term = st.builds(
    Q.Term,
    st.sampled_from(VOCAB[:4] * 3 + VOCAB[4:] + OOV),
    boost=boost,
)
words = st.lists(st.sampled_from(VOCAB[:4] * 2 + ["alfas", "zebra"]),
                 min_size=2, max_size=3)
# two-term, one-term ("char") and empty ("zz") expansions
prefix = st.builds(
    Q.Prefix, st.sampled_from(["alf", "delt", "golf", "char", "zz"]),
    boost=boost,
)
fuzzy = st.builds(
    Q.FuzzyTerm, st.sampled_from(["alfa", "delta", "golfe", "hotel", "zebra"]),
    boost=boost,
)
span_kid = st.one_of(term, prefix)
span = st.one_of(
    st.builds(
        SpanNear2, st.lists(span_kid, min_size=2, max_size=3),
        slop=st.sampled_from([1, 2]), ordered=st.booleans(),
    ),
    st.builds(SpanFirst, span_kid, limit=st.sampled_from([0, 1, 3])),
    st.builds(SpanOr, st.lists(span_kid, min_size=1, max_size=3)),
)
leaf = st.one_of(
    term,
    st.builds(Q.Phrase, words, slop=st.sampled_from([1, 2]), boost=boost),
    st.builds(Q.Ordered, words, boost=boost),
    prefix,
    fuzzy,
    span,
)


def _compound(inner):
    kids = st.lists(inner, min_size=2, max_size=4).map(tuple)
    # an And holds at least one positive child; Not children ride along
    and_kids = st.tuples(
        inner, st.lists(st.one_of(inner, inner.map(Q.Not)), max_size=3)
    ).map(lambda t: (t[0],) + tuple(t[1]))
    return st.one_of(
        st.builds(Q.Or, kids, boost=boost,
                  scale=st.sampled_from([0.0, 0.9, 2.0])),
        st.builds(Q.And, and_kids, boost=boost),
        st.builds(Q.DisjunctionMax, kids, boost=boost),
        st.builds(Q.AndNot, inner, inner, boost=boost),
        st.builds(Q.Require, inner, inner, boost=boost),
        st.builds(Q.AndMaybe, inner, inner, boost=boost),
    )


trees = st.recursive(leaf, _compound, max_leaves=7).filter(
    lambda q: not isinstance(q, Q.Term)
)


def _general(q):
    """The same tree with every leaf wrapped so the compiler declines it."""
    if q.is_leaf() or isinstance(q, SpanQuery):
        return Q.WeightingQuery(q, None)
    return q.apply(_general)


def _scores(frame):
    return {r["docid"]: r["score"] for r in frame.collect()}


DIFFERENTIAL = settings(
    max_examples=40,
    deadline=None,
    derandomize=True,
    suppress_health_check=[
        HealthCheck.too_slow, HealthCheck.function_scoped_fixture,
        HealthCheck.filter_too_much,
    ],
)


@DIFFERENTIAL
@given(q=trees)
def test_compiled_equals_general_path(searcher, q):
    _check_differential(searcher, q)


@pytest.fixture(scope="module")
def capped(searcher):
    """A searcher of its own, whose expansions are memoized under the
    patched cap only."""
    from whoosh_reloaded_spark.query import Searcher

    return Searcher(searcher.ix)


@settings(DIFFERENTIAL, max_examples=20)
@given(q=trees)
def test_overflowing_compiled_equals_general_path(capped, q):
    """Prefix leaves over alf / delt / golf and FuzzyTerm leaves over
    alfa / delta / golfe expand to two terms, past a cap of 1; their
    _scored_postings_rel rows join the compiled aggregate."""
    with mock.patch.object(planner, "TOO_MANY_CLAUSES", 1):
        assume(any(
            isinstance(leaf, Q._MultiTerm) and capped.expand_terms(leaf) is None
            for leaf in q.leaves()
        ))
        _check_differential(capped, q)


def _check_differential(searcher, q):
    general = _general(q)
    assert searcher._eval_term_tree(q) is not None, q
    assert searcher._eval_term_tree(general) is None, q
    got = _scores(searcher._eval(q))
    want = _scores(searcher._eval(general))
    assert set(got) == set(want), q
    for docid, score in want.items():
        assert got[docid] == pytest.approx(score, rel=1e-9, abs=1e-12), (
            q, docid,
        )


a, b, c, d = (Q.Term(w) for w in ("alfa", "delta", "golf", "bravo"))
al = Q.Prefix("al")

ONE_SCAN_SHAPES = {
    "alfa NOT bravo": QueryParser().parse("alfa NOT bravo"),
    "Or(And(alfa,delta), AndNot(golf,bravo))": Q.Or(
        (Q.And((a, b)), Q.AndNot(c, d))
    ),
    "three levels": Q.And(
        (Q.Or((a, Q.AndMaybe(b, Q.DisjunctionMax((c, d))))), Q.Not(d))
    ),
    "DisMax(alfa, alfa^2)": Q.DisjunctionMax((a, Q.Term("alfa", boost=2.0))),
    "alfa AND delta": Q.And((a, b)),
    "alfa OR bravo": Q.Or((a, d)),
    "(alfa OR bravo) AND golf": Q.And((Q.Or((a, d)), c)),
    "Or(alfa, delta, bravo, scale=0.9)": Q.Or((a, b, d), scale=0.9),
    # positional and multiterm leaves (DOCS steps VOCAB by 3: alfa delta
    # golf juliet ...)
    '"alfa delta"': Q.Phrase(("alfa", "delta")),
    "Ordered(alfa, golf)": Q.Ordered(("alfa", "golf")),
    '"alfa delta" AND golf': Q.And((Q.Phrase(("alfa", "delta")), c)),
    'al* OR "delta golf"': Q.Or((Q.Prefix("al"), Q.Phrase(("delta", "golf")))),
    "alfa~ AND delta": Q.And((Q.FuzzyTerm("alfa"), b)),
    'Or(alfa, "delta golf", scale=0.9)': Q.Or(
        (a, Q.Phrase(("delta", "golf"))), scale=0.9
    ),
    # span shapes
    "SpanNear2(alfa, delta)": SpanNear2((a, b)),
    "SpanNear2(al*, delta)": SpanNear2((al, b)),
    "SpanNear2(SpanOr(alfa, bravo), delta)": SpanNear2((SpanOr((a, d)), b)),
    "SpanOr(bravo, SpanNear2(alfa, delta))": SpanOr((d, SpanNear2((a, b)))),
    "SpanNot(delta, SpanNear2(alfa, delta))": SpanNot(b, SpanNear2((a, b))),
    "SpanContains(SpanNear2(alfa, golf, slop=3), delta)": SpanContains(
        SpanNear2((a, c), slop=3), b
    ),
    "SpanBefore(alfa, golf)": SpanBefore(a, c),
    "SpanCondition(alfa, golf)": SpanCondition(a, c),
    "And(SpanNear2(alfa, delta), golf)": Q.And((SpanNear2((a, b)), c)),
    "Or(SpanFirst(alfa, 1), bravo, scale=0.9)": Q.Or(
        (SpanFirst(a, limit=1), d), scale=0.9
    ),
}


@pytest.fixture(scope="module")
def saved(spark, tmp_path_factory):
    from whoosh_reloaded_spark.index import build_index, load_index, save_index
    from whoosh_reloaded_spark.query import Searcher

    df = spark.createDataFrame(
        [(f"d{i:02d}", t) for i, t in enumerate(DOCS)],
        "url string, text string",
    )
    path = str(tmp_path_factory.mktemp("bool_ix") / "ix")
    save_index(build_index(df), path)
    return Searcher(load_index(spark, path))


@pytest.mark.parametrize("name", list(ONE_SCAN_SHAPES))
def test_one_postings_scan_no_join(saved, name):
    out = saved.search(ONE_SCAN_SHAPES[name], limit=10, with_uid=False)
    assert out.collect()
    plan = final_plan(out)
    assert len(postings_scans(plan)) == 1, plan
    assert "Join" not in plan and "Union" not in plan, plan


# with the cap at 2, *a (alfa delta india lima) and *o (bravo echo kilo)
# overflow; (tree, number of overflowing leaves, whether terms are scanned)
star_a, star_o = Q.Wildcard("*a"), Q.Wildcard("*o")
OVERFLOW_SHAPES = {
    "*a": (star_a, 1, False),
    "And(*a, golf)": (Q.And((star_a, c)), 1, True),
    "And(*a, alfa)": (Q.And((star_a, a)), 1, True),
    "Or(*a, golf, scale=0.9)": (Q.Or((star_a, c), scale=0.9), 1, True),
    "Or(*a, *o)": (Q.Or((star_a, star_o)), 2, False),
    "SpanNear2(*a, golf)": (SpanNear2((star_a, c)), 1, True),
    "SpanOr(*a, bravo)": (SpanOr((star_a, d)), 1, True),
}


@pytest.mark.parametrize("name", list(OVERFLOW_SHAPES))
def test_overflowing_leaves_join_the_one_aggregate(saved, name):
    from whoosh_reloaded_spark.query import Searcher

    q, rels, scanned = OVERFLOW_SHAPES[name]
    with mock.patch.object(planner, "TOO_MANY_CLAUSES", 2):
        out = Searcher(saved.ix).search(q, limit=10, with_uid=False)
    assert out.collect()
    plan = final_plan(out)
    scans = postings_scans(plan)
    assert len(scans) == rels + scanned, plan
    assert sum("PushedFilters: [IsNotNull(term), In(" in ln
               or "EqualTo(term," in ln for ln in scans) == scanned, plan
    # the only joins are the overflowing leaves' lexicon joins
    joins = [ln for ln in plan.splitlines() if "Join" in ln]
    stats = [ln for ln in plan.splitlines()
             if "FileScan parquet" in ln and "/term_stats" in ln]
    assert len(joins) == len(stats) == rels, plan
    # one groupBy(docid): its partial and final halves
    aggs = [ln for ln in plan.splitlines() if "Aggregate(keys=[docid" in ln]
    assert len(aggs) == 2, plan


def test_phrase_in_tree_needs_positions(spark):
    """A positional leaf (a phrase, a span, a span over an overflowing
    expansion) inside a compiled tree, or alone, on a position-less index
    raises the positions error instead of returning no hits or failing
    in Spark's analyzer."""
    from whoosh_reloaded_spark.index import build_index
    from whoosh_reloaded_spark.query import Searcher

    df = spark.createDataFrame(
        [(f"d{i:02d}", t) for i, t in enumerate(_corpus())],
        "url string, text string",
    )
    s = Searcher(build_index(df, format="frequency"))
    # alf* expands to alfa and alfas, past a cap of 1
    overflowing = SpanFirst(Q.Prefix("alf"), 3)
    for positional in (
        Q.Phrase(("alfa", "delta")), SpanNear2((a, b)), overflowing,
    ):
        for q in (Q.And((positional, Q.Term("golf"))), positional):
            with mock.patch.object(planner, "TOO_MANY_CLAUSES", 1):
                with pytest.raises(ValueError, match="without positions"):
                    s.search(q, 10).collect()
