"""The one-aggregate compiler (Searcher._eval_term_tree).

* Differential property test: random trees of And / Or (plain and
  scaled) / DisjunctionMax / AndNot / Require / AndMaybe / Not over
  Terms, Phrases, Ordereds, Prefix / FuzzyTerm leaves and span leaves
  (SpanNear2, SpanFirst and SpanOr over Terms and Prefixes) must give the
  same doc set and scores (rel 1e-9) as the per-operator union/join
  planner on the same tree (tests/union_join_planner.py), which plans
  each operator as a union or a join and each leaf compiled alone.  A
  second run patches TOO_MANY_CLAUSES to 1, so two-term expansions
  overflow; a third mixes in frame leaves: Every, NullQuery, ranges and
  ColumnQuerys over stored columns, ConstantScoreQuery, WeightingQuery
  (TF_IDF()), Otherwise and nested queries over subtrees, Nots anywhere,
  and Terms on another field.
* Plan shape: on a saved index, shapes that used to take two postings
  scans and a join or union now plan as exactly one postings scan and
  no join; a tree with overflowing expansions plans as one aggregate
  over the `term IN` scan and one scan (and lexicon join) per
  overflowing leaf; a tree with frame leaves plans as one docid
  aggregate whose only joins and unions, besides the union of its
  tagged rows, are those of its frame leaves' own plans.
"""

import random
from unittest import mock

import pytest
from hypothesis import HealthCheck, assume, example, given, settings
from hypothesis import strategies as st

from tests.conftest import aggregates, final_plan, joins, postings_scans
from tests.test_parser_fuzz import DOCS, OOV, VOCAB
from tests.union_join_planner import UnionJoinSearcher
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
)
from whoosh_reloaded_spark.scoring import TF_IDF


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


def _frame(docs):
    """docs as (url, text) plus stored columns for frame leaves: a number
    n, and every fourth doc the parent of the three after it."""
    rows = [
        (f"d{i:02d}", t, (i * 7) % 11, None if i % 4 else "parent",
         f"d{i - i % 4:02d}" if i % 4 else None)
        for i, t in enumerate(docs)
    ]
    return rows, "url string, text string, n int, kind string, parent_uid string"


STORED = ["n", "kind", "parent_uid"]


@pytest.fixture(scope="module")
def searcher(spark):
    from whoosh_reloaded_spark.index import build_index
    from whoosh_reloaded_spark.query import Searcher

    df = spark.createDataFrame(*_frame(_corpus()))
    return Searcher(build_index(df, stored_cols=STORED).persist())


@pytest.fixture(scope="module")
def reference(searcher):
    return UnionJoinSearcher(searcher.ix)


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


a, b, c, d = (Q.Term(w) for w in ("alfa", "delta", "golf", "bravo"))
PARENTS = Q.ColumnQuery("kind = 'parent'")
# frame leaves with no subtree
plain_frame = st.one_of(
    st.builds(Q.Every, boost=boost),
    st.just(Q.NullQuery()),
    st.builds(lambda lo, b: Q.NumericRange("n", lo, lo + 5, boost=b),
              st.integers(0, 8), boost),
    st.sampled_from([Q.ColumnQuery("n % 3 = 0"), Q.ColumnQuery("length > 5")]),
    st.builds(Q.Term, st.sampled_from(VOCAB[:4]), st.just("title"), boost),
)


def _framed(inner):
    """Operators over `inner`, and frame leaves wrapping it."""
    return st.one_of(
        _compound(inner),
        st.builds(Q.ConstantScoreQuery, inner, st.sampled_from([0.5, 2.5])),
        st.builds(Q.WeightingQuery, inner, st.builds(TF_IDF)),
        st.builds(Q.Otherwise, inner, inner, boost=boost),
        inner.map(Q.Not),
        st.builds(Q.NestedParent, st.just(PARENTS), inner,
                  st.sampled_from(["best", "sum", "count"])),
        st.builds(Q.NestedChildren, st.just(PARENTS), inner, boost=boost),
    )


framed_trees = st.recursive(
    st.one_of(term, prefix, fuzzy, plain_frame), _framed, max_leaves=6
).filter(lambda q: isinstance(q, planner._TREE_NODES))


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
def test_compiled_equals_general_path(searcher, reference, q):
    _check_differential(searcher, reference, q)


@pytest.fixture(scope="module")
def capped(searcher):
    """Searchers of their own, whose expansions are memoized under the
    patched cap only."""
    from whoosh_reloaded_spark.query import Searcher

    return Searcher(searcher.ix), UnionJoinSearcher(searcher.ix)


@settings(DIFFERENTIAL, max_examples=20)
@given(q=trees)
def test_overflowing_compiled_equals_general_path(capped, q):
    """Prefix leaves over alf / delt / golf and FuzzyTerm leaves over
    alfa / delta / golfe expand to two terms, past a cap of 1; their
    _scored_postings_rel rows join the compiled aggregate."""
    with mock.patch.object(planner, "TOO_MANY_CLAUSES", 1):
        assume(any(
            isinstance(leaf, Q._MultiTerm)
            and capped[0].expand_terms(leaf) is None
            for leaf in q.leaves()
        ))
        _check_differential(*capped, q)


def _tf_idf(q):
    return Q.WeightingQuery(q, TF_IDF())


@settings(DIFFERENTIAL, max_examples=40)
@given(q=framed_trees)
# WeightingQuery(TF_IDF()) over multiterm and Or subtrees inside scaled
# Ors, whose per-doc matcher counts the SQR bonus reads
@example(q=Q.Or((_tf_idf(Q.Prefix("alf")), a, b), scale=0.9))
@example(q=Q.Or(
    (_tf_idf(Q.Or((a, Q.Term("bravo", boost=2.0), Q.Prefix("golf")))),
     Q.Term("charlie")),
    scale=0.9,
))
@example(q=Q.Or(
    (_tf_idf(Q.FuzzyTerm("delta")), Q.Otherwise(Q.Term("zebra"), c),
     Q.Not(a)),
    scale=0.9,
))
@example(q=Q.And(
    (a, Q.Otherwise(a, d), Q.Not(Q.NumericRange("n", 0, 4)))
))
@example(q=Q.Or((Q.Term("alfa", "title"), d, _tf_idf(Q.And((b, c)))),
                scale=0.9))
@example(q=Q.AndMaybe(
    Q.NestedParent(PARENTS, Q.Or((a, d))), _tf_idf(Q.And((b, c)))
))
def test_frame_leaves_compiled_equals_union_join(searcher, reference, q):
    """Trees holding frame leaves, WeightingQuery(TF_IDF()) subtrees
    inside scaled Ors among them, plan as one aggregate and score as the
    union/join planner does, SQR matching counts included."""
    _check_differential(searcher, reference, q)


def _check_differential(searcher, reference, q):
    assert searcher._eval_term_tree(q) is not None, q
    got = _scores(searcher._eval(q))
    want = _scores(reference._eval(q))
    assert set(got) == set(want), q
    for docid, score in want.items():
        assert got[docid] == pytest.approx(score, rel=1e-9, abs=1e-12), (
            q, docid,
        )


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

    df = spark.createDataFrame(*_frame(DOCS))
    path = str(tmp_path_factory.mktemp("bool_ix") / "ix")
    save_index(build_index(df, stored_cols=STORED), path)
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


# (tree, its frame leaves); DOCS's alfa docs hold delta and golf, its
# bravo docs hotel
FRAME_SHAPES = {
    "And(alfa, n range)": (Q.And((a, Q.NumericRange("n", 2, 9))), 1),
    "Or(alfa, Every)": (Q.Or((a, Q.Every())), 1),
    "Or(alfa, ColumnQuery)": (Q.Or((a, Q.ColumnQuery("n % 3 = 0"))), 1),
    "Or(alfa, ConstantScore(Or(bravo, golf)))": (
        Q.Or((a, Q.ConstantScoreQuery(Q.Or((d, c)), 2.5))), 1
    ),
    "Or(alfa, TF_IDF(delta), bravo, scale=0.9)": (
        Q.Or((a, Q.WeightingQuery(b, TF_IDF()), d), scale=0.9), 1
    ),
    "AndMaybe(alfa, Otherwise(zebra, bravo))": (
        Q.AndMaybe(a, Q.Otherwise(Q.Term("zebra"), d)), 1
    ),
    "Or(alfa, Not bravo)": (Q.Or((a, Q.Not(d))), 1),
    "Or(charlie, And(Not alfa, Not bravo))": (
        Q.Or((Q.Term("charlie"), Q.And((Q.Not(a), Q.Not(d))))), 1
    ),
    "Or(alfa, NestedParent(bravo))": (Q.Or((a, Q.NestedParent(PARENTS, d))), 1),
    "DisMax(delta, NestedChildren(alfa))": (
        Q.DisjunctionMax((b, Q.NestedChildren(PARENTS, a))), 1
    ),
    "And(alfa, range, Not ColumnQuery) OR title:bravo": (
        Q.Or((
            Q.And((a, Q.NumericRange("n", 0, 9),
                   Q.Not(Q.ColumnQuery("n % 2 = 0")))),
            Q.Term("bravo", "title"),
        )), 3
    ),
}


def _executed_plan(df) -> str:
    """The executed plan of a collected DataFrame, adaptive or not."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def _unions(plan: str) -> list:
    return [ln for ln in plan.splitlines() if "Union" in ln]


@pytest.mark.parametrize("name", list(FRAME_SHAPES))
def test_frame_leaves_join_the_one_aggregate(saved, name):
    """One docid aggregate at the root over one union of the postings
    scan and the frame leaves' rows; every other aggregate, join and
    union belongs to a frame leaf's own plan, so a Not keeps its anti
    join and a nested query its joins."""
    q, n_frames = FRAME_SHAPES[name]
    tree = planner._TermTree.of(saved, q)
    assert len(tree.frames) == n_frames, tree.frames
    out = saved._eval(q)  # as written: normalize would fold an Every
    assert out.collect()
    plan = _executed_plan(out)
    own = []
    for _, rows in tree.frames:
        rows.collect()
        own.append(_executed_plan(rows))
    aggs = aggregates(plan)
    assert "keys=[docid" in aggs[0], plan
    assert len(aggs) == 2 + sum(len(aggregates(p)) for p in own), plan
    assert len(joins(plan)) == sum(len(joins(p)) for p in own), plan
    assert len(_unions(plan)) == 1 + sum(len(_unions(p)) for p in own), plan
    if "Nested" in name:
        assert joins(plan), plan
    if name == "Or(alfa, Not bravo)":
        assert "LeftAnti" in plan, plan


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
