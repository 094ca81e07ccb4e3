"""Pinned url -> score maps for boolean trees holding frame leaves.

A frame leaf is a subtree the one-scan compiler does not read from this
field's postings: Every, NullQuery, a NumericRange over a stored numeric
column, a ColumnQuery, a ConstantScoreQuery, a WeightingQuery(TF_IDF())
over a Term, a Prefix or an Or, an Otherwise, NestedParent and
NestedChildren, a Not outside an And, an And of only Nots, and a leaf on
another field searched through a MultiFieldSearcher.  Every kind sits
inside every compiled operator (And, Or, scaled Or, DisjunctionMax,
AndNot, Require, AndMaybe), beside plain terms; a few deeper trees mix
kinds.  The fielded leaf is not put under a scaled Or here: that count
is checked by test_scaled_or_across_fields against its formula.

These goldens run without the reference.  Each case pins the full hit
set and each hit's score (rel 1e-9) of ``Searcher._eval`` on the tree as
written (not normalized, so an Every or a NullQuery stays inside its
operator).  The values were captured from the per-operator union/join
plans (tests/union_join_planner.py), so they hold any rewrite of how
frame leaves are planned to the same results.  They live in
``tests/frame_leaf_goldens.json``; regenerate them (only when a change
of results is intended) with ``python -m tests.test_frame_leaf_goldens``.
"""

import json
import os
import random

import pytest

from whoosh_reloaded_spark.query import ast as Q
from whoosh_reloaded_spark.scoring import TF_IDF

GOLDEN_PATH = os.path.join(os.path.dirname(__file__), "frame_leaf_goldens.json")

WORDS = [
    "alfa", "bravo", "charlie", "delta", "echo", "golf",
    "alfas", "deltas", "golfer", "hotel",
]


def corpus():
    """40 docs: (url, text, title, n, kind, parent_uid).  Every fourth doc
    is a parent of the three after it."""
    rng = random.Random(31)
    weights = [12 - i for i in range(len(WORDS))]
    rows = []
    for i in range(40):
        text = " ".join(rng.choices(WORDS, weights, k=rng.randint(3, 10)))
        title = " ".join(rng.choices(WORDS, weights, k=rng.randint(1, 3)))
        parent = None if i % 4 == 0 else f"d{i - i % 4:02d}"
        rows.append((f"d{i:02d}", text, title, (i * 7) % 23,
                     "parent" if parent is None else "child", parent))
    return rows


SCHEMA = ("url string, text string, title string, n int, kind string,"
          " parent_uid string")


def T(text, boost=1.0, field="text"):
    return Q.Term(text, field, boost)


PARENTS = Q.ColumnQuery("kind = 'parent'")

# kind -> the frame leaf (single-field searcher)
KINDS = {
    "Every^1.5": lambda: Q.Every(1.5),
    "NullQuery": lambda: Q.NullQuery(),
    "NumericRange(n 5..15)": lambda: Q.NumericRange("n", 5, 15),
    "ColumnQuery(n % 3 = 0)": lambda: Q.ColumnQuery("n % 3 = 0"),
    "ConstantScore(Or(charlie, delta), 2.5)": lambda: Q.ConstantScoreQuery(
        Q.Or((T("charlie"), T("delta"))), 2.5
    ),
    "TF_IDF(charlie)": lambda: Q.WeightingQuery(T("charlie"), TF_IDF()),
    "TF_IDF(golf*)": lambda: Q.WeightingQuery(Q.Prefix("golf"), TF_IDF()),
    "TF_IDF(Or(charlie, delta^2))": lambda: Q.WeightingQuery(
        Q.Or((T("charlie"), T("delta", 2.0))), TF_IDF()
    ),
    "Otherwise(zebra, Or(charlie, delta))": lambda: Q.Otherwise(
        T("zebra"), Q.Or((T("charlie"), T("delta")))
    ),
    "NestedParent(charlie)": lambda: Q.NestedParent(PARENTS, T("charlie")),
    "NestedChildren(delta)": lambda: Q.NestedChildren(PARENTS, T("delta")),
    "Not charlie": lambda: Q.Not(T("charlie")),
    "And(Not charlie, Not delta)": lambda: Q.And(
        (Q.Not(T("charlie")), Q.Not(T("delta")))
    ),
}

# op -> the tree around frame leaf k, with compiled leaves x and y
OPS = {
    "And": lambda x, y, k: Q.And((x, k)),
    "Or": lambda x, y, k: Q.Or((x, k)),
    "Or scale": lambda x, y, k: Q.Or((x, k, y), scale=0.9),
    "DisMax": lambda x, y, k: Q.DisjunctionMax((x, k)),
    "AndNot": lambda x, y, k: Q.AndNot(k, y),
    "Require": lambda x, y, k: Q.Require(x, k),
    "AndMaybe": lambda x, y, k: Q.AndMaybe(x, k),
}

# (searcher name, tree) per case; "multi" is the MultiFieldSearcher over
# title and body (default body)
CASES = {}
for _op, _tree in OPS.items():
    for _kind, _leaf in KINDS.items():
        CASES[f"{_op}: {_kind}"] = (
            "single",
            lambda t=_tree, k=_leaf: t(T("alfa"), T("bravo"), k()),
        )
    if _op != "Or scale":
        CASES[f"{_op}: title:alfa"] = (
            "multi",
            lambda t=_tree: t(
                T("bravo", field="body"), T("charlie", field="body"),
                T("alfa", field="title"),
            ),
        )
CASES.update({
    "deep: Or(And(alfa, range), TF_IDF(golf*), AndNot(bravo, Not echo),"
    " scale)": ("single", lambda: Q.Or(
        (
            Q.And((T("alfa"), KINDS["NumericRange(n 5..15)"]())),
            KINDS["TF_IDF(golf*)"](),
            Q.AndNot(T("bravo"), Q.Not(T("echo"))),
        ),
        scale=0.9,
    )),
    "deep: And(Or(alfa, CSQ), Not(column), DisMax(Otherwise, bravo))^2": (
        "single", lambda: Q.And(
            (
                Q.Or((T("alfa"), KINDS[
                    "ConstantScore(Or(charlie, delta), 2.5)"]())),
                Q.Not(KINDS["ColumnQuery(n % 3 = 0)"]()),
                Q.DisjunctionMax((
                    KINDS["Otherwise(zebra, Or(charlie, delta))"](),
                    T("bravo"),
                )),
            ),
            boost=2.0,
        )
    ),
    "deep: AndMaybe(Require(TF_IDF(Or), Every), NestedParent)": (
        "single", lambda: Q.AndMaybe(
            Q.Require(KINDS["TF_IDF(Or(charlie, delta^2))"](), Q.Every()),
            KINDS["NestedParent(charlie)"](),
        )
    ),
    "deep: Or(TF_IDF(Or(alfa, golf*)), delta, scale)^2": (
        "single", lambda: Q.Or(
            (
                Q.WeightingQuery(Q.Or((T("alfa"), Q.Prefix("golf"))),
                                 TF_IDF()),
                T("delta"),
            ),
            scale=0.9, boost=2.0,
        )
    ),
    "deep multi: And(Or(title:alfa, bravo), Not title:charlie)": (
        "multi", lambda: Q.And(
            (
                Q.Or((T("alfa", field="title"), T("bravo", field="body"))),
                Q.Not(T("charlie", field="title")),
            )
        )
    ),
})


def searchers(spark):
    from whoosh_reloaded_spark.index import build_index
    from whoosh_reloaded_spark.multifield import (
        FieldSpec,
        MultiFieldSearcher,
        build_multi_index,
    )
    from whoosh_reloaded_spark.query import Searcher

    df = spark.createDataFrame(corpus(), SCHEMA)
    single = Searcher(build_index(
        df, stored_cols=["n", "kind", "parent_uid"]
    ).persist())
    indexes = build_multi_index(df, {
        "title": FieldSpec("title"), "body": FieldSpec("text"),
    })
    multi = MultiFieldSearcher(
        {k: ix.persist() for k, ix in indexes.items()}, default_field="body"
    )
    return {"single": single, "multi": multi}


def hits(searcher, q):
    """url -> score of the tree as written: _eval, without normalize."""
    uids = searcher.ix.docmeta.select("docid", "uid")
    return {
        r["uid"]: r["score"]
        for r in searcher._eval(q).join(uids, "docid").collect()
    }


def capture(spark):
    ss = searchers(spark)
    return {name: hits(ss[s], make()) for name, (s, make) in CASES.items()}


@pytest.fixture(scope="module")
def built(spark):
    return searchers(spark)


@pytest.fixture(scope="module")
def goldens():
    with open(GOLDEN_PATH, encoding="utf-8") as f:
        return json.load(f)


def test_every_case_pinned(goldens):
    assert set(goldens) == set(CASES)


@pytest.mark.parametrize("name", list(CASES))
def test_frame_leaf_golden(built, goldens, name):
    which, make = CASES[name]
    got = hits(built[which], make())
    want = goldens[name]
    assert set(got) == set(want), name
    for u, s in want.items():
        assert got[u] == pytest.approx(s, rel=1e-9, abs=1e-12), (name, u)


def test_scaled_or_across_fields(spark):
    """A scaled Or over leaves on two fields counts each leaf's term
    matcher with the searcher that plans it: tc is 2, so each hit scores
    (sum + (m - 1) / (2 - 0.9)^2) * 1/2, m its matching leaves, as the
    parser's group_scale builds it too."""
    from whoosh_reloaded_spark.multifield import (
        FieldSpec,
        MultiFieldSearcher,
        build_multi_index,
    )
    from whoosh_reloaded_spark.query.parser import QueryParser

    df = spark.createDataFrame(
        [("d0", "alpha gamma", "beta"), ("d1", "gamma", "beta delta"),
         ("d2", "alpha", "gamma"), ("d3", "delta", "beta gamma")],
        "url string, title string, body string",
    )
    s = MultiFieldSearcher(build_multi_index(df, {
        "title": FieldSpec("title"), "body": FieldSpec("body"),
    }), default_field="body")
    alpha, beta = T("alpha", field="title"), T("beta", field="body")
    parts = [hits(s, leaf) for leaf in (alpha, beta)]
    want = {}
    for u in set(parts[0]) | set(parts[1]):
        scores = [p[u] for p in parts if u in p]
        want[u] = (sum(scores) + (len(scores) - 1) / 1.1 ** 2) / 2
    assert min(want.values()) > 0
    parsed = QueryParser(
        "body", group="or", group_scale=0.9, known_fields=["title", "body"]
    ).parse("title:alpha body:beta")
    assert parsed == Q.Or((alpha, beta), scale=0.9)
    got = {u: sc for _, u, sc in s.search_list(parsed, 10)}
    assert got == pytest.approx(want, rel=1e-9)


def test_weighting_query_routes_fielded_leaves(spark):
    """A WeightingQuery inside a MultiFieldSearcher plans its subtree with
    field searchers that carry its model: a title leaf under it hits the
    title docs, scored by the model over the title index."""
    from whoosh_reloaded_spark.multifield import (
        FieldSpec,
        MultiFieldSearcher,
        build_multi_index,
    )
    from whoosh_reloaded_spark.query import Searcher

    df = spark.createDataFrame(
        [("d0", "alpha gamma", "beta"), ("d1", "gamma", "beta alpha"),
         ("d2", "alpha alpha", "gamma"), ("d3", "delta", "beta gamma")],
        "url string, title string, body string",
    )
    indexes = build_multi_index(df, {
        "title": FieldSpec("title"), "body": FieldSpec("body"),
    })
    s = MultiFieldSearcher(indexes, default_field="body")
    alpha = T("alpha", field="title")
    assert set(hits(s, alpha)) == {"d0", "d2"}
    want = hits(Searcher(indexes["title"], TF_IDF()), alpha)
    assert set(want) == {"d0", "d2"}
    got = hits(s, Q.WeightingQuery(alpha, TF_IDF()))
    assert got == pytest.approx(want, rel=1e-12)
    # inside a tree too: the body leaf keeps the searcher's own model
    beta = T("beta", field="body")
    tree = Q.Or((Q.WeightingQuery(alpha, TF_IDF()), beta))
    body = hits(s, beta)
    both = {u: want.get(u, 0.0) + body.get(u, 0.0) for u in set(want) | set(body)}
    assert hits(s, tree) == pytest.approx(both, rel=1e-12)


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
