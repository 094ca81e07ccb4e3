"""Golden rank-identity: our BM25 top-k vs the reference Searcher.search.

Builds the SAME synthetic pages corpus in both engines (docs added to the
reference in url order so reference docnum == our docid), runs the reference
query set (FIXTURES.md §3, shapes from the reference's test_searching.py /
test_results.py), and asserts rank-identical top-10 docids with scores equal
to 1e-9 relative — the BASELINE.json north-rule correctness gate.
"""

import pytest

from tests.conftest import reference_importable
from whoosh_reloaded_spark.corpus import generate_rows
from whoosh_reloaded_spark.index import build_index
from whoosh_reloaded_spark.query import (
    And,
    AndMaybe,
    AndNot,
    DisjunctionMax,
    Every,
    FuzzyTerm,
    Not,
    Or,
    Phrase,
    Prefix,
    Require,
    Searcher,
    Term,
    TermRange,
    Variations,
    Wildcard,
)

pytestmark = pytest.mark.skipif(
    not reference_importable(), reason="reference not importable"
)

N_DOCS = 250
LIMIT = 10


@pytest.fixture(scope="module")
def corpus_rows():
    return list(generate_rows(N_DOCS))


@pytest.fixture(scope="module")
def whoosh_ix(corpus_rows, tmp_path_factory):
    from whoosh import fields, index

    schema = fields.Schema(
        url=fields.ID(stored=True, unique=True),
        text=fields.TEXT,
    )
    d = tmp_path_factory.mktemp("whoosh_ix")
    ix = index.create_in(str(d), schema)
    w = ix.writer()
    # url order == generation order (urls are zero-padded) -> docnum == docid
    for url, ts, html, text, lang in corpus_rows:
        w.add_document(url=url, text=text)
    w.commit()
    return ix


@pytest.fixture(scope="module")
def our_searcher(spark, corpus_rows):
    from whoosh_reloaded_spark.corpus import PAGES_SCHEMA

    df = spark.createDataFrame(corpus_rows, PAGES_SCHEMA)
    ix = build_index(df).persist()
    return Searcher(ix)


def whoosh_topk(whoosh_ix, wq, limit=LIMIT):
    # Force the reference's large-index Or strategy (binary UnionMatcher
    # tree).  Its AUTO heuristic (compound.py:333-346) only picks the
    # preloaded constant-score array path when doc_count <= 5000 — at any
    # realistic scale (our target) multiterm expansion is BM25-scored, so
    # that is the semantics this engine implements and tests against.
    from whoosh.query import Or as WOr

    WOr.matcher_type = WOr.DEFAULT_MATCHER
    with whoosh_ix.searcher() as s:
        try:
            res = s.search(wq, limit=limit)
            return [(hit["url"], hit.score) for hit in res]
        except AssertionError:
            # the reference's block-quality path crashes on some matcher
            # shapes (e.g. RequireMatcher.skip_to_quality -> Intersection
            # _find_next assert, matching/binary.py:468); fall back to the
            # exhaustive path — results are defined to be identical
            res = s.search(wq, limit=limit, optimize=False)
            return [(hit["url"], hit.score) for hit in res]


def our_topk(our_searcher, q, limit=LIMIT):
    return [(uid, score) for _, uid, score in our_searcher.search_list(q, limit)]


def assert_parity(ours, theirs, qname):
    assert [u for u, _ in ours] == [u for u, _ in theirs], (
        f"{qname}: rank mismatch\nours:   {ours}\ntheirs: {theirs}"
    )
    for (u1, s1), (u2, s2) in zip(ours, theirs):
        assert s1 == pytest.approx(s2, rel=1e-9), f"{qname}: score mismatch at {u1}"


def _wt(text):
    from whoosh.query import Term as WTerm

    return WTerm("text", text)


#: name -> (our query, a factory of the reference's query).  Our side
#: needs no reference import, so tests/test_search_parity_goldens.py
#: pins its results too.
CASES = {}


def case(name, ours):
    def reg(fn):
        CASES[name] = (ours, fn)
        return fn

    return reg


@case("q1_term", Term("render"))
def _q1():
    from whoosh.query import Term as WT

    return WT("text", "render")


@case("q1b_term_freq", Term("alfa"))
def _q1b():
    from whoosh.query import Term as WT

    return WT("text", "alfa")


@case("q2_and", And([Term("yellow"), Term("red")]))
def _q2():
    from whoosh.query import And as WAnd

    return WAnd([_wt("yellow"), _wt("red")])


@case("q3_or", Or([Term("render"), Term("red"), Term("yellow")]))
def _q3():
    from whoosh.query import Or as WOr

    return WOr([_wt("render"), _wt("red"), _wt("yellow")])


@case("q4_and_not_inline", And([Term("red"), Not(Term("yellow"))]))
def _q4():
    from whoosh.query import And as WAnd
    from whoosh.query import Not as WNot

    return WAnd([_wt("red"), WNot(_wt("yellow"))])


@case("q5_require", Require(Term("red"), Term("yellow")))
def _q5():
    from whoosh.query import Require as WRequire

    return WRequire(_wt("red"), _wt("yellow"))


@case("q6a_andmaybe", AndMaybe(Term("red"), Term("yellow")))
def _q6a():
    from whoosh.query import AndMaybe as WAndMaybe

    return WAndMaybe(_wt("red"), _wt("yellow"))


@case("q6b_andnot", AndNot(Term("red"), Term("yellow")))
def _q6b():
    from whoosh.query import AndNot as WAndNot

    return WAndNot(_wt("red"), _wt("yellow"))


@case("q7_phrase", Phrase(["quick", "went"]))
def _q7():
    from whoosh.query import Phrase as WPhrase

    return WPhrase("text", ["quick", "went"])


# 'a' is stopped; positions renumber
@case("q7b_phrase3", Phrase(["mary", "had", "little"]))
def _q7b():
    from whoosh.query import Phrase as WPhrase

    return WPhrase("text", ["mary", "had", "little"])


@case("q8a_prefix", Prefix("render"))
def _q8a():
    from whoosh.query import Prefix as WPrefix

    return WPrefix("text", "render")


@case("q8b_wildcard", Wildcard("re*er"))
def _q8b():
    from whoosh.query import Wildcard as WWildcard

    return WWildcard("text", "re*er")


@case("q9_termrange", TermRange("re", "rf"))
def _q9():
    from whoosh.query import TermRange as WTermRange

    return WTermRange("text", "re", "rf")


# Zipf-head (non-stop) term: stresses skew path
@case("q10_head_term", Term("alpha"))
def _q10():
    from whoosh.query import Term as WT

    return WT("text", "alpha")


# q11 (DisjunctionMax) is NOT in CASES: the reference's
# DisjunctionMaxMatcher.score() is buggy — it returns
# max(a.score(), b.score()) without the current-docid check that
# UnionMatcher.score does (matching/binary.py:367-374 vs :252-268), so it
# leaks the score of whatever future doc the other matcher is parked on.
# We implement the DOCUMENTED semantics ("the score of the higher-scoring
# posting" for the same doc) and verify against a golden built from the
# reference's own per-term scores in test_dismax_documented_semantics.


@case("q12_boost", Or([Term("render", boost=2.0), Term("yellow")]))
def _q12():
    from whoosh.query import Or as WOr
    from whoosh.query import Term as WT

    return WOr([WT("text", "render", boost=2.0), _wt("yellow")])


@case("q13_fuzzy", FuzzyTerm("rendar"))
def _q13():
    from whoosh.query import FuzzyTerm as WFuzzy

    return WFuzzy("text", "rendar")


# "redner" is OSA/Damerau distance 1 but PLAIN Levenshtein distance 2
# from "render": the reference's lev automaton has no transposition
# edges, so maxdist=1 must NOT match render (round-4 metric fix; the
# old OSA-based expansion wrongly matched here)
@case("q13b_fuzzy_transposition", FuzzyTerm("redner", maxdist=1))
def _q13b():
    from whoosh.query import FuzzyTerm as WFuzzy

    return WFuzzy("text", "redner", maxdist=1)


# at maxdist=2 both metrics admit "render" — rank parity must hold
@case("q13c_fuzzy_transposition_d2", FuzzyTerm("redner", maxdist=2))
def _q13c():
    from whoosh.query import FuzzyTerm as WFuzzy

    return WFuzzy("text", "redner", maxdist=2)


@case("q14_every", Every())
def _q14():
    from whoosh.query import Every as WEvery

    return WEvery()


@case("q15_nested_bool", And([Or([Term("yellow"), Term("alpha")]), Term("red")]))
def _q15():
    from whoosh.query import And as WAnd
    from whoosh.query import Or as WOr

    return WAnd([WOr([_wt("yellow"), _wt("alpha")]), _wt("red")])


# "NOT yellow NOT red" — And whose children are ALL Nots; regression for
# the empty-pos IndexError (ADVICE r1): must return the complement set
@case("q16_not_only_and", And([Not(Term("yellow")), Not(Term("red"))]))
def _q16():
    from whoosh.query import And as WAnd
    from whoosh.query import Not as WNot

    return WAnd([WNot(_wt("yellow")), WNot(_wt("red"))])


# test_searching.py:179-180 query shape; golden vs the real engine
@case("q18_variations_render", Variations("render"))
def _q18():
    from whoosh.query import Variations as WVariations

    return WVariations("text", "render")


@case("q18b_variations_pull", Variations("data"))
def _q18b():
    from whoosh.query import Variations as WVariations

    return WVariations("text", "data")


@case(
    "q19_termrange_excl",
    TermRange("re", "rf", startexcl=True, endexcl=True),
)
def _q19():
    from whoosh.query import TermRange as WTermRange

    return WTermRange("text", "re", "rf", startexcl=True, endexcl=True)


@case("q20_phrase_slop2", Phrase(["mary", "little"], slop=2))
def _q20():
    from whoosh.query import Phrase as WPhrase

    return WPhrase("text", ["mary", "little"], slop=2)


@case("q21_or_with_not", Or([Term("render"), Not(Term("yellow"))]))
def _q21():
    from whoosh.query import Not as WNot
    from whoosh.query import Or as WOr

    return WOr([_wt("render"), WNot(_wt("yellow"))])


@case(
    "q22_require_nested",
    Require(Or([Term("render"), Term("yellow")]), Term("red")),
)
def _q22():
    from whoosh.query import Or as WOr
    from whoosh.query import Require as WRequire

    return WRequire(WOr([_wt("render"), _wt("yellow")]), _wt("red"))


# the queries of the two documented-semantics tests below
DISMAX = DisjunctionMax([Term("render"), Term("yellow")])
OR_SCALE = Or([Term("render"), Phrase(["quick", "went"])], scale=0.5)
# the terms whose stats test_intermediate_stats_parity compares
STATS_TERMS = ["render", "yellow", "red", "alpha", "alfa"]


@pytest.mark.parametrize("name", sorted(CASES))
def test_rank_identical(name, whoosh_ix, our_searcher):
    ours_q, whoosh_q = CASES[name]
    assert_parity(
        our_topk(our_searcher, ours_q),
        whoosh_topk(whoosh_ix, whoosh_q()),
        name,
    )


def test_dismax_documented_semantics(whoosh_ix, our_searcher):
    """Golden for DisMax built from the reference's own per-term scores,
    combined per the documented max-of-matching-posting semantics (see note
    above about the reference matcher's positional bug)."""
    per_doc = {}
    with whoosh_ix.searcher() as s:
        for t in ("render", "yellow"):
            from whoosh.query import Term as WT

            for hit in s.search(WT("text", t), limit=None):
                u = hit["url"]
                per_doc[u] = max(per_doc.get(u, 0.0), hit.score)
    expected = sorted(per_doc.items(), key=lambda kv: (-kv[1], kv[0]))[:LIMIT]
    ours = our_topk(our_searcher, DISMAX)
    assert_parity(ours, expected, "q11_dismax_documented")


def test_or_scale_generic_documented_semantics(whoosh_ix, our_searcher):
    """Scaled Or with a NON-Term child (phrase) — CoordMatcher semantics with
    a STABLE termcount.

    NOT a raw parity case: the reference's CoordMatcher._replacement
    (matching/wrappers.py:545-546) recomputes termcount from the surviving
    subtree when a child matcher exhausts, so once the rarer child runs out
    every later doc scores `(tc-1)/tc = 0` — scores depend on docnum-order
    replacement state (verified: phrase 'quick went' matches only docnum 3;
    reference scores 0.0 for every doc after it).  We implement the
    DOCUMENTED SQR formula (wrappers.py:548-567) with termcount fixed at the
    query's full term_matchers count, and build the golden here from the
    reference's own per-child scores."""
    from whoosh.query import Phrase as WPhrase
    from whoosh.query import Term as WT

    scale, tc = 0.5, 3  # render + quick + went
    per_doc_score = {}
    per_doc_match = {}
    with whoosh_ix.searcher() as s:
        for wq, n_tm in ((WT("text", "render"), 1),
                         (WPhrase("text", ["quick", "went"]), 2)):
            for hit in s.search(wq, limit=None, optimize=False):
                u = hit["url"]
                per_doc_score[u] = per_doc_score.get(u, 0.0) + hit.score
                per_doc_match[u] = per_doc_match.get(u, 0) + n_tm
    golden = {
        u: (sc + (per_doc_match[u] - 1) / (tc - scale) ** 2) * ((tc - 1) / tc)
        for u, sc in per_doc_score.items()
    }
    expected = sorted(golden.items(), key=lambda kv: (-kv[1], kv[0]))[:LIMIT]
    assert OR_SCALE.scale == scale
    ours = our_topk(our_searcher, OR_SCALE)
    assert_parity(ours, expected, "q17_or_scale_generic_documented")


def test_intermediate_stats_parity(whoosh_ix, our_searcher):
    """doc_count / field length / per-term df+weight parity — localizes any
    scoring divergence fast (FIXTURES.md §4.3)."""
    s = our_searcher
    with whoosh_ix.searcher() as ws:
        r = ws.reader()
        assert s.N == r.doc_count_all()
        assert s.ix.stats["field_length"] == r.field_length("text")
        import pytest as _pt

        assert s.avgfl == _pt.approx(
            r.field_length("text") / r.doc_count_all(), rel=1e-12
        )
        for t in STATS_TERMS:
            ti = r.term_info("text", t.encode() if False else t)
            row = (
                s.ix.term_stats.where(s.ix.term_stats.term == t)
                .select("df", "total_weight", "max_weight")
                .collect()[0]
            )
            assert int(row["df"]) == ti.doc_frequency(), t
            assert float(row["total_weight"]) == _pt.approx(ti.weight()), t
            assert float(row["max_weight"]) == _pt.approx(ti.max_weight()), t
