"""Parser golden tests: parsed-string queries must produce the same search
RESULTS as the reference QueryParser + Searcher on the same corpus."""

import pytest

from tests.conftest import reference_importable
from whoosh_reloaded_spark.query.parser import QueryParser
from whoosh_reloaded_spark.query import ast as Q

# pure-AST structure tests (no reference needed)


def test_parse_structures():
    p = QueryParser()
    assert p.parse("render") == Q.Term("render")
    assert p.parse("render yellow") == Q.And((Q.Term("render"), Q.Term("yellow")))
    assert p.parse("render OR yellow") == Q.Or((Q.Term("render"), Q.Term("yellow")))
    assert p.parse("render NOT yellow") == Q.And((Q.Term("render"), Q.Not(Q.Term("yellow"))))
    assert p.parse('"quick went"') == Q.Phrase(("quick", "went"))
    assert p.parse("render^2") == Q.Term("render", boost=2.0)
    assert p.parse("rend*") == Q.Prefix("rend")  # wildcard normalizes
    assert p.parse("re?der") == Q.Wildcard("re?der")
    assert p.parse("[re TO rf]") == Q.TermRange("re", "rf")
    assert p.parse("{re TO rf}") == Q.TermRange("re", "rf", startexcl=True, endexcl=True)
    # parsed fuzzies use the reference FuzzyTermPlugin defaults
    # (plugins.py:543-545): maxdist 1, prefixlength 0 — NOT the FuzzyTerm
    # class default prefixlength=1
    assert p.parse("render~") == Q.FuzzyTerm("render", prefixlength=0)
    assert p.parse("render~2/3") == Q.FuzzyTerm(
        "render", maxdist=2, prefixlength=3
    )
    assert p.parse("render ANDNOT yellow") == Q.AndNot(Q.Term("render"), Q.Term("yellow"))
    assert p.parse("render ANDMAYBE yellow") == Q.AndMaybe(Q.Term("render"), Q.Term("yellow"))
    assert p.parse("(render OR yellow) red") == Q.And(
        (Q.Or((Q.Term("render"), Q.Term("yellow"))), Q.Term("red"))
    )
    # stop words vanish from query text like the reference parser
    assert p.parse("the render") == Q.Term("render")
    assert p.parse("field:render") == Q.Term("render")


# result-level golden tests vs the reference parser + searcher

pytestmark_golden = pytest.mark.skipif(
    not reference_importable(), reason="reference not importable"
)

PARSE_CASES = [
    "render",
    "render yellow",
    "render OR yellow OR red",
    "render NOT yellow",
    '"quick went"',
    "yellow render^2",
    "render* red",
    "[re TO rf]",
    "(yellow OR alpha) AND red",
    "red ANDNOT yellow",
    "red ANDMAYBE yellow",
    # round-5 fuzz-found precedence shapes: explicit AND/OR bind tighter
    # than ANDNOT/ANDMAYBE; implicit juxtaposition binds loosest
    "red OR yellow ANDNOT render",
    "red ANDNOT yellow OR render",
    "red yellow ANDNOT render",
    "red ANDNOT render yellow",
    "red ANDMAYBE yellow ANDNOT render",
    "red ANDNOT text:(red)",
    "text:(red OR yellow) ANDNOT render",
    # duplicate term at different boosts: each duplicate child adds its
    # own matcher score (round-5 fuzz fix: fused plans now SUM boosts)
    "red AND red^2",
    "red OR red^2",
]


@pytest.fixture(scope="module")
def engines(spark, tmp_path_factory):
    if not reference_importable():
        pytest.skip("reference not importable")
    from whoosh import fields, index

    from whoosh_reloaded_spark.corpus import PAGES_SCHEMA, generate_rows
    from whoosh_reloaded_spark.index import build_index
    from whoosh_reloaded_spark.query import Searcher

    rows = list(generate_rows(250))
    schema = fields.Schema(
        url=fields.ID(stored=True, unique=True), text=fields.TEXT
    )
    d = tmp_path_factory.mktemp("whoosh_pix")
    wix = index.create_in(str(d), schema)
    w = wix.writer()
    for url, ts, html, text, lang in rows:
        w.add_document(url=url, text=text)
    w.commit()

    df = spark.createDataFrame(rows, PAGES_SCHEMA)
    ours = Searcher(build_index(df).persist())
    return wix, ours


@pytestmark_golden
@pytest.mark.parametrize("qs", PARSE_CASES)
def test_parsed_query_results_match(qs, engines):
    from whoosh.qparser import QueryParser as WQP
    from whoosh.query import Or as WOr

    WOr.matcher_type = WOr.DEFAULT_MATCHER  # large-index strategy (see
    # test_search_parity.whoosh_topk for why)
    wix, ours = engines
    with wix.searcher() as s:
        wq = WQP("text", wix.schema).parse(qs)
        try:
            expected = [(h["url"], h.score) for h in s.search(wq, limit=10)]
        except AssertionError:
            expected = [
                (h["url"], h.score) for h in s.search(wq, limit=10, optimize=False)
            ]
    got = [
        (uid, score) for _, uid, score in ours.search_list(QueryParser().parse(qs), 10)
    ]
    assert [u for u, _ in got] == [u for u, _ in expected], qs
    for (u1, s1), (u2, s2) in zip(got, expected):
        assert s1 == pytest.approx(s2, rel=1e-9), (qs, u1)


def test_parse_degenerate_inputs():
    p = QueryParser()
    assert p.parse("") == Q.NullQuery()
    assert p.parse("   ") == Q.NullQuery()
    assert p.parse("the a an") == Q.NullQuery()  # all stop words
    assert p.parse("render AND") == Q.Term("render")  # dangling operator
    assert p.parse("(((") == Q.NullQuery()
    assert p.parse('"unclosed phrase') is not None  # no crash


def test_known_fields_routing():
    p = QueryParser("value", known_fields={"name", "value"})
    assert p.parse("name:yellow") == Q.Term("yellow", "name")
    assert p.parse("value:red") == Q.Term("red", "value")
    assert p.parse("other:red") == Q.Term("red", "value")  # unknown -> default
    assert p.parse("name:yellow AND red") == Q.And(
        (Q.Term("yellow", "name"), Q.Term("red", "value"))
    )


def test_variations_generator_parity():
    """Byte-parity of the LiteMorph engine vs the reference generator over a
    word sample (the 3k-word fuzz runs in CI spirit; keep a fast subset)."""
    import pytest

    from tests.conftest import reference_importable

    if not reference_importable():
        pytest.skip("reference not importable")
    from whoosh.lang.morph_en import variations as ref_var

    from whoosh_reloaded_spark.variations import variations as our_var

    for w in ["render", "pull", "data", "tries", "happiness", "tokenizes",
              "judges", "quickly", "happily", "schema", "datum", "arise",
              "analysis", "fully", "spy", "betray", "fix", "unflag", "bed",
              "toccata", "full", "spoon", "business", "kiss", "crisis"]:
        assert set(ref_var(w)) == set(our_var(w)), w


def test_range_merge_normalize_parity():
    """Round-5 fuzz finding: the reference's And/Or normalize merges
    same-field overlapping ranges (compound.py:137-152) via
    RangeMixin.merge (ranges.py:113-150), whose containment branch
    returns the ENCLOSING range even under intersect — And of a nested
    range pair normalizes to the WIDER range.  We mirror it exactly."""
    p = QueryParser()
    # containment under And: reference quirk -> wider range survives
    q = p.parse("[alfa TO bravo] AND [alfa TO charlie]")
    assert q == Q.TermRange("alfa", "charlie")
    # partial overlap under And: true intersection
    q = p.parse("[alfa TO charlie] AND [bravo TO delta]")
    assert q == Q.TermRange("bravo", "charlie")
    # union under Or
    q = p.parse("[alfa TO bravo] OR [bravo TO delta]")
    assert q == Q.TermRange("alfa", "delta")
    # disjoint ranges do NOT merge (overlaps() is false)
    q = p.parse("[alfa TO bravo] OR [delta TO echo]")
    assert q == Q.Or((Q.TermRange("alfa", "bravo"),
                      Q.TermRange("delta", "echo")))
    # exclusivity carried through comparable keys: {a TO c} vs [b TO d]
    # -> [bravo TO charlie} (exclusive end wins the min())
    q = p.parse("{alfa TO charlie} AND [bravo TO delta]")
    assert q == Q.TermRange("bravo", "charlie", endexcl=True)
    # non-range children untouched
    q = p.parse("kilo AND [alfa TO bravo] AND [alfa TO charlie]")
    assert q == Q.And((Q.Term("kilo"), Q.TermRange("alfa", "charlie")))


@pytestmark_golden
def test_range_merge_golden_vs_reference(engines):
    """Merged-range parse results match the reference end-to-end on its
    own parser + searcher (the fuzz-found shape, pinned)."""
    from whoosh.qparser import QueryParser as WQP
    from whoosh.query import Or as WOr

    WOr.matcher_type = WOr.DEFAULT_MATCHER
    wix, ours = engines
    for qs in [
        "[re TO rf] AND [re TO rg]",
        "[ra TO re] OR [rd TO rg]",
        "yellow AND [re TO rf] AND [re TO rg]",
    ]:
        with wix.searcher() as s:
            wq = WQP("text", wix.schema).parse(qs)
            expected = {h["url"]: h.score for h in s.search(wq, limit=None)}
        got = {
            u: sc
            for _, u, sc in ours.search_list(QueryParser().parse(qs), 300)
        }
        assert set(got) == set(expected), qs
        for u, sc in expected.items():
            assert got[u] == pytest.approx(sc, rel=1e-9), (qs, u)


def test_merging_splice_goldens():
    """InfixOperator.replace_self merging splice (reference
    syntax.py:629-631), pinned live against the reference parser: a
    boosted left group of the op's own syntax type swallows the right
    operand — a MultifieldParser OrGroup expansion under OR, a
    parenthesized AndGroup under AND — while mismatched group types
    flatten without splicing.  Round-5 fuzz finding."""
    from whoosh_reloaded_spark.query import ast as Q
    from whoosh_reloaded_spark.query.parser import MultifieldParser

    mp = MultifieldParser(["name", "value"])

    def T(f, t, b=1.0):
        return Q.Term(t, f, b)

    # OR splice + dedup: reference -> Or([name:a, value:a], boost=2)
    assert mp.parse("alfa^2 OR alfa") == Q.Or(
        (T("name", "alfa"), T("value", "alfa")), boost=2.0
    )
    # OR splice: first operand's boost covers the whole disjunction
    assert mp.parse("alfa^2 OR bravo OR charlie") == Q.Or(
        (
            T("name", "alfa"), T("value", "alfa"),
            T("name", "bravo"), T("value", "bravo"),
            T("name", "charlie"), T("value", "charlie"),
        ),
        boost=2.0,
    )
    # unboosted left, boosted right: boost stays on the right terms only
    assert mp.parse("alfa OR bravo^2") == Q.Or(
        (
            T("name", "alfa"), T("value", "alfa"),
            T("name", "bravo", 2.0), T("value", "bravo", 2.0),
        )
    )
    # AND does not splice into an OrGroup: boost stays on the left group
    assert mp.parse("alfa^2 AND bravo") == Q.And(
        (
            Q.Or((T("name", "alfa"), T("value", "alfa")), boost=2.0),
            Q.Or((T("name", "bravo"), T("value", "bravo"))),
        )
    )
    # AND splices into a boosted parenthesized AndGroup: charlie boosted.
    # The implicit top-level AndGroup wrapper (round 5) flattens the
    # spliced group, pushing the ^2 onto every child (compound.py:122-124)
    # — same scores, reference-normalized shape.
    got = mp.parse("(alfa bravo)^2 AND charlie")
    assert isinstance(got, Q.And) and got.boost == 1.0
    assert got.children[-1] == Q.Or(
        (T("name", "charlie"), T("value", "charlie")), boost=2.0
    )
    assert all(c.boost == 2.0 for c in got.children)
    # ...but implicit juxtaposition does not splice: charlie unboosted
    got = mp.parse("(alfa bravo)^2 charlie")
    assert isinstance(got, Q.And) and got.boost == 1.0
    # OR does not splice into a parenthesized AndGroup
    got = mp.parse("(alfa bravo)^2 OR charlie")
    assert isinstance(got, Q.Or) and got.boost == 1.0
    assert isinstance(got.children[0], Q.And)
    assert got.children[0].boost == 2.0
    # paren AndGroup wrapper keeps (alfa OR bravo)^2 from OR-splicing:
    # boost distributes to the inner terms, charlie unboosted
    assert mp.parse("(alfa OR bravo)^2 OR charlie") == Q.Or(
        (
            T("name", "alfa", 2.0), T("value", "alfa", 2.0),
            T("name", "bravo", 2.0), T("value", "bravo", 2.0),
            T("name", "charlie"), T("value", "charlie"),
        )
    )
    # fielded group members are NOT multifield-expanded; the top-level
    # flatten pushes the group ^2 onto each member (and the spliced
    # charlie), root boost 1
    got = mp.parse("name:(alfa bravo)^2 AND charlie")
    assert got.children[0] == T("name", "alfa", 2.0)
    assert got.children[1] == T("name", "bravo", 2.0)
    assert got.children[-1].boost == 2.0
    assert got.boost == 1.0


def test_every_collapse_goldens():
    """Round-5 probes, all verified live vs the reference: a fielded
    Every absorbs same-field siblings in And/Or normalize (the FIRST
    Every survives; compound.py:136-169); the unfielded '*:*' absorbs
    the whole compound and drops boosts (compound.py:132-134); binary
    nodes and Not are immune."""
    p = QueryParser()
    E = Q.Every
    t = lambda w, b=1.0: Q.Term(w, "text", b)

    def n(qs):
        return p.parse(qs).normalize()

    assert n("alfa *") == E(fieldname="text")
    assert n("* AND alfa") == E(fieldname="text")
    assert n("alfa OR *") == E(fieldname="text")
    assert n("(alfa OR *) AND bravo") == E(fieldname="text")
    assert n("(alfa AND *)^3") == E(3.0, "text")
    assert n("(* OR *^2)") == E(fieldname="text")  # first Every wins
    assert n("[alfa TO bravo] OR *") == E(fieldname="text")
    assert n("(alfa ANDNOT bravo) AND *") == E(fieldname="text")
    assert n("*:* AND alfa") == E()
    assert n("*:*^2") == E()  # unfielded ignores its boost
    # binaries keep the Every as an operand; Not survives beside one
    assert n("alfa ANDNOT *") == Q.AndNot(t("alfa"), E(fieldname="text"))
    got = n("* NOT alfa")
    assert isinstance(got, Q.And) and got.children[0] == E(fieldname="text")
    assert isinstance(got.children[1], Q.Not)


def test_squote_boost_and_fuzzy_goldens():
    """SingleQuotePlugin's (?=\\s|...) lookahead: a trailing ^boost or
    ~fuzz defeats the quote, so the text lexes as plain words — the boost
    lands on the LAST token only and the fuzzy keeps the raw apostrophe
    (round-5 probes, verified live)."""
    p = QueryParser()
    t = lambda w, b=1.0: Q.Term(w, "text", b)
    assert p.parse("'alfa bravo'") == Q.And((t("alfa"), t("bravo")))
    assert p.parse("'alfa bravo'^2") == Q.And((t("alfa"), t("bravo", 2.0)))
    assert p.parse("'alfa the bravo'^2") == Q.And((t("alfa"), t("bravo", 2.0)))
    assert p.parse("'alfa'^2").normalize() == t("alfa", 2.0)
    got = p.parse("'alfa bravo'~2")
    assert got.children[1] == Q.FuzzyTerm("bravo'", "text", maxdist=2, prefixlength=0)
    # fuzzy text is raw-lowercased, never tokenized: stopwords survive
    assert p.parse("the~1") == Q.FuzzyTerm("the", "text", maxdist=1, prefixlength=0)
    assert p.parse("BRAVO~1") == Q.FuzzyTerm("bravo", "text", maxdist=1, prefixlength=0)
    assert p.parse("bra-vo~2") == Q.FuzzyTerm("bra-vo", "text", maxdist=2, prefixlength=0)


def test_top_group_no_double_wrap_goldens():
    """The implicit top-level group is built IN PLACE around the top item
    list — parse() must not wrap it a second time: the artificial
    Or([Or([...])]) nesting made normalize() run the same-class merge,
    whose unconditional ss.with_boost(ss.boost * s.boost) pushes the
    product (1.0) into binary nodes' a sides and wiped their boosts
    (round-6 or-mode soak find, '*^2 ANDNOT 'alfa alfa'^2'; verified
    live: the reference preserves the a-side boost in every case below)."""
    t = lambda w, b=1.0: Q.Term(w, "text", b)

    p = QueryParser()
    got = p.parse("bravo^3 ANDNOT 'alfa charlie'^2")
    assert got == Q.And(
        (Q.AndNot(t("bravo", 3.0), t("alfa")), t("charlie", 2.0))
    )
    # whole-input paren: do_groups unwraps it before the top wrap
    got = p.parse("(bravo^3 ANDNOT alfa charlie)")
    assert got == Q.And((Q.AndNot(t("bravo", 3.0), t("alfa")), t("charlie")))

    po = QueryParser(group="or", group_scale=0.9)
    got = po.parse("*^2 ANDNOT 'alfa alfa'^2")
    assert got == Q.Or(
        (
            Q.AndNot(Q.Every(2.0, "text"), t("alfa")),
            t("alfa", 2.0),
        ),
        scale=0.9,
    )
    # explicit OR still reaches the root with the factory scale
    assert po.parse("bravo OR charlie") == Q.Or(
        (t("bravo"), t("charlie")), scale=0.9
    )


def test_identity_plugin_keeps_boosts():
    """An identity plugin must not change the parse: _map_tree hands back
    the same nodes, so parse() still recognizes its top group and pushes
    the group boosts down (bravo keeps ^3)."""
    text = "bravo^3 ANDNOT 'alfa charlie'^2"
    plain = QueryParser().parse(text)
    with_plugin = QueryParser(plugins=[lambda q: q]).parse(text)
    assert with_plugin == plain
    assert with_plugin.children[0].a == Q.Term("bravo", boost=3.0)
