"""correct_query golden parity vs the reference (searching.py:863-977,
spelling.py:170-345): corrected query tree, corrected string, and
formatted string must match on the reference's own test shapes
(tests/test_spelling.py:149-184)."""

import tempfile

import pytest

from tests.conftest import reference_importable
from whoosh_reloaded_spark.index import build_index
from whoosh_reloaded_spark.query import Searcher, Term
from whoosh_reloaded_spark.query.parser import QueryParser
from whoosh_reloaded_spark.spelling import Correction, HtmlFormatter

DOCS = [
    "alfa bravo charlie delta",
    "delta echo foxtrot golf",
    "golf hotel india juliet",
    "juliet kilo lima mike",
]
QTEXT = 'alpha ("brovo november" OR dolta) detail'


@pytest.fixture(scope="module")
def searcher(spark):
    df = spark.createDataFrame(
        [(f"doc{i}", t) for i, t in enumerate(DOCS)],
        "url string, text string",
    )
    return Searcher(build_index(df))


def _reference_correction():
    from whoosh import fields, index
    from whoosh.highlight import HtmlFormatter as RefHtml
    from whoosh.qparser import QueryParser as RefQP

    schema = fields.Schema(
        url=fields.ID(stored=True, unique=True), text=fields.TEXT()
    )
    d = tempfile.mkdtemp()
    wix = index.create_in(d, schema)
    w = wix.writer()
    for i, t in enumerate(DOCS):
        w.add_document(url=f"doc{i}", text=t)
    w.commit()
    with wix.searcher() as s:
        q = RefQP("text", schema).parse(QTEXT)
        c = s.correct_query(q, QTEXT)
        terms = sorted(set(c.query.iter_all_terms()))
        return c.string, c.format_string(RefHtml(classname="c")), terms


def test_correct_query_golden(searcher):
    """string, html-formatted string, and the corrected term set match the
    reference byte for byte on its own test query shape."""
    if not reference_importable():
        pytest.skip("reference not importable")
    ref_string, ref_html, ref_terms = _reference_correction()

    q = QueryParser("text").parse(QTEXT)
    c = searcher.correct_query(q, QTEXT)
    assert isinstance(c, Correction)
    assert c.string == ref_string
    assert c.format_string(HtmlFormatter(classname="c")) == ref_html

    from whoosh_reloaded_spark.spelling import _leaf_terms

    ours = sorted({("text", t) for _, t in _leaf_terms(c.query)})
    assert ours == ref_terms


def test_correct_query_shapes(searcher):
    """Tree rewrite hits Term and Phrase words; valid words untouched;
    None qstring gives empty string (reference: string is '')."""
    q = QueryParser("text").parse(QTEXT)
    c = searcher.correct_query(q, QTEXT)
    # alpha -> alfa and dolta -> delta (distance 1-2 lexicon hits);
    # november (no word within maxdist) and detail stay
    assert "alfa" in c.string and "delta" in c.string
    assert "november" in c.string and "detail" in c.string
    assert c.original_string == QTEXT and c.original_query is q

    c2 = searcher.correct_query(Term("dolta"), None)
    assert c2.string == "" and c2.query == Term("delta")

    # already-correct query: no tokens, string unchanged
    c3 = searcher.correct_query(Term("delta"), "delta")
    assert c3.tokens == [] and c3.string == "delta"


def test_correct_query_custom_correctors_golden(searcher):
    """`correctors` / `aliases` parity (searching.py:908-977): a custom
    ListCorrector overrides the index lexicon for the default field."""
    if not reference_importable():
        pytest.skip("reference not importable")
    import tempfile

    from whoosh_reloaded_spark.spelling import ListCorrector

    wordlist = sorted(["aaa", "alpine", "brovado", "dolphin", "detailed"])

    # reference
    from whoosh import fields, index, spelling as wsp
    from whoosh.qparser import QueryParser as RefQP

    schema = fields.Schema(
        url=fields.ID(stored=True, unique=True), text=fields.TEXT()
    )
    d = tempfile.mkdtemp()
    wix = index.create_in(d, schema)
    w = wix.writer()
    for i, t in enumerate(DOCS):
        w.add_document(url=f"doc{i}", text=t)
    w.commit()
    with wix.searcher() as s:
        q = RefQP("text", schema).parse(QTEXT)
        ref = s.correct_query(
            q, QTEXT, correctors={"text": wsp.ListCorrector(wordlist)}
        )
        ref_string = ref.string

    p = QueryParser("text")
    ours = searcher.correct_query(
        p.parse(QTEXT), QTEXT,
        correctors={"text": ListCorrector(wordlist)},
    )
    assert ours.string == ref_string


def test_correct_query_aliases(searcher):
    """`aliases` routes a query field to another suggestion field: an
    aliased custom corrector fires for the aliased field's words."""
    from whoosh_reloaded_spark.spelling import ListCorrector

    p = QueryParser("text")
    q = p.parse("alpha")
    # alias 'text' -> 'body'; corrector registered under 'body' pre-alias
    out = searcher.correct_query(
        q, "alpha",
        correctors={"body": ListCorrector(["aaa", "alpina"])},
        aliases={"text": "body"},
    )
    assert out.string == "alpina"


def test_format_string_with_event_formatter(searcher):
    """Round-5 ADVICE fix: Correction.format_string renders event-stream
    formatters (GenshiEventFormatter.format_token returns a list of event
    tuples) to markup instead of TypeError-ing on ''.join."""
    from whoosh_reloaded_spark.highlight import GenshiEventFormatter

    c = searcher.correct_query(Term("alpha"), "alpha tail")
    s = c.format_string(GenshiEventFormatter(qname="strong"))
    assert s == "<strong>alfa</strong> tail"
