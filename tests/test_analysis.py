"""Tokenizer parity: byte-identical token streams vs the reference analyzer.

This is the hard invariant from BASELINE.json input_hint: per-url analyzed
text must be byte-identical to Whoosh's StandardAnalyzer output.
"""

import pytest

from tests.conftest import reference_importable
from whoosh_reloaded_spark.analysis import STOP_WORDS, StandardAnalyzer, standard_tokens
from whoosh_reloaded_spark.corpus import generate_rows
from whoosh_reloaded_spark.lengths import byte_to_length, length_to_byte

EDGE_TEXTS = [
    "The quick.brown Fox a is café 3.14 x*y",
    "hi there 3.141 big-time under_score",
    "Straße café naïve CafÉ ÜBER über",
    "",
    "a",
    "aa",
    "the the the",
    "x*y*z a.b.c v2.0 ... --- ***",
    "ALL CAPS MiXeD cAsE",
    "word\nnewline\ttab  spaces",
    "日本語 テキスト mixed 日本語text",
    "trailing. .leading mid.dle double..dot",
]


def whoosh_tokens(text):
    from whoosh.analysis import StandardAnalyzer as WSA

    return [(t.text, t.pos) for t in WSA()(text, positions=True)]


@pytest.mark.skipif(not reference_importable(), reason="reference not importable")
def test_edge_case_parity():
    for txt in EDGE_TEXTS:
        assert standard_tokens(txt) == whoosh_tokens(txt), repr(txt)


@pytest.mark.skipif(not reference_importable(), reason="reference not importable")
def test_corpus_parity_byte_identical():
    for url, ts, html, text, lang in generate_rows(300):
        ours = standard_tokens(text)
        theirs = whoosh_tokens(text)
        assert ours == theirs, url


@pytest.mark.skipif(not reference_importable(), reason="reference not importable")
def test_stop_words_match_reference():
    from whoosh.analysis.filters import STOP_WORDS as REF

    assert STOP_WORDS == REF


@pytest.mark.skipif(not reference_importable(), reason="reference not importable")
def test_length_byte_parity():
    from whoosh.util.numeric import byte_to_length as rb2l
    from whoosh.util.numeric import length_to_byte as rl2b

    for n in list(range(0, 3000)) + [10_000, 50_000, 106_373, 106_374, 999_999]:
        assert length_to_byte(n) == rl2b(n), n
    for b in range(256):
        assert byte_to_length(b) == rb2l(b), b
    assert length_to_byte(None) == rl2b(None) == 0


def test_renumbering_semantics():
    # first survivor keeps original pos; later survivors increment from there
    assert standard_tokens("the quick fox") == [("quick", 1), ("fox", 2)]
    assert standard_tokens("quick the fox") == [("quick", 0), ("fox", 1)]
    assert standard_tokens("a an and") == []


def test_custom_analyzer_options():
    ana = StandardAnalyzer(stoplist=None, minsize=1)
    assert ana("a the b") == [("a", 0), ("the", 1), ("b", 2)]
    ana2 = StandardAnalyzer(minsize=2, maxsize=4)
    assert ana2("ab abcde abcd") == [("ab", 0), ("abcd", 1)]


def test_tokenize_udf_matches_python(spark):
    """The build's inverter (the Spark-side tokenizer) yields exactly the
    standard_tokens stream: every (term, pos) and the doc length."""
    from whoosh_reloaded_spark.index import build_index

    texts = [t for t in EDGE_TEXTS if t] + [r[3] for r in generate_rows(50)]
    df = spark.createDataFrame(
        [(i, str(i), t) for i, t in enumerate(texts)],
        "docid long, url string, text string",
    )
    ix = build_index(df, with_docids=True)
    got, lengths = {}, {}
    for r in ix.postings.select("docid", "term", "positions", "length").collect():
        got.setdefault(r["docid"], []).extend(
            (r["term"], p) for p in r["positions"]
        )
        lengths[r["docid"]] = r["length"]
    for i, text in enumerate(texts):
        expect = standard_tokens(text)
        assert sorted(got.get(i, []), key=lambda tp: tp[1]) == expect, text
        assert lengths.get(i, 0) == len(expect), text


def test_tokenizer_unicode_fuzz():
    """800-example hypothesis fuzz of the BYTE-IDENTICAL tokenization
    contract (the north-star invariant): random unicode text — letters,
    digits, punctuation, CJK, Cyrillic, emoji, combining marks,
    whitespace varieties — must produce the exact (term, pos) stream the
    reference StandardAnalyzer yields."""
    import pytest

    from hypothesis import given, settings
    from hypothesis import strategies as hst

    from tests.conftest import reference_importable

    if not reference_importable():
        pytest.skip("reference not importable")
    from whoosh.analysis import StandardAnalyzer as RefSA

    from whoosh_reloaded_spark.analysis import StandardAnalyzer

    ours = StandardAnalyzer()
    ref = RefSA()

    alphabet = hst.sampled_from(
        list("abcXYZ012._*-'\"()[]{}t \t\néßЖ中文")
        + ["\U0001f600", "é", " ", " ", "the", "a.b",
           "word*", "*glob", "1.2.3", "__dunder__"]
    )
    text_strategy = hst.lists(alphabet, min_size=0, max_size=30).map("".join)

    @settings(max_examples=800, deadline=None)
    @given(text=text_strategy)
    def check(text):
        expect = [(t.text, t.pos) for t in ref(text, positions=True)]
        got = ours(text)
        assert got == expect, repr(text)

    check()
