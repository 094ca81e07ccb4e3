"""Pinned outputs of the lexicon probes: fuzzy and Variations expansion,
spelling suggestions, query correction, Results.query_terms and
key_terms_from_text.

These goldens run without the reference.  The engine builds one seeded
48-doc corpus over the reference's spelling word list
(tests/test_spelling_correctors._wordlist), a few morphological
variants, and Unicode words: accents, ``ß``, dotted and dotless i, CJK
and non-BMP (Deseret) letters.  Words are drawn with falling weights, so
collection frequencies differ and the frequency ranking of suggestions
is exercised.

The values were captured from the driver-side Levenshtein DP and the
Arrow-UDF paths that both computed these probes, so they hold any rewrite
of the lexicon probe to the same results.  They live in
``tests/lexicon_goldens.json``; regenerate them (only when a change of
results is intended) with ``python -m tests.test_lexicon_goldens``.
"""

import json
import os
import random
from unittest import mock

import pytest

from tests.test_spelling_correctors import _wordlist
from whoosh_reloaded_spark.query import ast as Q
from whoosh_reloaded_spark.query import planner

GOLDEN_PATH = os.path.join(os.path.dirname(__file__), "lexicon_goldens.json")

VARIANTS = ["renders", "rendered", "rendering", "reactions", "deleted", "koalas"]
UNICODE = [
    "café", "cafe", "naïve", "straße", "strasse", "İstanbul", "ısık",
    "東京", "東京都", "𐐨𐐩𐐪", "𐐨𐐩", "𐐨𐐫𐐪𐐬",
]


def corpus():
    """48 docs of 3-9 words drawn with falling weights."""
    rng = random.Random(9)
    words = list(_wordlist) + VARIANTS + UNICODE
    rng.shuffle(words)
    weights = [len(words) - i for i in range(len(words))]
    return [
        " ".join(rng.choices(words, weights, k=rng.randint(3, 9)))
        for _ in range(48)
    ]


def _expand(q, cap=None):
    def run(s):
        if cap is None:
            return s.expand_terms(q)
        with mock.patch.object(planner, "TOO_MANY_CLAUSES", cap):
            return s.expand_terms(q)

    return run


def _suggest(text, **kw):
    def run(s):
        from whoosh_reloaded_spark.spelling import suggest

        return suggest(s, text, **kw)

    return run


def _corrector(text, fieldname=None, **kw):
    return lambda s: s.corrector(fieldname).suggest(text, **kw)


def _correct(qstring, **kw):
    def run(s):
        from whoosh_reloaded_spark.query.parser import QueryParser

        c = s.correct_query(QueryParser().parse(qstring), qstring, **kw)
        return [repr(c.query), c.string]

    return run


def _query_terms(expand):
    def run(s):
        q = Q.Or((
            Q.Term("koala"), Q.Term("zebraa"), Q.Prefix("rend"),
            Q.FuzzyTerm("kaola", maxdist=2, prefixlength=0),
        ))
        r = s.search_results(q, limit=10)
        return sorted([f, t] for f, t in r.query_terms(expand=expand))

    return run


def _key_terms(text, **kw):
    return lambda s: [[t, w] for t, w in s.key_terms_from_text(text, **kw)]


CASES = {}
for _text in ("reoction", "kaola", "red"):
    for _md in (0, 1, 2):
        for _pl in (0, 1, 2):
            CASES[f"fuzzy {_text}~{_md}/{_pl}"] = _expand(
                Q.FuzzyTerm(_text, maxdist=_md, prefixlength=_pl)
            )
CASES.update({
    "fuzzy cafe~1/0": _expand(Q.FuzzyTerm("cafe", maxdist=1, prefixlength=0)),
    "fuzzy strase~1/0": _expand(Q.FuzzyTerm("strase", maxdist=1, prefixlength=0)),
    "fuzzy istanbul~1/0": _expand(
        Q.FuzzyTerm("istanbul", maxdist=1, prefixlength=0)
    ),
    "fuzzy 東亰~1/0": _expand(Q.FuzzyTerm("東亰", maxdist=1, prefixlength=0)),
    "fuzzy non-BMP~1/1": _expand(Q.FuzzyTerm("𐐨𐐩𐐫", maxdist=1, prefixlength=1)),
    "fuzzy non-BMP~2/0": _expand(Q.FuzzyTerm("𐐨𐐫", maxdist=2, prefixlength=0)),
    # more matches than the clause cap: the overflow protocol's None
    "fuzzy red~2/0 overflow": _expand(
        Q.FuzzyTerm("red", maxdist=2, prefixlength=0), cap=2
    ),
    "variations render": _expand(Q.Variations("render")),
    "variations reaction": _expand(Q.Variations("reaction")),
    "variations zebra": _expand(Q.Variations("zebra")),
})
for _text in ("reoction", "rendar", "red"):
    for _pre in (0, 1, 2):
        for _md in (1, 2):
            for _lim in (1, 5, 20):
                CASES[f"suggest {_text} prefix={_pre} maxdist={_md} limit={_lim}"] = (
                    _suggest(_text, prefix=_pre, maxdist=_md, limit=_lim)
                )
CASES.update({
    "suggest present koala": _suggest("koala", limit=5),
    "suggest no match": _suggest("qqqqqqqq", limit=5),
    "suggest fieldname text": _suggest("rendar", limit=5, fieldname="text"),
    "suggest fieldname other": _suggest("rendar", limit=5, fieldname="other"),
    "suggest cafe": _suggest("cafe", limit=5, maxdist=1),
    "suggest non-BMP": _suggest("𐐨𐐩𐐫", limit=5),
    "corrector reoction": _corrector("reoction", limit=5),
    "corrector reoction prefix=1 limit=20": _corrector(
        "reoction", limit=20, prefix=1
    ),
    "corrector kaola maxdist=1": _corrector("kaola", maxdist=1),
    "corrector field other": _corrector("kaola", fieldname="other"),
    "correct_query": _correct("reoction AND kaola OR yelow"),
    "correct_query prefix=1": _correct("reoction kaola zzzzzz", prefix=1),
    "query_terms": _query_terms(False),
    "query_terms expand": _query_terms(True),
    "key_terms_from_text": _key_terms(
        "the koala and the red fox jumped over the lazy koala render zebraa"
    ),
    "key_terms_from_text raw": _key_terms(
        "render rendered renders red red café 東京", numterms=10,
        normalize=False,
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


def run_case(s, name):
    """One case on a fresh Searcher over `s`'s index, so no memo is shared."""
    from whoosh_reloaded_spark.query import Searcher

    return CASES[name](Searcher(s.ix))


def capture(spark):
    s = _searcher(spark)
    return {name: run_case(s, name) for name in CASES}


def _same(got, want):
    if isinstance(want, float):
        return got == pytest.approx(want, rel=1e-9, abs=1e-12)
    if isinstance(want, list):
        return (
            isinstance(got, (list, tuple)) and len(got) == len(want)
            and all(_same(g, w) for g, w in zip(got, want))
        )
    return got == want


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
def test_lexicon_golden(searcher, goldens, name):
    got = run_case(searcher, name)
    assert _same(got, goldens[name]), (name, got, goldens[name])


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
    lines = [
        f"  {json.dumps(name, ensure_ascii=False)}: "
        f"{json.dumps(data[name], ensure_ascii=False)}"
        for name in CASES
    ]
    with open(GOLDEN_PATH, "w", encoding="utf-8") as f:
        f.write("{\n" + ",\n".join(lines) + "\n}\n")
