"""Pinned postings rows of the analyze+invert pass, one case per analyzer
and posting format.

These goldens run without the reference.  Each case builds the same
20-doc corpus with ``build_index(..., with_docids=True)`` and pins every
postings row (term, docid, tf, positions, length, len_byte, weight and any
payload columns), sorted by (term, docid).  The corpus covers ASCII and
Unicode text, a stop word first, ``*glob`` and ``word*``, dotted tokens,
1-character tokens, ``None`` and ``""`` text and ``render^2`` suffixes, so
any rewrite of the tokenize loop or the inverter is held to the same
postings.  ``char_spans`` and ``char_spans_df`` pin their token streams the
same way.

The rows live in ``tests/inverter_goldens.json``.  Regenerate them (only
when a change of postings is intended) with
``python -m tests.test_inverter_goldens``.
"""

import json
import os

import pytest

from whoosh_reloaded_spark.analysis import StandardAnalyzer
from whoosh_reloaded_spark.analyzers import (
    DelimitedBoostAnalyzer,
    DoubleMetaphoneAnalyzer,
    IDAnalyzer,
    LanguageAnalyzer,
    NgramWordAnalyzer,
    PyStemmerAnalyzer,
    RegexAnalyzer,
    StemmingAnalyzer,
)

GOLDEN_PATH = os.path.join(os.path.dirname(__file__), "inverter_goldens.json")

WS_PATTERN = r"[^ \t\r\n]+"

CORPUS = [
    "The quick brown fox jumps over the lazy dog",
    "Café naïve résumé Straße über ÜBER straße",
    "Жук и ёж читают 中文 文本 mixed中文text",
    "*glob word* x*y a.b a.b.c v2.0 3.14 *",
    "a b c d e x y z ab i o",
    None,
    "",
    "image render^2 file^0.5 render",
    "alpha^3 beta gamma^1.5 beta^2 alpha",
    "trailing. .leading mid.dle double..dot",
    "running runs runner ran easily fairly generously",
    "los niños corrían rápidamente por las calles de la ciudad",
    "Smith Schmidt Smyth thumb knight Thompson",
    "the the the",
    "mary had a little lamb little lamb",
    "ALL CAPS MiXeD cAsE word\nnewline\ttab  spaces",
    "edge^ mixed^x keep^^2 render^3",
    "aaaa ngram abab banana",
    "http://example.com/a/b?q=1 user@example.com",
    "is it the end or the beginning of the end",
]

# DelimitedBoostAnalyzer raises on an unparseable suffix (like the
# reference's float()), so its cases skip the doc that has them
_UNPARSEABLE = 16

FORMATS = (
    "positions",
    "frequency",
    "existence",
    "position_boosts",
    "characters",
    "character_boosts",
)
PAYLOAD_FORMATS = FORMATS[3:]


def _ws():
    return RegexAnalyzer(WS_PATTERN, lowercase=False)


CASES = {}
for _fmt in FORMATS:
    CASES[f"standard/{_fmt}"] = (lambda: StandardAnalyzer(), _fmt, None)
for _fmt in PAYLOAD_FORMATS:
    CASES[f"boost_delim/{_fmt}"] = (
        lambda: StandardAnalyzer(WS_PATTERN), _fmt, "^"
    )
CASES.update({
    "stemming": (lambda: StemmingAnalyzer(), "positions", None),
    "language_es": (lambda: LanguageAnalyzer("es"), "positions", None),
    "pystemmer_ignore": (
        lambda: PyStemmerAnalyzer("english", ignore={"running", "lamb"}),
        "positions",
        None,
    ),
    "double_metaphone_combine": (
        lambda: DoubleMetaphoneAnalyzer(RegexAnalyzer(), combine=True),
        "positions",
        None,
    ),
    "delimited_boost": (
        lambda: DelimitedBoostAnalyzer(_ws()), "positions", None
    ),
    "delimited_boost/position_boosts": (
        lambda: DelimitedBoostAnalyzer(_ws()), "position_boosts", None
    ),
    "ngram_word": (lambda: NgramWordAnalyzer(2, 3), "positions", None),
    "id": (lambda: IDAnalyzer(), "positions", None),
})


def _corpus_df(spark, skip=()):
    rows = [
        (i, f"u{i:02d}", t) for i, t in enumerate(CORPUS) if i not in skip
    ]
    return spark.createDataFrame(rows, "docid long, url string, text string")


def _plain(v):
    return list(v) if isinstance(v, (list, tuple)) else v


def _postings(spark, case):
    from whoosh_reloaded_spark.index import build_index

    make, fmt, delim = CASES[case]
    skip = (_UNPARSEABLE,) if case.startswith("delimited_boost") else ()
    ix = build_index(
        _corpus_df(spark, skip), analyzer=make(), format=fmt,
        boost_delim=delim, with_docids=True,
    )
    cols = [c for c in ix.postings.columns if c != "field"]
    rows = [
        [_plain(r[c]) for c in cols]
        for r in ix.postings.select(*cols).collect()
    ]
    rows.sort(key=lambda r: (r[0], r[1]))
    return {"cols": cols, "rows": rows}


def _char_spans():
    from whoosh_reloaded_spark.chars import char_spans

    return [[list(s) for s in char_spans(t)] for t in CORPUS if t is not None]


def _char_spans_df(spark):
    from whoosh_reloaded_spark.chars import char_spans_df

    rows = char_spans_df(_corpus_df(spark)).collect()
    return sorted(
        [r["docid"], r["term"], r["pos"], r["startchar"], r["endchar"]]
        for r in rows
    )


def capture(spark):
    out = {case: _postings(spark, case) for case in CASES}
    out["char_spans"] = _char_spans()
    out["char_spans_df"] = _char_spans_df(spark)
    return out


@pytest.fixture(scope="module")
def goldens():
    with open(GOLDEN_PATH, encoding="utf-8") as f:
        return json.load(f)


@pytest.mark.parametrize("case", sorted(CASES))
def test_postings_golden(spark, goldens, case):
    assert _postings(spark, case) == goldens[case]


def test_char_spans_golden(goldens):
    assert _char_spans() == goldens["char_spans"]


def test_char_spans_df_golden(spark, goldens):
    assert _char_spans_df(spark) == goldens["char_spans_df"]


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

    def dump(v):
        return json.dumps(v, ensure_ascii=False)

    # one row per line, so a changed golden shows as a readable diff
    parts = []
    for key in sorted(data):
        v = data[key]
        if isinstance(v, dict):
            head = f'{dump(key)}: {{"cols": {dump(v["cols"])}, "rows": ['
            rows = v["rows"]
            tail = "]}"
        else:
            head, rows, tail = f"{dump(key)}: [", v, "]"
        body = ",\n".join("  " + dump(r) for r in rows)
        parts.append(head + ("\n" + body + "\n" if rows else "") + tail)
    with open(GOLDEN_PATH, "w", encoding="utf-8") as f:
        f.write("{\n" + ",\n".join(parts) + "\n}\n")
