"""Pinned results of the search-parity cases, checked without the reference.

tests/test_search_parity.py compares our top-10 with the reference
engine's and skips where the reference cannot be imported.  This file
pins our side of every one of its cases on the same 250-doc
``generate_rows`` corpus, built, saved and loaded again: the top-10
``(docid, score)`` list of each ``CASES`` query and of the two
documented-semantics queries (``DISMAX``, ``OR_SCALE``), and the
intermediate stats that ``test_intermediate_stats_parity`` compares
(doc count, field length, average field length, and each of
``STATS_TERMS``' df, total and max weight).  Scores compare with ``==``.

The values live in ``tests/search_parity_goldens.json``; regenerate them
(only when a change of results is intended) with
``python -m tests.test_search_parity_goldens``.
"""

import json
import os

import pytest

from tests.test_search_parity import (
    CASES,
    DISMAX,
    LIMIT,
    N_DOCS,
    OR_SCALE,
    STATS_TERMS,
)
from whoosh_reloaded_spark.corpus import PAGES_SCHEMA, generate_rows
from whoosh_reloaded_spark.index import build_index, load_index, save_index
from whoosh_reloaded_spark.query import Searcher

GOLDEN_PATH = os.path.join(
    os.path.dirname(__file__), "search_parity_goldens.json"
)

QUERIES = {
    **{name: ours for name, (ours, _) in CASES.items()},
    "q11_dismax_documented": DISMAX,
    "q17_or_scale_generic_documented": OR_SCALE,
}


def saved_searcher(spark, path):
    """A Searcher over the parity corpus, saved at `path` and loaded."""
    df = spark.createDataFrame(list(generate_rows(N_DOCS)), PAGES_SCHEMA)
    save_index(build_index(df), path)
    return Searcher(load_index(spark, path))


def topk(s, q):
    return [[docid, score] for docid, _, score in s.search_list(q, LIMIT)]


def stats(s):
    rows = (
        s.ix.term_stats.where(s.ix.term_stats.term.isin(STATS_TERMS))
        .select("term", "df", "total_weight", "max_weight")
        .collect()
    )
    return {
        "N": s.N,
        "field_length": s.ix.stats["field_length"],
        "avgfl": s.avgfl,
        "terms": {
            r["term"]: [r["df"], r["total_weight"], r["max_weight"]]
            for r in rows
        },
    }


def capture(s):
    return {
        "topk": {name: topk(s, q) for name, q in QUERIES.items()},
        "stats": stats(s),
    }


@pytest.fixture(scope="module")
def searcher(spark, tmp_path_factory):
    return saved_searcher(spark, str(tmp_path_factory.mktemp("parity") / "ix"))


@pytest.fixture(scope="module")
def goldens():
    with open(GOLDEN_PATH, encoding="utf-8") as f:
        return json.load(f)


def test_every_case_pinned(goldens):
    assert set(goldens["topk"]) == set(QUERIES)
    assert set(goldens["stats"]["terms"]) == set(STATS_TERMS)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_search_parity_golden(searcher, goldens, name):
    assert topk(searcher, QUERIES[name]) == goldens["topk"][name]


def test_intermediate_stats_golden(searcher, goldens):
    assert stats(searcher) == goldens["stats"]


if __name__ == "__main__":
    import tempfile

    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder.master("local[4]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.default.parallelism", "8")
        .getOrCreate()
    )
    session.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory() as tmp:
        data = capture(saved_searcher(session, os.path.join(tmp, "ix")))
    session.stop()
    # one query per line, so a changed golden shows as a readable diff
    lines = [
        f"    {json.dumps(name)}: {json.dumps(data['topk'][name])}"
        for name in sorted(QUERIES)
    ]
    with open(GOLDEN_PATH, "w", encoding="utf-8") as f:
        f.write(
            '{\n  "topk": {\n' + ",\n".join(lines) + "\n  },\n"
            f'  "stats": {json.dumps(data["stats"], sort_keys=True)}\n}}\n'
        )
