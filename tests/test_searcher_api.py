"""Searcher/Results/Hit/ResultsPage method-surface parity with reference
searching.py: doc_count_all, avg/max/total field length, idf, find,
document_number(s), docs_for_query, postings, refresh/up_to_date/close,
leaf_searchers/get_parent, collector + search_with_collector, Hit dict
surface, Results.query_terms/estimated_min_length/has_exact_length,
ResultsPage.scored_length."""

import pytest

from whoosh_reloaded_spark.index import build_index
from whoosh_reloaded_spark.query import Or, Prefix, Searcher, Term

DOCS = [
    ("u0", "alfa bravo charlie"),
    ("u1", "alfa bravo"),
    ("u2", "bravo delta echo"),
    ("u3", "alfa delta delta delta"),
    ("u4", "echo foxtrot"),
]


@pytest.fixture(scope="module")
def s(spark):
    df = spark.createDataFrame(DOCS, "url string, text string")
    return Searcher(build_index(df, stored_cols=["text"]).persist())


def test_counts_and_lengths(s):
    assert s.doc_count() == 5
    assert s.doc_count_all() == 5
    lengths = [3, 2, 3, 4, 2]
    assert s.field_length_total() == sum(lengths)
    assert s.avg_field_length() == pytest.approx(sum(lengths) / 5)
    assert s.max_field_length() == 4


def test_idf_cached(s):
    import math

    # idf_value(N, df) = log(N / (df + 1)) + 1 (scoring.py, matches the
    # searcher's per-term literal maps used in every scored plan)
    v = s.idf("text", "alfa")
    assert v == pytest.approx(math.log(5 / (3 + 1)) + 1)
    assert s.idf("text", "alfa") == v  # cache hit


def test_document_numbers_and_docs_for_query(s):
    n = s.document_number(uid="u2")
    assert isinstance(n, int)
    assert s.document(uid="u2")["text"] == "bravo delta echo"
    assert s.document_number(uid="nope") is None
    all_nums = sorted(s.document_numbers())
    assert len(all_nums) == 5
    via_q = sorted(s.docs_for_query(Term("alfa")))
    expect = sorted(
        s.document_number(uid=u) for u in ["u0", "u1", "u3"]
    )
    assert via_q == expect


def test_find_parses_and_searches(s):
    r = s.find("text", "alfa AND bravo", limit=10)
    assert {h["uid"] for h in r} == {"u0", "u1"}


def test_postings_scored_frame(s):
    rows = s.postings("text", "delta").collect()
    assert len(rows) == 2  # u2, u3
    assert all(r["score"] > 0 for r in rows)


def test_lifecycle_surface(s):
    assert s.up_to_date() is True
    assert s.refresh() is s
    assert s.is_atomic() is True
    assert s.leaf_searchers() == [(s, 0)]
    assert s.has_parent() is False
    assert s.get_parent() is s


def test_collector_protocol(s):
    c = s.collector(limit=2, stored_cols=["url"])
    s.search_with_collector(Or([Term("alfa"), Term("bravo")]), c)
    assert c.results is not None and len(c.results) == 2
    assert c.computes_count()


def test_hit_dict_surface(s):
    r = s.search_results(Term("alfa"), limit=3, stored_cols=["text"])
    h = r[0]
    assert set(h.keys()) >= {"uid", "text"}
    assert dict(h.items()) == h.fields()
    assert list(h.values())
    assert h.get("uid") == h["uid"] and h.get("zzz", 42) == 42
    assert "uid" in h and len(h) == len(h.fields())
    assert set(iter(h)) == set(h.fields())


def test_results_query_terms_and_lengths(s):
    q = Or([Term("alfa"), Term("zebra"), Prefix("del")])
    r = s.search_results(q, limit=10)
    # zebra is not in the lexicon -> excluded; prefix not expanded
    assert r.query_terms() == {("text", "alfa")}
    assert ("text", "delta") in r.query_terms(expand=True)
    assert r.estimated_min_length() == r.estimated_length()
    assert r.has_exact_length()  # estimated_length cached the count

    page = s.search_page_results(q, pagenum=1, pagelen=2)
    assert page.scored_length() == page.results.scored_length()


def test_index_object_surface(spark, tmp_path, s):
    """Index-level convenience surface (reference index.py): exists_in /
    version_in / last_modified + InvertedIndex.searcher()/doc_count()/
    is_empty()/refresh()/up_to_date()."""
    from whoosh_reloaded_spark.index import (
        FORMAT_VERSION,
        exists_in,
        last_modified,
        load_index,
        save_index,
        version_in,
    )

    d = str(tmp_path / "ix")
    assert not exists_in(d)
    save_index(s.ix, d)
    assert exists_in(d)
    assert version_in(d) == ("whoosh_reloaded_spark", FORMAT_VERSION)
    assert last_modified(d) > 0

    ix = load_index(spark, d)
    assert ix.doc_count() == ix.doc_count_all() == 5
    assert not ix.is_empty()
    assert ix.field_length() == s.field_length_total()
    assert ix.refresh() is ix and ix.up_to_date() and ix.reader() is ix
    s2 = ix.searcher()
    assert s2.doc_count() == 5
    assert {h["uid"] for h in s2.search_results(Term("alfa"), limit=5)} == {
        "u0", "u1", "u3",
    }


def _expand_jobs(spark, searcher, q, group):
    """Spark jobs that searcher.expand_terms(q) launches."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "expand_terms")
    try:
        searcher.expand_terms(q)
    finally:
        sc.setJobGroup(None, None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_expand_cache_is_a_bounded_lru(spark, s, monkeypatch):
    """Multiterm expansions are memoized in an LRU of EXPAND_CACHE_SIZE
    entries: the memo never outgrows it, and a repeated expansion runs
    no lookup job."""
    from whoosh_reloaded_spark.query import planner

    monkeypatch.setattr(planner, "EXPAND_CACHE_SIZE", 3)
    fresh = Searcher(s.ix)
    for p in "abcde":
        fresh.expand_terms(Prefix(p))
        assert len(fresh._expand_cache) <= 3
    assert list(fresh._expand_cache) == [repr(Prefix(p)) for p in "cde"]
    assert fresh.expand_terms(Prefix("e")) == ["echo"]
    assert _expand_jobs(spark, fresh, Prefix("c"), "wrs-expand-hit") == []
    # a cold expansion does run its lookup (the job count is live)
    assert _expand_jobs(spark, fresh, Prefix("f"), "wrs-expand-cold")
    # "e" and "c" were hits, so "d" was the least recently used
    assert list(fresh._expand_cache) == [repr(Prefix(p)) for p in "ecf"]
