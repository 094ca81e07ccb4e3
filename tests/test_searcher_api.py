"""Searcher/Results/Hit/ResultsPage method-surface parity with reference
searching.py: doc_count_all, avg/max/total field length, idf, find,
document_number(s), docs_for_query, postings, refresh/up_to_date/close,
leaf_searchers/get_parent, collector + search_with_collector, Hit dict
surface, Results.query_terms/estimated_min_length/has_exact_length,
ResultsPage.scored_length."""

import pytest

from whoosh_reloaded_spark.index import build_index
from whoosh_reloaded_spark.query import (
    FuzzyTerm, Or, Prefix, Searcher, Term, TermRange, Variations,
)

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


@pytest.fixture(scope="module")
def saved(spark, s, tmp_path_factory):
    """The module's index saved and reopened: term_stats is then a plain
    parquet scan, as every loaded index reads it."""
    from whoosh_reloaded_spark.index import load_index, save_index

    d = str(tmp_path_factory.mktemp("lexicon") / "ix")
    save_index(s.ix, d)
    return load_index(spark, d)


@pytest.mark.parametrize("q", [
    Prefix("del"),
    FuzzyTerm("alfo", maxdist=1, prefixlength=0),
    TermRange("bravo", "delta"),
    Variations("delta"),
], ids=repr)
def test_fresh_multiterm_search_runs_one_lookup_job(spark, saved, q):
    """An expansion's scan brings its terms' df and total_weight, so
    planning a fresh multiterm search runs one lookup job, not an
    expansion job plus a stats job."""
    fresh = Searcher(saved)
    sc = spark.sparkContext
    group = f"wrs-plan-{type(q).__name__}"
    sc.setJobGroup(group, "search() before execution")
    try:
        df = fresh.search(q, limit=10)
    finally:
        sc.setJobGroup(None, None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert df.collect()


def _collected_plans(monkeypatch, ix):
    """Record the executed plan of every DataFrame collected from now on."""
    DataFrame = type(ix.postings)  # the session's concrete DataFrame class
    plans = []
    collect = DataFrame.collect

    def recording(self):
        rows = collect(self)
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return rows

    monkeypatch.setattr(DataFrame, "collect", recording)
    return plans


def _python_udf_free(plans):
    assert plans
    for p in plans:
        assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, p


def test_fuzzy_search_plans_hold_no_python_udf(saved, monkeypatch):
    plans = _collected_plans(monkeypatch, saved)
    rows = Searcher(saved).search(FuzzyTerm("delte", maxdist=1)).collect()
    assert {r["uid"] for r in rows} == {"u2", "u3"}
    _python_udf_free(plans)


def test_overflowing_fuzzy_search_plans_hold_no_python_udf(saved, monkeypatch):
    from whoosh_reloaded_spark.query import planner

    monkeypatch.setattr(planner, "TOO_MANY_CLAUSES", 1)
    q = FuzzyTerm("alfa", maxdist=4, prefixlength=0)
    fresh = Searcher(saved)
    assert fresh.expand_terms(q) is None
    plans = _collected_plans(monkeypatch, saved)
    rows = fresh.search(q, limit=None).collect()
    want = {
        u for u, text in DOCS
        if any(planner.levenshtein_distance("alfa", w) <= 4 for w in text.split())
    }
    assert {r["uid"] for r in rows} == want
    _python_udf_free(plans)


def test_suggest_probe_plan_holds_no_python_udf(saved, monkeypatch):
    plans = _collected_plans(monkeypatch, saved)
    assert Searcher(saved).suggest("delte", maxdist=1) == ["delta"]
    _python_udf_free(plans)


def test_weighting_query_shares_the_stats_memo(spark, saved):
    """A WeightingQuery plans its child with this searcher's stats memo
    and expansion cache, so memoized terms run no lookup job."""
    from whoosh_reloaded_spark.query import WeightingQuery
    from whoosh_reloaded_spark.scoring import TF_IDF

    fresh = Searcher(saved)
    q = Or([Term(w) for w in ("alfa", "bravo", "charlie", "delta", "echo")])
    assert fresh.search(q).collect()
    sc = spark.sparkContext
    group = "wrs-plan-weighting"
    sc.setJobGroup(group, "search() before execution")
    try:
        df = fresh.search(WeightingQuery(q, TF_IDF()), limit=10)
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert df.collect()


def test_per_term_map_round_trips_exactly(spark):
    """The term -> value map and the `term IN` filter reach the plan as
    SQL text: every double comes back bit for bit, and every term,
    whatever it holds, selects exactly its own row."""
    import random
    import struct

    from pyspark.sql import functions as F

    from whoosh_reloaded_spark.query.planner import _per_term, term_in

    rng = random.Random(5)
    alphabet = "ab'\"\\%_$\n\tçß東𐐨\u0301 "
    values = {}
    while len(values) < 1000:
        term = "".join(rng.choices(alphabet, k=rng.randint(1, 8)))
        bits = rng.getrandbits(64)
        if (bits >> 52) & 0x7FF == 0x7FF:  # not a finite double
            continue
        values[term] = struct.unpack("<d", bits.to_bytes(8, "little"))[0]
    frame = spark.createDataFrame([(t,) for t in values], "term string")
    got = {
        r["term"]: r["v"]
        for r in frame.select("term", _per_term(values).alias("v")).collect()
    }
    assert got.keys() == values.keys()
    for t, v in values.items():
        assert struct.pack("<d", got[t]) == struct.pack("<d", v), (t, v)
    # term_in: one flag column per term, 100 terms a pass
    terms = list(values)
    for lo in range(0, len(terms), 100):
        chunk = terms[lo:lo + 100]
        flags = frame.select(
            "term", *[F.expr(term_in([t])).alias(f"f{i}")
                      for i, t in enumerate(chunk)]
        ).collect()
        for r in flags:
            assert [i for i in range(len(chunk)) if r[f"f{i}"]] == (
                [chunk.index(r["term"])] if r["term"] in chunk else []
            ), r["term"]
    assert frame.where(term_in(terms)).count() == len(terms)
    assert frame.where(term_in([])).count() == 0


def test_value_sets_filter_as_sql_text(spark, s):
    """column_in writes a set of integers or strings as one SQL IN filter:
    each value selects exactly its own rows, the whole set selects all of
    them and an empty set none; search(filter=, mask=) docnum sets read
    the same filter."""
    from pyspark.sql import functions as F

    from whoosh_reloaded_spark.query.planner import column_in

    frame = spark.range(1000).select(
        "id", F.concat(F.lit("u'\\"), F.col("id").cast("string")).alias("uid")
    )
    rows = frame.collect()
    for column in ("id", "uid"):
        values = [r[column] for r in rows]
        for lo in range(0, len(values), 250):
            chunk = values[lo:lo + 250]
            flags = frame.select(column, *[
                F.expr(column_in(column, [v])).alias(f"f{i}")
                for i, v in enumerate(chunk)
            ]).collect()
            for r in flags:
                assert [i for i in range(len(chunk)) if r[f"f{i}"]] == (
                    [chunk.index(r[column])] if r[column] in chunk else []
                ), r[column]
        assert frame.where(column_in(column, values)).count() == 1000
        assert frame.where(column_in(column, [])).count() == 0
    hits = {r["docid"] for r in s.search(Term("alfa"), 10).collect()}
    assert len(hits) == 3
    some = set(list(hits)[:2])
    for docset, keep in ((some, some), (set(), set()), (hits, hits)):
        got = s.search(Term("alfa"), 10, filter=docset).collect()
        assert {r["docid"] for r in got} == keep
        got = s.search(Term("alfa"), 10, mask=docset).collect()
        assert {r["docid"] for r in got} == hits - keep
