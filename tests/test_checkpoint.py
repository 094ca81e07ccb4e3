"""Resumability + segment-merge invariants (FIXTURES.md §5):
- kill-and-resume build == single-run build (identical postings)
- merged segments == single-segment build
- multi-segment search == single-segment search
"""

import pytest

from whoosh_reloaded_spark.corpus import PAGES_SCHEMA, generate_rows
from whoosh_reloaded_spark.index import build_index, load_index, save_index
from whoosh_reloaded_spark.index.checkpoint import (
    build_partitioned,
    open_partitioned,
    read_manifest,
)
from whoosh_reloaded_spark.index.segments import merge_segments
from whoosh_reloaded_spark.query import Or, Searcher, Term

N = 300


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(list(generate_rows(N)), PAGES_SCHEMA)


@pytest.fixture(scope="module")
def single(spark, corpus, tmp_path_factory):
    d = tmp_path_factory.mktemp("single_ix")
    ix = build_index(corpus)
    save_index(ix, str(d / "ix"))
    return load_index(spark, str(d / "ix"))


def _postings_set(ix):
    rows = ix.postings.select(
        "term", "docid", "weight", "positions", "len_byte"
    ).collect()
    return sorted(
        (r["term"], r["docid"], r["weight"], tuple(r["positions"]), r["len_byte"])
        for r in rows
    )


def test_kill_and_resume_equals_single_run(spark, corpus, single, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("resume_ix"))
    # simulate a kill after 2 of 4 slices
    partial = build_partitioned(corpus, root, n_slices=4, max_slices=2)
    assert len(partial) == 2
    m = read_manifest(root)
    assert sorted(m) == [0, 1]
    assert all(r["status"] == "complete" for r in m.values())
    # resume: only the remaining slices run
    finished = build_partitioned(corpus, root, n_slices=4)
    assert len(finished) == 4
    multi = open_partitioned(spark, root)
    assert _postings_set(multi) == _postings_set(single)
    assert multi.ensure_stats() == single.ensure_stats()


def test_manifest_metrics(spark, corpus, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("manifest_ix"))
    build_partitioned(corpus, root, n_slices=3)
    m = read_manifest(root)
    assert len(m) == 3
    for r in m.values():
        assert r["n_docs"] > 0 and r["n_postings"] > 0 and r["wall_sec"] > 0
        assert r["docid_hi"] > r["docid_lo"]
        # observed on the postings write: exactly the rows written
        written = spark.read.parquet(r["segment_path"] + "/postings").count()
        assert r["n_postings"] == written
    assert sum(r["n_docs"] for r in m.values()) == N


def test_merge_equals_single(spark, corpus, single, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("merge_ix"))
    paths = build_partitioned(corpus, root, n_slices=3)
    merged = merge_segments(spark, paths, root + "/merged")
    assert _postings_set(merged) == _postings_set(single)


def test_old_block_layout_loads_and_merges(spark, corpus, single,
                                           tmp_path_factory):
    """An index saved with the retired WAND block layer (a block_no column
    on the postings and a blocks/ table) still loads with the same top-10,
    and merging it writes postings without block_no."""
    import shutil

    from pyspark.sql import functions as F

    q = Or((Term("render"), Term("yellow"), Term("alpha")))
    want = Searcher(single).search_list(q, 10)

    root = tmp_path_factory.mktemp("old_layout")
    src, old = str(root / "src"), str(root / "old")
    save_index(build_index(corpus), src)
    shutil.copytree(src, old, ignore=shutil.ignore_patterns("postings"))
    posting_rows = spark.read.parquet(f"{src}/postings")
    posting_rows.withColumn(
        "block_no", (F.col("docid") / 128).cast("int")
    ).write.parquet(f"{old}/postings")
    posting_rows.groupBy("field", "term").agg(
        F.lit(0).alias("block_no"), F.count(F.lit(1)).alias("n_postings")
    ).write.parquet(f"{old}/blocks")
    assert "block_no" in spark.read.parquet(f"{old}/postings").columns

    loaded = load_index(spark, old)
    assert "block_no" not in loaded.postings.columns
    assert Searcher(loaded).search_list(q, 10) == want

    merged = merge_segments(spark, [old], str(root / "merged"))
    written = spark.read.parquet(str(root / "merged" / "postings"))
    assert "block_no" not in written.columns
    assert _postings_set(merged) == _postings_set(single)


def test_multisegment_search_matches(spark, corpus, single, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("msearch_ix"))
    build_partitioned(corpus, root, n_slices=4)
    multi = open_partitioned(spark, root)
    q = Or((Term("render"), Term("yellow"), Term("alpha")))
    a = Searcher(single).search_list(q, 10)
    b = Searcher(multi).search_list(q, 10)
    # ranks identical; scores to float-sum-order tolerance (aggregation
    # order across segment unions differs in the last ulp)
    assert [(d, u) for d, u, _ in a] == [(d, u) for d, u, _ in b]
    for (_, _, s1), (_, _, s2) in zip(a, b):
        assert s1 == pytest.approx(s2, rel=1e-12)


def test_compressed_positions_roundtrip(spark, corpus, single, tmp_path_factory):
    """delta+varint packed positions at rest decode back identically."""
    d = tmp_path_factory.mktemp("packed_ix")
    from whoosh_reloaded_spark.index import build_index as _bi
    from whoosh_reloaded_spark.index import load_index as _li
    from whoosh_reloaded_spark.index import save_index as _si

    ix = _bi(corpus)
    _si(ix, str(d / "ix"), compress_positions=True)
    # stored column is binary...
    raw = spark.read.parquet(str(d / "ix" / "postings"))
    assert dict(raw.dtypes)["positions"] == "binary"
    # ...but the loaded index round-trips to identical arrays
    loaded = _li(spark, str(d / "ix"))
    assert _postings_set(loaded) == _postings_set(single)
    # phrase queries work through the decode path
    from whoosh_reloaded_spark.query import Phrase, Searcher

    hits = Searcher(loaded).search_list(Phrase(("quick", "went")), 5)
    assert hits


def test_build_determinism(spark, corpus, single):
    """FIXTURES §5: re-running the build yields identical posting tables,
    regardless of partitioning."""
    from whoosh_reloaded_spark.index import build_index as _bi

    again = _bi(corpus)
    assert _postings_set(again) == _postings_set(single)
    repart = _bi(corpus.repartition(13), num_partitions=7)
    assert _postings_set(repart) == _postings_set(single)


def test_load_multi_rejects_overlapping_docids(spark, tmp_path):
    """Independently-built segments each start at docid 0; load_multi must
    refuse to combine them (round-4 guard: silent document mixing)."""
    import pytest as _pytest

    from whoosh_reloaded_spark.corpus import PAGES_SCHEMA, generate_rows
    from whoosh_reloaded_spark.index import build_index, save_index
    from whoosh_reloaded_spark.index.segments import load_multi

    rows = list(generate_rows(40))
    a = spark.createDataFrame(rows[:20], PAGES_SCHEMA)
    b = spark.createDataFrame(rows[20:], PAGES_SCHEMA)
    pa, pb = str(tmp_path / "sa"), str(tmp_path / "sb")
    save_index(build_index(a), pa)
    save_index(build_index(b), pb)
    with _pytest.raises(ValueError, match="docid ranges overlap"):
        load_multi(spark, [pa, pb])


def test_load_multi_tolerates_empty_segment(spark, tmp_path):
    """An empty segment has NULL min/max docid aggregates; the range guard
    must skip it (no docids -> cannot overlap) instead of TypeError-ing
    (round-5 ADVICE fix)."""
    from whoosh_reloaded_spark.corpus import PAGES_SCHEMA, generate_rows
    from whoosh_reloaded_spark.index import build_index, save_index
    from whoosh_reloaded_spark.index.segments import load_multi

    rows = list(generate_rows(20))
    full = spark.createDataFrame(rows, PAGES_SCHEMA)
    empty = spark.createDataFrame([], PAGES_SCHEMA)
    pa, pb = str(tmp_path / "sa"), str(tmp_path / "sb")
    save_index(build_index(full), pa)
    save_index(build_index(empty), pb)
    ix = load_multi(spark, [pa, pb])
    assert ix.docmeta.count() == 20
