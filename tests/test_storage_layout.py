"""The parquet layout of a saved index, and indexes written before it.

* Every index table (postings, docmeta, term_stats, the tombstones) is
  written with zstd pages, and ``docid`` is stored DELTA_BINARY_PACKED
  in postings and docmeta (no dictionary), read back through pyarrow's
  file metadata.
* An index whose tables are rewritten with Spark's default writer
  (snappy, v1 pages, dictionary-coded docids: the layout of indexes saved
  before the writer options) loads and answers every query identically.
* ``open_partitioned`` over such an old-layout segment plus an
  ``append_batch`` segment answers identically too.
"""

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from whoosh_reloaded_spark.corpus import PAGES_SCHEMA, generate_rows
from whoosh_reloaded_spark.index import build_index, load_index, save_index
from whoosh_reloaded_spark.index.checkpoint import open_partitioned
from whoosh_reloaded_spark.index.mutate import delete_by_term
from whoosh_reloaded_spark.query import Searcher
from whoosh_reloaded_spark.query import ast as Q
from whoosh_reloaded_spark.streaming.append import append_batch

pq = pytest.importorskip("pyarrow.parquet")

TABLES = ("postings", "docmeta", "term_stats")


def _docs(spark, n, seed):
    return spark.createDataFrame(list(generate_rows(n, seed)), PAGES_SCHEMA)


@pytest.fixture(scope="module")
def saved(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("layout") / "ix")
    save_index(build_index(_docs(spark, 150, seed=7)), path)
    return path


def _chunks(table_dir):
    """(column path, compression, encodings) of every column chunk."""
    files = sorted(glob.glob(os.path.join(table_dir, "*.parquet")))
    assert files, table_dir
    out = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for i in range(rg.num_columns):
                c = rg.column(i)
                out.append((c.path_in_schema, c.compression, set(c.encodings)))
    return out


def test_tables_are_zstd_with_delta_docids(spark, saved):
    for table in TABLES:
        chunks = _chunks(os.path.join(saved, table))
        assert {comp for _, comp, _ in chunks} == {"ZSTD"}, table
        if table != "term_stats":
            docid = [enc for col, _, enc in chunks if col == "docid"]
            assert docid and all(
                enc == {"DELTA_BINARY_PACKED"} for enc in docid
            ), (table, docid)
    # unique sorted strings fall back to prefix (delta byte array) coding
    terms = [enc for col, _, enc in _chunks(os.path.join(saved, "term_stats"))
             if col == "term"]
    assert all("DELTA_BYTE_ARRAY" in enc for enc in terms), terms


def test_tombstones_are_zstd(spark, saved, tmp_path):
    path = str(tmp_path / "ix")
    shutil.copytree(saved, path)
    ix = load_index(spark, path)
    term = ix.term_stats.orderBy(F.desc("df"), "term").first()["term"]
    assert delete_by_term(spark, path, ix, term) > 0
    chunks = _chunks(os.path.join(path, "deleted"))
    assert {comp for _, comp, _ in chunks} == {"ZSTD"}
    assert all(enc == {"DELTA_BINARY_PACKED"} for _, _, enc in chunks)


def _rewrite_default(spark, seg):
    """Rewrite each table of the index at `seg` with Spark's default
    writer, keeping its rows, its file split and its row order."""
    for table in TABLES:
        src = os.path.join(seg, table)
        old = src + "_default"
        spark.read.parquet(src).write.parquet(old)
        shutil.rmtree(src)
        os.rename(old, src)
    chunks = _chunks(os.path.join(seg, "postings"))
    assert {comp for _, comp, _ in chunks} == {"SNAPPY"}
    assert all(
        "RLE_DICTIONARY" in enc or "PLAIN_DICTIONARY" in enc
        for col, _, enc in chunks if col == "docid"
    )


def _queries(ix):
    """Term, boolean, scaled, phrase and multiterm queries over the
    index's most frequent terms and one doc's first two tokens."""
    top = [
        r["term"]
        for r in ix.term_stats.orderBy(F.desc("df"), "term").limit(4).collect()
    ]
    first = ix.postings.agg(F.min("docid")).first()[0]
    head = (
        ix.postings.where(F.col("docid") == first)
        .select("term", F.explode("positions").alias("p"))
        .orderBy("p")
        .limit(2)
        .collect()
    )
    a, b, c, d = (Q.Term(t) for t in top)
    return [
        a,
        Q.Or((a, b, c)),
        Q.And((a, b)),
        Q.AndNot(b, c),
        Q.Or((a, d), scale=0.9),
        Q.Phrase([r["term"] for r in head]),
        Q.Prefix(top[3][:2]),
        Q.FuzzyTerm(top[1], maxdist=1),
    ]


def _answers(ix, queries):
    s = Searcher(ix)
    return [s.search_list(q, 20) for q in queries]


def test_default_writer_index_loads_identically(spark, saved, tmp_path):
    new = load_index(spark, saved)
    queries = _queries(new)
    want = _answers(new, queries)
    assert all(want), queries

    old = str(tmp_path / "old")
    shutil.copytree(saved, old)
    _rewrite_default(spark, old)
    assert _answers(load_index(spark, old), queries) == want


def test_old_segment_beside_new_one(spark, tmp_path):
    root = str(tmp_path / "root")
    append_batch(_docs(spark, 120, seed=1), root)
    append_batch(_docs(spark, 80, seed=2), root)
    ix = open_partitioned(spark, root)
    queries = _queries(ix)
    want = _answers(ix, queries)
    assert all(want), queries

    _rewrite_default(spark, os.path.join(root, "segment_00000"))
    assert _answers(open_partitioned(spark, root), queries) == want
