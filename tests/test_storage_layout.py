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
* Saved postings hold no ``length`` column: a doc's exact length is kept
  once, in docmeta, and equals its token count.  An index in the layout
  of format version 1 (each posting repeating its doc's ``length``, the
  tables written with Spark's default writer, no schemas in stats.json)
  loads and answers identically under the default and the exact-length
  models, beside a new segment too, and merging it writes no ``length``.
* Plan shapes: the default model's plans join nothing; an exact-length
  model joins docmeta once per postings scan of a saved index, and reads
  the column in place where the postings still carry it.
* load_index reads the schemas recorded in stats.json, which equal the
  ones inferred from the parquet footers, ``weight`` aside.
* Saved postings store no column a reader can derive: a default build's
  column chunks are exactly term, field, docid, tf, positions and
  len_byte.  Its ``weight`` is its ``tf``, and readers derive it; a
  position_boosts, ``boost_delim`` or ``field_boost`` build keeps it
  stored.  A format version 2 index (stored ``weight``) loads and answers
  identically, alone and beside a version 3 segment; merging the two
  keeps ``weight``, and merging version 3 segments stores none.  A saved
  and loaded index answers as the unsaved build does, score for score.
* A table whose size is unknown (a ``file://`` URI) keeps its natural
  read splits; a small local table is read as one partition.
"""

import glob
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from tests.conftest import column_bytes, final_plan, joins, postings_scans
from whoosh_reloaded_spark.analysis import StandardAnalyzer
from whoosh_reloaded_spark.corpus import PAGES_SCHEMA, generate_rows
from whoosh_reloaded_spark.index import build_index, load_index, save_index
from whoosh_reloaded_spark.index.build import _sized_read, write_table
from whoosh_reloaded_spark.index.checkpoint import open_partitioned
from whoosh_reloaded_spark.index.mutate import delete_by_term
from whoosh_reloaded_spark.index.segments import merge_segments
from whoosh_reloaded_spark.query import Searcher
from whoosh_reloaded_spark.query import ast as Q
from whoosh_reloaded_spark.scoring import BM25F, PL2, TF_IDF
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


def _answers(ix, queries, weighting=None):
    s = Searcher(ix, weighting)
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


MODELS = {
    "default": BM25F(),
    "exact": BM25F(quantized=False),
    "pl2_exact": PL2(quantized=False),
}


def _store_weight(spark, seg):
    """Store each posting's ``weight`` (its tf as a double) in the
    postings of the index at `seg`, before ``tf`` as the layouts before
    format version 3 did, keeping the file split and row order."""
    src = os.path.join(seg, "postings")
    p = spark.read.parquet(src)
    assert "weight" not in p.columns
    cols = list(p.columns)
    cols.insert(cols.index("tf"), "weight")
    write_table(
        p.withColumn("weight", F.col("tf").cast("double")).select(*cols),
        src + "_weighted",
    )
    shutil.rmtree(src)
    os.rename(src + "_weighted", src)
    assert "weight" in column_bytes(src)


def _to_v2_layout(spark, seg):
    """Rewrite the index at `seg` in the layout of format version 2: its
    postings store ``weight``, and stats.json records their schema."""
    _store_weight(spark, seg)
    stats_path = os.path.join(seg, "stats.json")
    with open(stats_path) as f:
        meta = json.load(f)
    meta["format_version"] = 2
    meta["schemas"]["postings"] = spark.read.parquet(
        os.path.join(seg, "postings")
    ).schema.json()
    with open(stats_path, "w") as f:
        json.dump(meta, f)


def _to_parent_layout(spark, seg):
    """Rewrite the index at `seg` in the layout of format version 1: each
    posting stores its ``weight`` and repeats its doc's exact ``length``
    (from docmeta), every table is written with Spark's default writer,
    and stats.json records no schemas."""
    _store_weight(spark, seg)
    src = os.path.join(seg, "postings")
    p = spark.read.parquet(src)
    lengths = spark.read.parquet(os.path.join(seg, "docmeta")).select(
        "docid", "length"
    )
    cols = list(p.columns)
    cols.insert(cols.index("len_byte"), "length")
    # a broadcast join streams the postings in their file split and order
    p.join(F.broadcast(lengths), "docid").select(*cols).write.parquet(
        src + "_old"
    )
    shutil.rmtree(src)
    os.rename(src + "_old", src)
    _rewrite_default(spark, seg)
    stats_path = os.path.join(seg, "stats.json")
    with open(stats_path) as f:
        meta = json.load(f)
    del meta["schemas"]
    meta["format_version"] = 1
    with open(stats_path, "w") as f:
        json.dump(meta, f)
    assert "length" in column_bytes(src)


def test_postings_store_no_length(spark, saved):
    cols = column_bytes(os.path.join(saved, "postings"))
    assert "length" not in cols and "len_byte" in cols, cols
    assert "length" in column_bytes(os.path.join(saved, "docmeta"))
    ix = load_index(spark, saved)
    assert "length" not in ix.postings.columns
    # positions format: a doc's token count is the sum of its tfs
    tokens = ix.postings.groupBy("docid").agg(F.sum("tf").alias("n"))
    got = ix.docmeta.join(tokens, "docid", "left").select(
        "docid", "length", F.coalesce("n", F.lit(0)).alias("n")
    ).collect()
    assert len(got) == 150
    assert all(r["length"] == r["n"] for r in got)
    assert sum(r["length"] for r in got) == ix.stats["field_length"]


def test_recorded_schemas_equal_inferred(spark, saved):
    with open(os.path.join(saved, "stats.json")) as f:
        meta = json.load(f)
    assert meta["format_version"] == 3
    ix = load_index(spark, saved)
    for table, df in (("postings", ix.postings), ("docmeta", ix.docmeta),
                      ("term_stats", ix.term_stats)):
        inferred = spark.read.parquet(os.path.join(saved, table)).schema
        assert json.loads(meta["schemas"][table]) == inferred.jsonValue()
        if table == "postings":
            # the derived weight, before tf, as the stored one was
            want = inferred.fields
            at = inferred.fieldNames().index("tf")
            inferred = StructType(
                want[:at] + [StructField("weight", DoubleType())] + want[at:]
            )
        assert df.schema == inferred, table


@pytest.fixture(scope="module")
def parent_layout(spark, saved, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("parent") / "ix")
    shutil.copytree(saved, path)
    _to_parent_layout(spark, path)
    return path


@pytest.mark.parametrize("model", list(MODELS))
def test_parent_layout_index_answers_identically(
    spark, saved, parent_layout, model
):
    new = load_index(spark, saved)
    queries = _queries(new)
    want = _answers(new, queries, MODELS[model])
    assert all(want), queries
    old = load_index(spark, parent_layout)
    assert "length" in old.postings.columns
    assert _answers(old, queries, MODELS[model]) == want


@pytest.mark.parametrize("model", list(MODELS))
def test_parent_layout_segment_beside_new_one(spark, tmp_path, model):
    root = str(tmp_path / "root")
    append_batch(_docs(spark, 120, seed=1), root)
    append_batch(_docs(spark, 80, seed=2), root)
    ix = open_partitioned(spark, root)
    queries = _queries(ix)
    want = _answers(ix, queries, MODELS[model])
    assert all(want), queries

    _to_parent_layout(spark, os.path.join(root, "segment_00000"))
    assert _answers(open_partitioned(spark, root), queries, MODELS[model]) == want


def test_merge_of_parent_and_new_segments(spark, tmp_path):
    root = str(tmp_path / "root")
    append_batch(_docs(spark, 120, seed=1), root)
    append_batch(_docs(spark, 80, seed=2), root)
    segs = [os.path.join(root, f"segment_0000{i}") for i in range(2)]
    ix = open_partitioned(spark, root)
    lengths = sorted(ix.docmeta.select("docid", "length").collect())
    queries = _queries(ix)
    want = {m: _answers(ix, queries, w) for m, w in MODELS.items()}

    _to_parent_layout(spark, segs[0])
    out = str(tmp_path / "merged")
    merged = merge_segments(spark, segs, out)
    assert "length" not in column_bytes(os.path.join(out, "postings"))
    assert sorted(merged.docmeta.select("docid", "length").collect()) == lengths
    for m, w in MODELS.items():
        assert _answers(merged, queries, w) == want[m], m


def _plan(searcher, q):
    """The executed plan of a top-10 search: the final adaptive plan, or
    the plain one where no exchange made the plan adaptive."""
    out = searcher.search(q, 10, with_uid=False)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    return final_plan(out) if "AdaptiveSparkPlan" in plan else plan


def _plan_queries(ix):
    term, either, both, _, _, phrase, _, _ = _queries(ix)
    return {"term": term, "or": either, "and": both, "phrase": phrase}


def test_default_plans_join_nothing(spark, saved):
    ix = load_index(spark, saved)
    s = Searcher(ix)
    for name, q in _plan_queries(ix).items():
        plan = _plan(s, q)
        assert len(postings_scans(plan)) == 1, (name, plan)
        assert not joins(plan), (name, plan)
        assert "/docmeta" not in plan, (name, plan)


def _docmeta_scans(plan):
    return [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "/docmeta" in ln
    ]


def test_exact_plans_join_docmeta_once_per_scan(spark, saved, parent_layout):
    ix = load_index(spark, saved)
    s = Searcher(ix, BM25F(quantized=False))
    for name, q in _plan_queries(ix).items():
        plan = _plan(s, q)
        scans = postings_scans(plan)
        assert len(scans) == 1, (name, plan)
        assert len(joins(plan)) == len(_docmeta_scans(plan)) == 1, (name, plan)
    # postings that still carry `length` read it in place
    old = load_index(spark, parent_layout)
    s = Searcher(old, BM25F(quantized=False))
    for name, q in _plan_queries(old).items():
        plan = _plan(s, q)
        assert not joins(plan) and not _docmeta_scans(plan), (name, plan)


def test_unsaved_exact_search_analyzes_once(spark):
    ix = build_index(_docs(spark, 60, seed=3))
    assert "length" in ix.postings.columns
    s = Searcher(ix, BM25F(quantized=False))
    top = ix.term_stats.orderBy(F.desc("df"), "term").first()["term"]
    plan = _plan(s, Q.Term(top))
    assert len([ln for ln in plan.splitlines() if "MapInArrow" in ln]) == 1, plan


def test_postings_store_no_derivable_column(spark, saved):
    """Footprint guard: a default build's saved postings hold these
    column chunks and no other.  A derived column stored again (a
    weight that is the tf, a doc's length) fails here."""
    assert set(column_bytes(os.path.join(saved, "postings"))) == {
        "term", "field", "docid", "tf", "positions.list.element", "len_byte",
    }
    ix = load_index(spark, saved)
    assert ix._weight_is_tf
    w = ix.postings.select("weight", "tf").collect()
    assert w and all(r["weight"] == float(r["tf"]) for r in w)


BOOSTED = {
    "position_boosts": {"format": "position_boosts"},
    "boost_delim": {"analyzer": StandardAnalyzer(r"[^ \t\r\n]+"),
                    "boost_delim": "^"},
    "field_boost": {"field_boost": 2.0},
}


@pytest.mark.parametrize("kind", list(BOOSTED))
def test_boosted_builds_store_weight(spark, tmp_path, kind):
    docs = spark.createDataFrame(
        [("d0", "render^2 render file"), ("d1", "plain render^0.5 file")],
        "url string, text string",
    )
    ix = build_index(docs, **BOOSTED[kind])
    assert not ix._weight_is_tf
    cols = ("term", "docid", "tf", "weight")
    want = sorted(ix.postings.select(*cols).collect())
    path = str(tmp_path / "ix")
    save_index(ix, path)
    assert "weight" in column_bytes(os.path.join(path, "postings"))
    loaded = load_index(spark, path)
    assert not loaded._weight_is_tf
    assert sorted(loaded.postings.select(*cols).collect()) == want
    # the StandardAnalyzer's token boosts are 1.0, so position_boosts
    # weights equal their tfs; the format stores them all the same
    assert any(r["weight"] != r["tf"] for r in want) == (
        kind != "position_boosts"
    )


#: models that read ``weight``: the default, exact-length BM25F and TF_IDF
WEIGHT_MODELS = {
    "default": BM25F(),
    "exact": BM25F(quantized=False),
    "tf_idf": TF_IDF(),
}


@pytest.fixture(scope="module")
def unsaved(spark):
    """The saved fixture's build, unsaved, its postings in the saved row
    order (one partition sorted by term and docid): a doc's score sums
    its terms' scores in row order, and the last bit of a sum depends on
    its order."""
    ix = build_index(_docs(spark, 150, seed=7))
    ix.postings = ix.postings.coalesce(1).sortWithinPartitions("term", "docid")
    return ix.persist()


@pytest.mark.parametrize("model", list(WEIGHT_MODELS))
def test_saved_answers_equal_unsaved(spark, saved, unsaved, model):
    new = load_index(spark, saved)
    queries = _queries(new)
    want = _answers(unsaved, queries, WEIGHT_MODELS[model])
    assert all(want), queries
    assert _answers(new, queries, WEIGHT_MODELS[model]) == want


@pytest.fixture(scope="module")
def v2_layout(spark, saved, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("v2") / "ix")
    shutil.copytree(saved, path)
    _to_v2_layout(spark, path)
    return path


@pytest.mark.parametrize("model", list(WEIGHT_MODELS))
def test_v2_index_answers_identically(spark, saved, v2_layout, model):
    new = load_index(spark, saved)
    queries = _queries(new)
    want = _answers(new, queries, WEIGHT_MODELS[model])
    assert all(want), queries
    old = load_index(spark, v2_layout)
    assert not old._weight_is_tf
    assert old.postings.columns == new.postings.columns
    assert _answers(old, queries, WEIGHT_MODELS[model]) == want


@pytest.fixture(scope="module")
def two_segments(spark, tmp_path_factory):
    """A root of two append_batch segments (format version 3)."""
    root = str(tmp_path_factory.mktemp("segments") / "root")
    append_batch(_docs(spark, 120, seed=1), root)
    append_batch(_docs(spark, 80, seed=2), root)
    return root


def _copy_root(src, tmp_path):
    """A copy of a segments root whose manifest names the copied
    segments."""
    root = str(tmp_path / "root")
    shutil.copytree(src, root)
    manifest = os.path.join(root, "build_manifest.jsonl")
    with open(manifest) as f:
        text = f.read()
    with open(manifest, "w") as f:
        f.write(text.replace(src, root))
    return root


@pytest.mark.parametrize("model", list(WEIGHT_MODELS))
def test_v2_segment_beside_v3_one(spark, two_segments, tmp_path, model):
    root = _copy_root(two_segments, tmp_path)
    ix = open_partitioned(spark, root)
    assert ix._weight_is_tf
    queries = _queries(ix)
    want = _answers(ix, queries, WEIGHT_MODELS[model])
    assert all(want), queries

    _to_v2_layout(spark, os.path.join(root, "segment_00000"))
    mixed = open_partitioned(spark, root)
    assert not mixed._weight_is_tf
    assert _answers(mixed, queries, WEIGHT_MODELS[model]) == want


def test_merge_with_v2_segment_keeps_weight(spark, two_segments, tmp_path):
    root = _copy_root(two_segments, tmp_path)
    segs = [os.path.join(root, f"segment_0000{i}") for i in range(2)]
    ix = open_partitioned(spark, root)
    queries = _queries(ix)
    want = {m: _answers(ix, queries, w) for m, w in WEIGHT_MODELS.items()}

    _to_v2_layout(spark, segs[0])
    out = str(tmp_path / "merged")
    merged = merge_segments(spark, segs, out)
    assert "weight" in column_bytes(os.path.join(out, "postings"))
    assert not merged._weight_is_tf
    for m, w in WEIGHT_MODELS.items():
        assert _answers(merged, queries, w) == want[m], m


def test_merge_of_v3_segments_stores_no_weight(spark, two_segments, tmp_path):
    root = _copy_root(two_segments, tmp_path)
    segs = [os.path.join(root, f"segment_0000{i}") for i in range(2)]
    ix = open_partitioned(spark, root)
    queries = _queries(ix)
    want = {m: _answers(ix, queries, w) for m, w in WEIGHT_MODELS.items()}

    out = str(tmp_path / "merged")
    merged = merge_segments(spark, segs, out)
    assert "weight" not in column_bytes(os.path.join(out, "postings"))
    assert merged._weight_is_tf
    for m, w in WEIGHT_MODELS.items():
        assert _answers(merged, queries, w) == want[m], m


def test_unknown_size_keeps_natural_splits(spark, saved):
    path = os.path.join(saved, "postings")
    local = _sized_read(spark, path)
    assert "Coalesce 1" in local._jdf.queryExecution().executedPlan().toString()
    uri = _sized_read(spark, "file://" + path)
    assert "Coalesce" not in uri._jdf.queryExecution().executedPlan().toString()
    assert sorted(uri.collect()) == sorted(local.collect())
