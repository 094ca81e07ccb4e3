"""Streaming segment append + delete/update semantics."""

import os

import pytest
from pyspark.sql import functions as F

from whoosh_reloaded_spark.corpus import PAGES_SCHEMA, generate_rows
from whoosh_reloaded_spark.index.checkpoint import open_partitioned, read_manifest
from whoosh_reloaded_spark.index.mutate import (
    delete_by_term,
    delete_by_uid,
    load_deleted,
    update_documents,
    with_deleted,
)
from whoosh_reloaded_spark.query import Or, Searcher, Term
from whoosh_reloaded_spark.streaming.append import append_batch, start_index_stream


def test_streaming_file_source_builds_segments(spark, tmp_path):
    rows = list(generate_rows(120))
    src = tmp_path / "incoming"
    out = tmp_path / "ix"
    ckpt = tmp_path / "ckpt"
    os.makedirs(src)
    # two files land in the source dir
    spark.createDataFrame(rows[:60], PAGES_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "f1"))
    spark.createDataFrame(rows[60:], PAGES_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = start_index_stream(stream, str(out), str(ckpt), trigger_once=True)
    q.awaitTermination(timeout=300)

    m = read_manifest(str(out))
    assert len(m) >= 1
    ix = open_partitioned(spark, str(out))
    assert ix.ensure_stats()["doc_count"] == 120
    s = Searcher(ix)
    hits = s.search_list(Term("render"), 10)
    assert hits


def test_append_batch_monotonic_docids(spark, tmp_path):
    rows = list(generate_rows(100))
    out = str(tmp_path / "ix2")
    r1 = append_batch(spark.createDataFrame(rows[:50], PAGES_SCHEMA), out)
    r2 = append_batch(spark.createDataFrame(rows[50:], PAGES_SCHEMA), out)
    assert r1["docid_lo"] == 0 and r1["docid_hi"] == 50
    assert r2["docid_lo"] == 50 and r2["docid_hi"] == 100
    for r in (r1, r2):
        # observed on the postings write: exactly the rows written
        written = spark.read.parquet(r["segment_path"] + "/postings").count()
        assert r["n_postings"] == written > 0
    ix = open_partitioned(spark, out)
    assert ix.docmeta.select(F.count_distinct("docid")).collect()[0][0] == 100


def test_append_empty_batch_writes_nothing(spark, tmp_path):
    out = str(tmp_path / "empty")
    assert append_batch(spark.createDataFrame([], PAGES_SCHEMA), out) is None
    assert read_manifest(out) == {}
    assert not os.path.exists(out) or not any(
        name.startswith("segment_") for name in os.listdir(out)
    )
    # a batch after it still starts at slice 0, docid 0
    rows = list(generate_rows(5))
    r = append_batch(spark.createDataFrame(rows, PAGES_SCHEMA), out)
    assert (r["slice_id"], r["docid_lo"], r["docid_hi"]) == (0, 0, 5)


def test_delete_and_update(spark, tmp_path):
    rows = list(generate_rows(80))
    out = str(tmp_path / "ix3")
    append_batch(spark.createDataFrame(rows, PAGES_SCHEMA), out)
    ix = open_partitioned(spark, out)

    n = delete_by_term(spark, out, ix, "render")
    assert n > 0
    live = with_deleted(ix, load_deleted(spark, out))
    s = Searcher(live)
    assert s.search_list(Term("render"), 10) == []
    assert live.ensure_stats()["doc_count"] == 80 - n

    # update: replace one doc's text under the same url
    url0 = rows[0][0]
    new = [(url0, rows[0][1], b"<html/>", "replacement zzzuniq text body", "en")]
    update_documents(
        spark, out, open_partitioned(spark, out),
        spark.createDataFrame(new, PAGES_SCHEMA),
    )
    ix2 = open_partitioned(spark, out)
    live2 = with_deleted(ix2, load_deleted(spark, out))
    s2 = Searcher(live2)
    got = s2.search_list(Term("zzzuniq"), 5)
    assert len(got) == 1 and got[0][1] == url0
    # old content of the replaced doc no longer matches
    old_terms = s2.search_list(Term("yellow"), 50)
    assert url0 not in [u for _, u, _ in old_terms]
    # each live uid appears exactly once
    dups = (
        live2.docmeta.groupBy("uid").count().where(F.col("count") > 1).count()
    )
    assert dups == 0


def test_append_batch_idempotent_on_redelivery(spark, tmp_path):
    """foreachBatch is at-least-once: re-delivering a batch with the same
    batch_id must NOT create a duplicate segment (ADVICE r1 fix)."""
    rows = list(generate_rows(40))
    out = str(tmp_path / "ix_redeliver")
    df = spark.createDataFrame(rows, PAGES_SCHEMA)

    r1 = append_batch(df, out, batch_id=7)
    r2 = append_batch(df, out, batch_id=7)  # simulated re-delivery
    assert r2["slice_id"] == r1["slice_id"]  # short-circuited, same row

    ix = open_partitioned(spark, out)
    assert ix.docmeta.count() == 40  # no duplicates

    # a DIFFERENT batch id still appends
    r3 = append_batch(df, out, batch_id=8)
    assert r3["slice_id"] != r1["slice_id"]
    assert open_partitioned(spark, out).docmeta.count() == 80
