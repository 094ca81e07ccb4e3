"""Deletions and updates — tombstones + unique-key update, reference style.

The reference marks deletions in per-segment bitsets consulted at match
time (writing.py:309-344, codec/whoosh3.py:402-411) and implements
update_document as delete-by-unique-field + re-add (writing.py:439-503).

Here deletions are a tombstone docid table stored next to the index
(`deleted/` parquet).  :func:`with_deleted` gives the live view: it
anti-joins the tombstones with postings and docmeta, re-aggregates
term_stats over the live postings, and recounts the global stats.
Compaction does not drop deleted docs yet: ``segments.merge_segments``
takes no tombstones, so the merged segment keeps every deleted doc's
rows and the tombstones must still be applied to it.  The reference's
segment merge skips deleted docs (writing.py:730-746); ROADMAP D10 plans
that, with stored stats kept until the merge.  Production note: on
Iceberg this is MERGE INTO / positional deletes.

Scale note: every delete path writes the tombstone parquet DIRECTLY from a
DataFrame — matching docids are never collected to the driver, so a
head-term delete over 10^11 postings is one distributed distinct+union+write
job, not a billion-row driver round-trip.
"""

from __future__ import annotations

import os
import shutil
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whoosh_reloaded_spark.index.build import (
    InvertedIndex,
    term_stats_of,
    write_table,
)
from whoosh_reloaded_spark.query.planner import column_in


def _deleted_path(path: str) -> str:
    return os.path.join(path, "deleted")


def load_deleted(spark: SparkSession, path: str) -> Optional[DataFrame]:
    p = _deleted_path(path)
    if os.path.isdir(p):
        return spark.read.parquet(p)
    return None


def append_tombstones(spark: SparkSession, path: str,
                      docids_df: DataFrame) -> int:
    """Union a docid frame into the tombstone table — fully distributed.

    Returns the number of NEW tombstones added (docs deleted by this call,
    excluding already-deleted ones), computed from parquet counts — the
    docids themselves never touch the driver.

    Single-writer semantics (write to tmp dir, atomic rename) match the
    reference's writer lock (index.py:405+).
    """
    new = docids_df.select(F.col("docid").cast("long").alias("docid")).distinct()
    existing = load_deleted(spark, path)
    if existing is not None:
        n_before = existing.count()
        merged = existing.select("docid").unionByName(new).distinct()
    else:
        n_before = 0
        merged = new
    tmp = _deleted_path(path) + "_tmp"
    write_table(merged, tmp)
    final = _deleted_path(path)
    if os.path.isdir(final):
        shutil.rmtree(final)
    os.rename(tmp, final)
    n_after = spark.read.parquet(final).count()
    return int(n_after - n_before)


def delete_by_docids(spark: SparkSession, path: str, docids: List[int]) -> int:
    """Append an explicit (small, driver-known) docid list to the tombstone
    table; returns total tombstones.  For data-derived deletions use the
    DataFrame paths below — they never materialize ids on the driver."""
    df = spark.createDataFrame([(int(d),) for d in docids], "docid long")
    append_tombstones(spark, path, df)
    return spark.read.parquet(_deleted_path(path)).count()


def delete_by_term(spark: SparkSession, path: str, ix: InvertedIndex,
                   term: str) -> int:
    """delete_by_term (writing.py:309-326): tombstone every doc containing
    the term.  One distributed job; returns the number of docs deleted."""
    matching = ix.postings.where(F.col("term") == term).select("docid")
    return append_tombstones(spark, path, matching)


def delete_by_query(spark: SparkSession, path: str, ix: InvertedIndex,
                    q) -> int:
    """delete_by_query (writing.py:328-344): tombstone every doc matching an
    arbitrary query — evaluated relationally, written without collect."""
    from whoosh_reloaded_spark.query.planner import Searcher

    hits = Searcher(ix)._eval(q.normalize()).select("docid")
    return append_tombstones(spark, path, hits)


def delete_by_uid(spark: SparkSession, path: str, ix: InvertedIndex,
                  uids: List[str]) -> int:
    """Delete by unique key (the update_document precursor,
    writing.py:430-437).  `uids` is a driver-side list of user-supplied keys
    (small); the docid resolution + write stay distributed."""
    matching = ix.docmeta.where(column_in("uid", uids)).select("docid")
    return append_tombstones(spark, path, matching)


def with_deleted(ix: InvertedIndex, deleted: Optional[DataFrame]) -> InvertedIndex:
    """View of the index with tombstoned docs filtered out of every table.

    Global stats are recomputed over live docs (the reference keeps
    doc_count vs doc_count_all distinct; we expose the live view)."""
    if deleted is None:
        return ix
    d = deleted.select("docid")
    return InvertedIndex(
        docmeta=ix.docmeta.join(d, "docid", "left_anti"),
        postings=ix.postings.join(d, "docid", "left_anti"),
        term_stats=term_stats_of(ix.postings.join(d, "docid", "left_anti")),
        stats=None,  # recomputed lazily over live docs
        uid_col=ix.uid_col,
        fieldname=ix.fieldname,
        docs_raw=ix.docs_raw,
    )


def update_documents(spark: SparkSession, root: str, ix: InvertedIndex,
                     new_docs: DataFrame, uid_col: str = "url",
                     text_col: str = "text") -> dict:
    """update_document (writing.py:439-503): delete-by-unique-key then
    append the replacement docs as a new segment (streaming append path).
    The uid match is a semi-join — replacement batches of any size never
    round-trip through the driver."""
    from whoosh_reloaded_spark.streaming.append import append_batch

    keys = new_docs.select(F.col(uid_col).alias("uid")).distinct()
    matching = ix.docmeta.join(keys, "uid", "left_semi").select("docid")
    append_tombstones(spark, root, matching)
    return append_batch(new_docs, root, uid_col=uid_col, text_col=text_col)
