"""Near-real-time index append via Structured Streaming foreachBatch.

The reference has no streaming engine; its NRT conveniences are
BufferedWriter (RAM-buffered appends, writing.py:1078+) and
Searcher.refresh (searching.py:248-271).  The Spark-native equivalent:
a readStream over the incoming corpus (file/kafka source), foreachBatch
building one immutable SEGMENT per micro-batch, manifest rows appended per
batch — so a refreshed Searcher just re-opens the multi-segment index
(open_partitioned) and sees the new docs.  foreachBatch delivery is
at-least-once, so append_batch records the batch_id in the manifest and
skips re-delivered batches — checkpoint + idempotent append = effectively
exactly-once segments; the segment-per-batch layout feeds the same merge
policies (segments.py) as the batch engine — MERGE_SMALL compaction is the
BufferedWriter flush analogue.

Docids for streamed batches: allocated monotonically AFTER the existing
max (insertion order == arrival order, mirroring the reference's
incrementing docnums).  Batch-internal order is uid rank.
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whoosh_reloaded_spark.analysis import StandardAnalyzer
from whoosh_reloaded_spark.index.build import (
    build_index,
    rank_docids,
    release,
    save_index,
)
from whoosh_reloaded_spark.index.checkpoint import _append_manifest, read_manifest


def _next_ids(root: str) -> tuple:
    """(next slice id, next docid) from the manifest."""
    m = read_manifest(root)
    if not m:
        return 0, 0
    next_slice = max(m) + 1
    next_docid = max(r["docid_hi"] for r in m.values())
    return next_slice, next_docid


def append_batch(batch_df: DataFrame, out_root: str,
                 uid_col: str = "url", text_col: str = "text",
                 analyzer: Optional[StandardAnalyzer] = None,
                 batch_id: Optional[int] = None) -> Optional[dict]:
    """Build one segment from a (micro-)batch and record it. Reusable from
    foreachBatch or called directly for incremental batch appends.

    foreachBatch is at-least-once: a batch may be re-delivered after
    append_batch succeeded but before the streaming checkpoint committed.
    Passing the foreachBatch `batch_id` makes the append idempotent — a
    complete manifest row carrying the same batch_id short-circuits the
    re-delivery instead of appending duplicate documents as a new segment.
    """
    if batch_id is not None:
        for row in read_manifest(out_root).values():
            if (
                row.get("batch_id") == batch_id
                and row.get("status") == "complete"
                and os.path.isdir(row.get("segment_path", ""))
            ):
                return row  # already appended; skip re-delivery
    t0 = time.perf_counter()
    # one count sizes the whole commit (and finds an empty batch)
    ranked = rank_docids(batch_df, uid_col)
    try:
        if ranked.n == 0:
            return None
        slice_id, docid_base = _next_ids(out_root)
        docs = ranked.docs.withColumn(
            "docid", F.col("docid") + F.lit(docid_base)
        )
        ix = build_index(
            docs, uid_col=uid_col, text_col=text_col, analyzer=analyzer,
            with_docids=True, num_partitions=ranked.k,
        )
        seg_path = os.path.join(out_root, f"segment_{slice_id:05d}")
        n_postings = save_index(ix, seg_path)
    finally:
        release(ranked.cached)
    n_docs = int(ix.stats["doc_count"])
    row = {
        "slice_id": slice_id,
        "docid_lo": docid_base,
        "docid_hi": docid_base + n_docs,
        "n_docs": n_docs,
        "n_postings": n_postings,
        "segment_path": seg_path,
        "wall_sec": round(time.perf_counter() - t0, 3),
        "status": "complete",
        "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "source": "stream",
    }
    if batch_id is not None:
        row["batch_id"] = batch_id
    _append_manifest(out_root, row)
    return row


def start_index_stream(stream_df: DataFrame, out_root: str,
                       checkpoint_dir: str,
                       uid_col: str = "url", text_col: str = "text",
                       analyzer: Optional[StandardAnalyzer] = None,
                       trigger_once: bool = False):
    """writeStream.foreachBatch(build segment per micro-batch).

    `stream_df` is any streaming DataFrame with the pages shape.  Returns
    the StreamingQuery; caller awaits/stops it.
    """

    def handle(batch_df: DataFrame, batch_id: int):
        append_batch(batch_df, out_root, uid_col, text_col, analyzer,
                     batch_id=batch_id)

    w = (
        stream_df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        w = w.trigger(availableNow=True)
    return w.start()
