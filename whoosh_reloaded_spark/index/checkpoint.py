"""Resumable partitioned index builds with per-slice lineage + metrics.

North-rule requirement: builds resume from per-partition checkpoints, with
lineage and build metrics recorded per segment.

The corpus is docid-range sliced (docids are the deterministic global uid
rank, so slice boundaries are reproducible across runs).  Each slice builds
an independent immutable segment directory; a JSON-lines manifest records
one row per slice:

    {"slice_id", "docid_lo", "docid_hi", "n_docs", "n_postings",
     "segment_path", "wall_sec", "status", "finished_at"}

Re-running the build skips every slice whose manifest row is `complete` and
whose segment directory still exists — a killed build resumes exactly where
it stopped, and the final multi-segment index is identical to a single-shot
build (tested in tests/test_checkpoint.py).

At 100 TB each slice is a bounded unit of work (retry-able, schedulable);
the manifest doubles as the build's lineage record.
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whoosh_reloaded_spark.analysis import StandardAnalyzer
from whoosh_reloaded_spark.index.build import (
    InvertedIndex,
    build_index,
    partitions_for,
    rank_docids,
    release,
    save_index,
)
from whoosh_reloaded_spark.index.segments import load_multi


def _manifest_path(root: str) -> str:
    return os.path.join(root, "build_manifest.jsonl")


def read_manifest(root: str) -> dict:
    """slice_id -> latest manifest row."""
    out = {}
    p = _manifest_path(root)
    if os.path.exists(p):
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line:
                    row = json.loads(line)
                    out[row["slice_id"]] = row
    return out


def _append_manifest(root: str, row: dict) -> None:
    os.makedirs(root, exist_ok=True)
    with open(_manifest_path(root), "a") as f:
        f.write(json.dumps(row) + "\n")


def build_partitioned(
    corpus: DataFrame,
    out_root: str,
    n_slices: int = 4,
    uid_col: str = "url",
    text_col: str = "text",
    analyzer: Optional[StandardAnalyzer] = None,
    resume: bool = True,
    max_slices: Optional[int] = None,
    on_slice_done: Optional[Callable[[dict], None]] = None,
) -> List[str]:
    """Build the index as n_slices segments, resumably.

    Returns the list of completed segment paths (all of them when the build
    finished; a prefix if `max_slices` cut it short — used by tests to
    simulate a killed build).
    """
    spark = corpus.sparkSession
    ranked = rank_docids(corpus, uid_col)
    docs, n_docs_total = ranked.docs, ranked.n
    slice_size = (n_docs_total + n_slices - 1) // n_slices

    manifest = read_manifest(out_root) if resume else {}
    done_paths: List[str] = []
    built = 0
    try:
        for s in range(n_slices):
            lo, hi = s * slice_size, min((s + 1) * slice_size, n_docs_total)
            seg_path = os.path.join(out_root, f"segment_{s:05d}")
            row = manifest.get(s)
            if (
                resume
                and row
                and row.get("status") == "complete"
                and os.path.isdir(seg_path)
            ):
                done_paths.append(seg_path)
                continue
            if max_slices is not None and built >= max_slices:
                break
            t0 = time.perf_counter()
            part = docs.where((F.col("docid") >= lo) & (F.col("docid") < hi))
            # a slice is sized by its own row count; its docid range covers
            # only a few of the ranked frame's uid-range partitions, so it
            # is respread over its k
            k = partitions_for(spark, hi - lo)
            part = part.coalesce(1) if k == 1 else part.repartition(k)
            ix = build_index(
                part,
                uid_col=uid_col,
                text_col=text_col,
                analyzer=analyzer,
                with_docids=True,
                num_partitions=k,
            )
            n_postings = save_index(ix, seg_path)
            wall = time.perf_counter() - t0
            mrow = {
                "slice_id": s,
                "docid_lo": lo,
                "docid_hi": hi,
                "n_docs": int(ix.stats["doc_count"]),
                "n_postings": n_postings,
                "segment_path": seg_path,
                "wall_sec": round(wall, 3),
                "status": "complete",
                "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
            _append_manifest(out_root, mrow)
            if on_slice_done:
                on_slice_done(mrow)
            done_paths.append(seg_path)
            built += 1
    finally:
        release(ranked.cached)
    return done_paths


def open_partitioned(spark: SparkSession, out_root: str) -> InvertedIndex:
    """Open all complete segments under out_root as one logical index."""
    manifest = read_manifest(out_root)
    paths = [
        r["segment_path"]
        for _, r in sorted(manifest.items())
        if r.get("status") == "complete" and os.path.isdir(r["segment_path"])
    ]
    return load_multi(spark, paths)
