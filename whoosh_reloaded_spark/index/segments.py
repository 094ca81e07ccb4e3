"""Segments: multi-segment indexes, merge policies, compaction.

The reference's index is an ordered list of immutable segments tied together
by a TOC (index.py:576); commit-time merge policies NO_MERGE / MERGE_SMALL /
OPTIMIZE choose which segments to rewrite (writing.py:68-130), and merging
re-adds postings from old segments skipping deletions (add_reader,
writing.py:730-746).

Here a segment is an immutable index directory (save_index output) over a
disjoint docid range.  Reading a multi-segment index is a unionByName of the
segment tables (docids are globally unique, so no doc-offset stitching is
needed — cf. MultiReader, reading.py:1003).  Merging is a term-partitioned
re-write of the unioned postings: the shuffle does the reference's k-way
merge sort (externalsort.py:200-223), and Parquet re-sorting by (term,
docid) restores the data-skipping layout.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from whoosh_reloaded_spark.index.build import (
    InvertedIndex,
    load_index,
    partitions_for,
    save_index,
)

NO_MERGE = "no_merge"
MERGE_SMALL = "merge_small"
OPTIMIZE = "optimize"


def load_multi(spark: SparkSession, seg_paths: List[str],
               check_docid_ranges: bool = True) -> InvertedIndex:
    """Open several segments as one logical index (union + stat re-agg).

    PRECONDITION: docids are globally unique across segments — what
    `checkpoint.build_partitioned` produces (disjoint docid ranges per
    slice), mirroring the reference's per-segment doc-offset stitching
    (reading.py MultiReader).  Independently-built indexes each start at
    docid 0 and MUST NOT be combined (scores silently mix documents).
    `check_docid_ranges` guards against that misuse with one cheap
    min/max aggregation per segment (columnar scan of one column) and
    raises on overlap; pass False only for layouts that interleave
    globally-unique non-contiguous docids."""
    assert seg_paths, "no segments"
    parts = [load_index(spark, p) for p in seg_paths]
    if check_docid_ranges and len(parts) > 1:
        spans = []
        for path, p in zip(seg_paths, parts):
            r = p.docmeta.agg(
                F.min("docid").alias("lo"), F.max("docid").alias("hi")
            ).collect()[0]
            if r["lo"] is None or r["hi"] is None:
                continue  # empty segment: no docids, cannot overlap
            spans.append((path, int(r["lo"]), int(r["hi"])))
        spans.sort(key=lambda s: s[1])
        for (pa, _, hi_a), (pb, lo_b, _) in zip(spans, spans[1:]):
            if lo_b <= hi_a:
                raise ValueError(
                    f"segment docid ranges overlap: {pa} ends at {hi_a}, "
                    f"{pb} starts at {lo_b} — segments must carry globally "
                    "unique docids (build them with "
                    "checkpoint.build_partitioned, which slices one global "
                    "docid assignment); combining independently-built "
                    "indexes silently mixes documents"
                )
    # segments saved before `length` moved to docmeta keep it in their
    # postings; beside a newer segment it goes, and docmeta supplies it
    if len({"length" in p.postings.columns for p in parts}) > 1:
        for p in parts:
            p.postings = p.postings.drop("length")
    postings = parts[0].postings
    docmeta = parts[0].docmeta
    for p in parts[1:]:
        postings = postings.unionByName(p.postings)
        docmeta = docmeta.unionByName(p.docmeta)
    # term_stats must be re-aggregated across segments (df/total/max compose)
    ts = parts[0].term_stats
    for p in parts[1:]:
        ts = ts.unionByName(p.term_stats)
    term_stats = ts.groupBy("field", "term").agg(
        F.sum("df").alias("df"),
        F.sum("total_weight").alias("total_weight"),
        F.max("max_weight").alias("max_weight"),
        F.min("min_len_byte").alias("min_len_byte"),
    )
    stats = None
    if all(p.stats for p in parts):
        doc_count = sum(int(p.stats["doc_count"]) for p in parts)
        field_length = sum(int(p.stats["field_length"]) for p in parts)
        stats = {
            "doc_count": doc_count,
            "field_length": field_length,
            "avg_field_length": field_length / doc_count if doc_count else 0.0,
        }
    return InvertedIndex(
        docmeta=docmeta,
        postings=postings,
        term_stats=term_stats,
        stats=stats,
        uid_col=parts[0].uid_col,
        fieldname=parts[0].fieldname,
        # a segment with stored weights (saved before format version 3, or
        # boosted) keeps them stored in a merge
        _weight_is_tf=all(p._weight_is_tf for p in parts),
    )


def merge_segments(spark: SparkSession, seg_paths: List[str], out_path: str,
                   term_partitions: int = 0) -> InvertedIndex:
    """Compact segments into one (OPTIMIZE): union -> rewrite, with the
    postings re-sorted by (term, docid) over the merged doc order, in as
    many postings files as a build of the merged doc count
    (:func:`partitions_for`).  The merged docmeta, exact lengths
    included, is written as it is; the merged postings hold no
    ``length``, also when old-layout segments had one.  They store no
    ``weight`` when no segment stores one (see :func:`load_multi`)."""
    merged = load_multi(spark, seg_paths)
    if term_partitions <= 0:
        term_partitions = partitions_for(spark, merged.doc_count())
    save_index(merged, out_path, term_partitions)
    return load_index(spark, out_path)


def pick_merge(seg_sizes: dict, policy: str = MERGE_SMALL) -> List[str]:
    """Which segments to fold into the next commit (writing.py:74-109
    MERGE_SMALL heuristic: fold runs of small segments, fibonacci-ish —
    here: merge every segment smaller than the mean of the larger half)."""
    if policy == NO_MERGE or len(seg_sizes) <= 1:
        return []
    if policy == OPTIMIZE:
        return list(seg_sizes)
    sizes = sorted(seg_sizes.items(), key=lambda kv: kv[1])
    half = [s for _, s in sizes[len(sizes) // 2:]]
    cutoff = (sum(half) / len(half)) / 2 if half else 0
    small = [k for k, s in sizes if s <= cutoff]
    return small if len(small) > 1 else []
