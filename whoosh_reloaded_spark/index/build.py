"""Index build: corpus DataFrame -> postings/docmeta/term_stats tables.

The reference's build path (writer.add_document -> PostingPool external sort
-> W3FieldWriter posting blocks; src/whoosh/writing.py:748-822,
codec/whoosh3.py:301-373) is re-expressed as ONE declarative Spark pipeline:

    corpus --assign docids--> analyze+invert per doc (ONE mapInArrow pass:
    tokenize, group, position-sort in Python — no engine-level groupBy
    shuffle) --> flat posting rows, persisted once --term-range shuffle-->
    written postings; docmeta and the global stats derive from the
    persisted rows, term_stats from the WRITTEN columnar postings (cheap
    re-reads).  A doc's exact length is kept once, in docmeta; the
    written postings do not repeat it.

The single term-range shuffle replaces the reference's PostingPool external
merge sort (externalsort.py:85-223); a Parquet/Iceberg snapshot commit
replaces the TOC generation file (index.py:576).  Segments are directories
of term-range sorted parquet; merging segments is a `unionByName` +
re-aggregation (see segments.py), mirroring writing.py:730-746 add_reader.

Scale notes (100 TB design):
- every build is sized by its row count: the input is persisted and
  counted once, and the docid ranking, the analysis pass and the postings
  write all run in ``k = min(parallelism, ceil(rows / ROWS_PER_TASK))``
  partitions (see :data:`ROWS_PER_TASK`), so a small commit pays for one
  Python task, not one per core.
- docid assignment is the only global ordering step.  With one partition
  the docid is the row index of the uid-sorted partition; with more it is
  a range-partitioned two-phase rank (per-partition counts -> offsets ->
  offset + row index), with no Window and no join.  See
  :func:`rank_docids`.
- postings are written repartitionByRange(term) + sortWithinPartitions(term,
  docid): parquet min/max page stats then give term-dictionary pruning for
  query-time `term IN (...)` filters (the reference's ordered term hash file,
  filedb/filetables.py:444-476, falls out of columnar storage).
- all aggregations are partial-aggregate friendly (sum/count/max) => map-side
  combine bounds shuffle volume by distinct keys, not input rows.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Dict, List, NamedTuple, Optional

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from whoosh_reloaded_spark.analysis import StandardAnalyzer

DEFAULT_FIELD = "text"


@dataclass
class InvertedIndex:
    """The four tables that make up an index (cf. the reference's segment
    files .trm/.pst/.col, docs/source/tech/filedb.rst:8-28).

    A doc's exact field length is a docmeta column: saved postings do not
    carry it.  The postings of an unsaved :func:`build_index` result, and
    of indexes saved before format version 2, still have a ``length``
    column, which the planner then reads in place of a docmeta join.

    ``weight`` is always a postings column, but from format version 3 it
    is stored only where it is not ``tf``: a postings table saved without
    ``weight`` has ``weight = CAST(tf AS DOUBLE)`` (see
    :func:`weight_from_tf`)."""

    docmeta: DataFrame      # docid, uid, length, len_byte [, stored cols]
    postings: DataFrame     # field, term, docid, weight, tf, positions,
    #                         len_byte [, length: see above]
    term_stats: DataFrame   # field, term, df, total_weight, max_weight
    stats: Optional[Dict[str, float]]  # doc_count, field_length, avg_field_length
    uid_col: str = "url"
    fieldname: str = DEFAULT_FIELD
    docs_raw: Optional[DataFrame] = None  # docid, uid [, stored] — no UDF lineage
    # set by build_index for save_index: the partition count the build was
    # sized to (0: not sized) and the frames it persisted, which save_index
    # releases
    _partitions: int = field(default=0, repr=False, compare=False)
    _cached: List[DataFrame] = field(default_factory=list, repr=False,
                                     compare=False)
    # every posting's weight is its tf, so save_index stores no `weight`:
    # set by build_index for a boost-less build, by load_index for postings
    # saved without `weight`, and by load_multi when all its segments are
    _weight_is_tf: bool = field(default=False, repr=False, compare=False)

    # -- Index-object convenience surface (reference index.py Index class)

    def searcher(self, weighting=None):
        """A Searcher over this index (Index.searcher)."""
        from whoosh_reloaded_spark.query.planner import Searcher

        return Searcher(self, weighting)

    def doc_count(self) -> int:
        return int(self.ensure_stats()["doc_count"])

    def doc_count_all(self) -> int:
        """Tombstones are applied at load, so live == all for this
        snapshot (see Searcher.doc_count_all)."""
        return self.doc_count()

    def is_empty(self) -> bool:
        return self.doc_count() == 0

    def field_length(self, fieldname: Optional[str] = None) -> int:
        return int(self.ensure_stats()["field_length"])

    def reader(self) -> "InvertedIndex":
        return self  # the table bundle IS the reader analogue

    def refresh(self) -> "InvertedIndex":
        return self  # immutable snapshot

    def up_to_date(self) -> bool:
        return True

    def close(self) -> None:
        self.is_closed = True

    def ensure_stats(self) -> Dict[str, float]:
        """Global aggregates, computed lazily so the build pipeline runs only
        once (searching.py:277-280 computes avgfl the same way: exact)."""
        if self.stats is None:
            g = self.docmeta.agg(
                F.count(F.lit(1)).alias("doc_count"),
                F.sum("length").alias("field_length"),
            ).collect()[0]
            doc_count = int(g["doc_count"])
            field_length = int(g["field_length"] or 0)
            self.stats = {
                "doc_count": doc_count,
                "field_length": field_length,
                "avg_field_length": (field_length / doc_count) if doc_count else 0.0,
            }
        return self.stats

    def persist(self) -> "InvertedIndex":
        self.docmeta.persist()
        self.postings.persist()
        self.term_stats.persist()
        return self

    def unpersist(self) -> "InvertedIndex":
        for df in (self.docmeta, self.postings, self.term_stats):
            df.unpersist()
        return self


#: rows per partition of a build.  Every Python task of the analysis pass
#: pays a fixed crossing cost (worker hand-off, Arrow batch set-up,
#: scheduling) whatever its size.  Measured on a 4-core host (local[4],
#: cached input, no-op sink, median of 4): over 200 docs an identity
#: ``mapInArrow`` took 1,241 / 357 / 329 ms in 16 / 4 / 1 partitions and
#: the inverter 1,451 / 393 / 368 ms — about 300 ms of core time per extra
#: task; over 4,000 docs the inverter took 1,594 / 523 / 945 ms.  At 1,000
#: rows a task, a 200-600 doc commit runs as one task and a 4,000-doc build
#: on 4 cores keeps 4 tasks and 4 postings files (fewer files would halve
#: the file-level min/max pruning that term lookups get).
ROWS_PER_TASK = 1000


def partitions_for(spark: SparkSession, rows: int) -> int:
    """The one sizing rule: ``min(parallelism, ceil(rows / ROWS_PER_TASK))``,
    at least 1."""
    want = -(-rows // ROWS_PER_TASK)
    return max(1, min(spark.sparkContext.defaultParallelism, want))


def _is_cached(df: DataFrame) -> bool:
    held = df.storageLevel
    return held.useMemory or held.useDisk


def _persist(df: DataFrame, cached: List[DataFrame]) -> DataFrame:
    """Persist `df` (spill-safe) unless its plan is already cached, and
    record it in `cached` only when this call cached it — a caller's cache
    is never released by :func:`release`."""
    if not _is_cached(df):
        df.persist(StorageLevel.MEMORY_AND_DISK)
        cached.append(df)
    return df


def release(cached: List[DataFrame]) -> None:
    """Unpersist the frames a build persisted (see :func:`_persist`)."""
    while cached:
        cached.pop().unpersist()


class RankedDocs(NamedTuple):
    docs: DataFrame            # the input plus a bigint ``docid`` column
    n: int                     # input rows
    k: int                     # partitions of ``docs``
    cached: List[DataFrame]    # frames persisted here; see release()


def rank_docids(df: DataFrame, uid_col: str,
                num_partitions: int = 0) -> RankedDocs:
    """Deterministic dense docid = global rank of `uid_col` (0-based).

    Docids define BM25 tie-break order and must match the reference's
    insertion-order docnums (documents added in uid order), so they must be
    stable across runs (FIXTURES.md §5 'build determinism').

    The input is persisted and counted once; that count sizes the ranking
    to ``k = num_partitions`` or, by default, :func:`partitions_for`.

    - ``k == 1``: the input is coalesced to one partition and sorted by
      uid, and the docid is the row index (``monotonically_increasing_id``
      of partition 0) — no exchange, no boundary sampling, no second count.
    - ``k > 1``: a two-phase rank with no Window and no join: range-partition
      by uid and sort within partitions, count rows per partition (a small
      job) -> cumulative offsets, docid = offset[partition] + row index.
      The range-sorted frame is persisted so both phases observe identical
      range boundaries (repartitionByRange samples its boundaries); once it
      is counted the input's cache is released.  The docid is a projection
      over that cached scan: the offsets are one SQL array literal indexed
      by partition id, and the row index is ``monotonically_increasing_id()``
      minus its partition bits (the id is ``partition << 33 | row``), so
      the docid frame needs no exchange and keeps the cached partitioning.
      A row past its partition's count raises: the frame was recomputed
      after its cache went, with other boundaries, and the offsets no
      longer hold.

    On a real cluster/Iceberg deployment the sort order would be a table
    property and boundaries computed once from a deterministic sample.
    """
    spark = df.sparkSession
    cached: List[DataFrame] = []
    src = _persist(df, cached)
    own_input = bool(cached)
    n = src.count()
    k = num_partitions if num_partitions > 0 else partitions_for(spark, n)
    if k == 1:
        docs = (
            src.coalesce(1)
            .sortWithinPartitions(uid_col)
            .withColumn("docid", F.monotonically_increasing_id())
        )
        return RankedDocs(docs, n, 1, cached)
    part = _persist(
        src.repartitionByRange(k, F.col(uid_col))
        .sortWithinPartitions(uid_col)
        .withColumn("_pid", F.spark_partition_id()),
        cached,
    )
    counts = {
        int(r["_pid"]): int(r["count"])
        for r in part.groupBy("_pid").count().collect()
    }
    if own_input:
        # `part` is materialized; the input is not read again
        cached.pop(0).unpersist()
    # dense over every partition id up to the last non-empty one (empty
    # partitions have no rows to look their offset up); one entry minimum
    # so the literal is typed even for an empty input
    offsets, sizes, acc = [], [], 0
    for pid in range(max(counts, default=0) + 1):
        offsets.append(acc)
        sizes.append(counts.get(pid, 0))
        acc += sizes[-1]
    offsets_sql = "array(" + ", ".join(f"{o}L" for o in offsets) + ")"
    sizes_sql = "array(" + ", ".join(f"{c}L" for c in sizes) + ")"

    # the offsets hold only for the cached boundaries: if `part` is ever
    # recomputed (its cache released, a block lost) the boundaries are
    # sampled again, and some partition then holds more rows than it was
    # counted with — fail there instead of handing out duplicate docids
    docs = (
        part.withColumn(
            "_row",
            F.expr(
                "monotonically_increasing_id()"
                " - shiftleft(CAST(_pid AS BIGINT), 33)"
            ),
        )
        .withColumn(
            "docid",
            F.expr(
                f"if(_row < element_at({sizes_sql}, _pid + 1),"
                f" element_at({offsets_sql}, _pid + 1) + _row,"
                " raise_error('docid ranking recomputed with other range"
                " boundaries; rank the documents again'))"
            ),
        )
        .drop("_pid", "_row")
    )
    return RankedDocs(docs, n, k, cached)


def assign_docids(df: DataFrame, uid_col: str, num_partitions: int = 0) -> DataFrame:
    """The docid frame of :func:`rank_docids`: `df` plus a dense ``docid``
    in uid order, in ``num_partitions`` partitions or, by default, as many
    as :func:`partitions_for` gives its row count.  The frames it reads
    from stay persisted; :func:`rank_docids` returns them for release."""
    return rank_docids(df, uid_col, num_partitions).docs


def weight_from_tf(postings: DataFrame) -> DataFrame:
    """Postings saved without ``weight`` (every weight was its tf) with
    ``weight = CAST(tf AS DOUBLE)`` back in its place before ``tf``: the
    value a boost-less build computes, bit for bit.  A scan that reads
    ``weight`` reads ``tf``."""
    cols = postings.columns
    at = cols.index("tf")
    return postings.select(
        *cols[:at], F.col("tf").cast("double").alias("weight"), *cols[at:]
    )


def term_stats_of(postings: DataFrame) -> DataFrame:
    """The term_stats table of a postings frame: per (field, term) the df,
    the total and max weight and the shortest doc's length byte — the
    TermInfo the reference keeps per term (codec/whoosh3.py:1179-1188)."""
    return postings.groupBy("field", "term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("weight").alias("total_weight"),
        F.max("weight").alias("max_weight"),
        F.min("len_byte").alias("min_len_byte"),
    )


def build_index(
    corpus: DataFrame,
    uid_col: str = "url",
    text_col: str = "text",
    fieldname: str = DEFAULT_FIELD,
    analyzer: Optional[StandardAnalyzer] = None,
    stored_cols: Optional[List[str]] = None,
    field_boost: float = 1.0,
    num_partitions: int = 0,
    with_docids: bool = False,
    format: str = "positions",
    store_vector: bool = False,
    boost_delim: Optional[str] = None,
) -> InvertedIndex:
    """Run the index-build job. Everything is lazy until persisted/written.

    Posting weight = sum(token boosts) * field_boost (the reference's
    Frequency/Positions formats sum per-token boosts, formats.py:190-236;
    boost-emitting analyzers like DelimitedBoostAnalyzer feed the sum).
    Without boosts — the StandardAnalyzer, no ``boost_delim``,
    ``field_boost`` 1.0 and a format other than position_boosts and
    character_boosts; or the existence format at ``field_boost`` 1.0 —
    every weight is its tf, and :func:`save_index` does not store it.

    ``format`` mirrors the reference's posting formats (formats.py:109-330):
    - "positions" (default, TEXT fields): per-occurrence position arrays —
      required by Phrase/Ordered/Span queries;
    - "frequency" (KEYWORD-style): drops the position payload (the bulk of
      posting bytes at scale); BM25 scores are unchanged;
    - "existence" (ID-style): one constant-weight posting per (term, doc),
      tf forced to 1 — the docs-only membership format;
    - "position_boosts" (formats.py:345-408): adds a per-occurrence
      ``pos_boosts`` array parallel to ``positions`` (boosts from 3-tuple
      generic analyzers, ``boost_delim``, or 1.0);
    - "characters" (formats.py:273-330): adds ``startchars``/``endchars``
      arrays parallel to ``positions`` (StandardAnalyzer-family only);
    - "character_boosts" (formats.py:411-470): both of the above.

    ``boost_delim`` is the DelimitedAttributeFilter equivalent for the
    StandardAnalyzer ('render^2' → token 'render' at boost 2.0, endchar
    trimmed) under every format; pair it with a pattern that keeps the
    delimiter in the token.  Other analyzers raise ``TypeError`` (wrap
    them in DelimitedBoostAnalyzer instead).

    ``num_partitions`` is the partition count ``k`` of the docid ranking,
    the analysis pass and, through :func:`save_index`, the postings files;
    0 sizes it from the input's row count (:func:`partitions_for`), which
    is counted once.  A ``with_docids`` frame keeps its docids; with
    ``num_partitions`` set it is taken as already sized, otherwise it is
    respread when it has fewer than ``k`` partitions, or more than one
    when ``k`` is 1.
    """
    from whoosh_reloaded_spark.analysis import (
        invert_rows_schema,
        make_invert_rows,
    )

    if format not in ("positions", "frequency", "existence",
                      "position_boosts", "characters", "character_boosts"):
        raise ValueError(f"unknown posting format: {format!r}")
    with_boosts = format in ("position_boosts", "character_boosts")
    with_chars = format in ("characters", "character_boosts")
    # the StandardAnalyzer emits no token boosts (wsum == tf, see
    # make_invert_rows); an existence posting has tf 1 and weight boost
    weight_is_tf = field_boost == 1.0 and (
        format == "existence"
        or (
            not with_boosts and boost_delim is None
            and (analyzer is None or isinstance(analyzer, StandardAnalyzer))
        )
    )
    run = make_invert_rows(analyzer, with_boosts, with_chars, boost_delim)
    extra_cols = ["pos_boosts"] if with_boosts else []
    if with_chars:
        extra_cols += ["startchars", "endchars"]
    # dedup so text_col may ALSO be a stored col (TEXT(stored=True) in the
    # reference, fields.py — lets Hit.highlights read the source text from
    # docmeta instead of requiring an explicit text argument)
    keep_cols = list(dict.fromkeys([uid_col, text_col] + list(stored_cols or [])))
    spark = corpus.sparkSession
    if with_docids:
        docs = corpus.select("docid", *keep_cols)
        cached: List[DataFrame] = []
        k = num_partitions
    else:
        docs, _, k, cached = rank_docids(
            corpus.select(*keep_cols), uid_col, num_partitions
        )

    # analyze + invert per doc in ONE mapInArrow pass emitting FLAT posting
    # rows — no engine-level groupBy shuffle, no nested Arrow structs;
    # positions are grouped and ordered during analysis
    src = docs.select("docid", F.col(text_col).alias("text"))
    if k <= 0:
        # an unsized caller frame: the same rule as rank_docids, so a small
        # input runs in one task and a large one in no fewer than k.  The
        # partition count is read from the persisted plan, with no job.
        k = partitions_for(spark, _persist(docs, cached).count())
        have = src.rdd.getNumPartitions()
        if k == 1 and have > 1:
            src = src.coalesce(1)
        elif have < k:
            src = src.repartition(k)
    raw = src.mapInArrow(run, invert_rows_schema(with_boosts, with_chars))
    postings = raw.select(
        F.lit(fieldname).alias("field"),
        "term",
        "docid",
        # wsum = sum of per-token boosts (== tf for boost-less analyzers);
        # Format.word_values semantics, formats.py:190-236
        (F.col("wsum") * F.lit(field_boost)).cast("double").alias("weight"),
        "tf",
        "positions",
        "length",
        "len_byte",  # quantized in the UDF (bisect per doc, not per row)
        *extra_cols,
    )
    if format == "frequency":
        postings = postings.drop("positions")
    elif format == "existence":
        postings = postings.drop("positions").withColumn(
            "weight", F.lit(float(field_boost))
        ).withColumn("tf", F.lit(1))
    meta_cols = [
        c for c in keep_cols
        if c != uid_col and (c != text_col or c in (stored_cols or []))
    ]
    docs_raw_inner = docs.select(
        "docid", F.col(uid_col).alias("uid"), *meta_cols
    )
    doclen = postings.groupBy("docid").agg(
        F.max("length").alias("length"), F.max("len_byte").alias("len_byte")
    )
    docmeta = (
        docs_raw_inner.join(doclen, "docid", "left")
        .na.fill({"length": 0, "len_byte": 0})
    )
    if store_vector:
        # term vectors: the forward index doc -> {term: weight}
        # (FieldType.vector, fields.py:93-96; written whoosh3.py:245-267) —
        # a docmeta map column, derived from the same posting rows
        vec = postings.groupBy("docid").agg(
            F.map_from_arrays(
                F.collect_list("term"), F.collect_list("weight")
            ).alias("vector")
        )
        docmeta = docmeta.join(vec, "docid", "left")

    term_stats = term_stats_of(postings)

    docs_raw = docs.select(
        "docid", F.col(uid_col).alias("uid"), *meta_cols
    )
    return InvertedIndex(
        docmeta=docmeta,
        postings=postings,
        term_stats=term_stats,
        stats=None,  # computed lazily (ensure_stats) — build stays one pass
        uid_col="uid",
        fieldname=fieldname,
        docs_raw=docs_raw,
        _partitions=k,
        _cached=cached,
        _weight_is_tf=weight_is_tf,
    )


#: parquet writer options of every index table.  zstd pages; v2 data
#: pages, whose non-dictionary encodings are the delta ones; and no
#: dictionary for ``docid``, which parquet then stores
#: DELTA_BINARY_PACKED — the reference's delta-coded posting docids
#: (whoosh3.py:714-876).  A column of unique sorted strings
#: (``term_stats.term``, ``docmeta.uid``) outgrows its dictionary and
#: falls back to DELTA_BYTE_ARRAY, the prefix coding of the reference's
#: term dictionary.  Readers decode any encoding, so indexes written
#: with Spark's defaults (snappy, v1 pages, dictionary docids) still load.
_TABLE_WRITE_OPTIONS = {
    "compression": "zstd",
    "parquet.writer.version": "v2",
    "parquet.enable.dictionary#docid": "false",
}


def write_table(df: DataFrame, path: str) -> None:
    """Write one index table (postings, docmeta, term_stats, tombstones)
    as parquet with :data:`_TABLE_WRITE_OPTIONS`, replacing `path`."""
    df.write.mode("overwrite").options(**_TABLE_WRITE_OPTIONS).parquet(path)


def save_index(ix: InvertedIndex, path: str, term_partitions: int = 0,
               compress_positions: bool = False,
               codec: str = None) -> int:
    """Write the index as term-sorted parquet (segment commit ≙ TOC write).

    ONE heavy pipeline: the analyze+invert UDF pass is persisted
    (spill-safe) as it streams into the term-range-partitioned postings
    write (a single shuffle), as the reference's PostingPool sort feeds
    its field writer in one pass (writing.py:748-822).  docmeta and the
    global stats derive from the persisted rows, whose exact per-doc
    ``length`` the written postings drop (docmeta keeps it once, as the
    reference keeps one length per doc, codec/whoosh3.py:234-242);
    term_stats derives from the WRITTEN columnar postings (a cheap
    re-read).  Tokenization runs exactly once per save.  An index without
    a raw doc frame (a merge) writes its docmeta as it is.  Postings
    sorted by (term, docid): parquet min/max stats give term-dictionary
    data skipping at query time.  stats.json records the three tables'
    schemas, which :func:`load_index` passes to the reader.  When every
    posting's weight is its tf (``ix._weight_is_tf``: a boost-less build,
    or a load or merge of postings stored that way) the postings store no
    ``weight`` column, and readers derive it (:func:`weight_from_tf`).

    ``term_partitions`` (postings files) defaults to the partition count
    :func:`build_index` sized the index to, else the default parallelism.
    One file is written from one sorted partition that the analysis pass
    streams into, in one task; more files go through a range-partitioned
    write of the persisted rows.
    Every frame the build persisted is released when the save ends, also
    when it fails.  Returns the number of postings rows written, observed
    on the write itself.
    """
    import time as _time

    _timing = bool(os.environ.get("WRS_BUILD_TIMING"))
    _t0 = _time.perf_counter()

    def _mark(label: str) -> None:
        nonlocal _t0
        if _timing:
            now = _time.perf_counter()
            import sys as _sys

            print(f"[build-timing] {label}: {now - _t0:.3f}s", file=_sys.stderr)
            _t0 = now

    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import Observation
    from pyspark.util import inheritable_thread_target

    spark = ix.postings.sparkSession
    if term_partitions <= 0:
        term_partitions = ix._partitions or spark.sparkContext.defaultParallelism
    cached = ix._cached
    try:
        to_write = ix.postings
        # position codec selection (codecs.py): `codec` names a registered
        # codec, 'raw' by default; compress_positions=True is the
        # back-compat alias for 'varint' (the reference's delta+varint
        # payload encoding, whoosh3.py:844-850 — larger at rest than
        # 'raw', whose array<int> parquet encodes and compresses better,
        # and its chained Python stage costs build throughput at high
        # core counts: 1M docs 14.4k -> 7.9k docs/s at 32 cores).
        # 'jvmdelta' delta-encodes JVM-side at ~no build cost.
        if codec is None:
            codec = "varint" if compress_positions else "raw"
        if codec != "raw" and "positions" in to_write.columns:
            from whoosh_reloaded_spark.index.codecs import get_codec

            encode, _ = get_codec(codec)
            to_write = to_write.withColumn(
                "positions", encode(F.col("positions"))
            )
        # the analyze+invert UDF pass materializes ONCE into a spill-safe
        # cache (guide §5 persist vs recompute): the postings write and
        # the docmeta lengths both read it, and repartitionByRange would
        # otherwise execute the whole UDF pipeline TWICE (range-boundary
        # sampling + the real pass)
        to_write = _persist(to_write, cached)
        if term_partitions == 1:
            # one sorted partition: nothing samples range boundaries, so
            # the analysis pass streams into the cache and the write
            ranged = to_write.coalesce(1)
        else:
            # the cheap cache re-read pays for the sampling, the
            # term-range shuffle and the (term, docid) sort
            ranged = to_write.repartitionByRange(
                term_partitions, "term", "docid"
            )
            if _timing:
                # timing-only split point: materialize the cache now so
                # the UDF pass and the shuffle/write show as separate
                # phases
                to_write.count()
                _mark("UDF pass (cache materialization)")
        # term first: saved-index layouts keep the historical column
        # order.  A doc's exact `length` is not repeated in each of its
        # postings: docmeta holds it once (the reference keeps one length
        # per doc, codec/whoosh3.py:234-242).  Nor is a weight that is its
        # tf (the reference stores no weight a posting's frequency gives,
        # formats.py:190-236)
        derived = ("term", "length") + (
            ("weight",) if ix._weight_is_tf else ()
        )
        out_cols = ["term"] + [
            c for c in to_write.columns if c not in derived
        ]
        # observed above the range exchange, like the docmeta stats below,
        # so the boundary-sampling pass cannot count rows twice
        obs_postings = Observation("wrs_postings_rows")
        out = ranged.sortWithinPartitions("term", "docid").select(*out_cols)
        schemas = {"postings": _read_schema(out)}
        write_table(
            out.observe(obs_postings, F.count(F.lit(1)).alias("rows")),
            f"{path}/postings",
        )
        _mark("postings write (range sort)")
        wp = _read_table(spark, f"{path}/postings", schemas["postings"])
        if ix._weight_is_tf:
            wp = weight_from_tf(wp)

        def _write_term_stats():
            ts = (
                term_stats_of(wp).repartitionByRange(
                    max(1, term_partitions // 4), "term"
                )
                .sortWithinPartitions("term")
            )
            write_table(ts, f"{path}/term_stats")
            return _read_schema(ts)

        def _write_docmeta():
            if ix.docs_raw is not None:
                # docmeta without re-running the UDF: uid/stored from the
                # raw doc frame, lengths from the cached analysis rows (0
                # for token-less docs)
                doclen = to_write.groupBy("docid").agg(
                    F.max("length").alias("length"),
                    F.max("len_byte").alias("len_byte"),
                )
                docmeta = (
                    ix.docs_raw.join(doclen, "docid", "left")
                    .na.fill({"length": 0, "len_byte": 0})
                )
            else:
                docmeta = ix.docmeta
            # global stats ride along with the write as observed metrics —
            # no separate stats job afterwards.  The CollectMetrics node
            # sits ABOVE the range exchange, so the boundary-sampling
            # pass (which executes only the exchange's child) cannot
            # double-count the rows.
            obs = Observation("wrs_docmeta_stats")
            dm = docmeta.repartitionByRange(
                max(1, term_partitions // 4), "docid"
            ).sortWithinPartitions("docid")
            write_table(
                dm.observe(
                    obs,
                    F.count(F.lit(1)).alias("doc_count"),
                    F.coalesce(F.sum("length"), F.lit(0)).alias(
                        "field_length"
                    ),
                ),
                f"{path}/docmeta",
            )
            return obs.get, _read_schema(dm)

        # the derived tables are independent jobs over the written
        # postings — run them from a 2-thread pool so the second job's
        # tasks back-fill executors the first job's tail leaves idle
        # (guide §2.6 overlap-independent-jobs).  The wrapped targets
        # inherit the caller's local properties and tags, so their jobs
        # stay in the caller's job group.
        inherit = inheritable_thread_target(spark)
        with ThreadPoolExecutor(max_workers=2) as pool:
            fut_ts = pool.submit(inherit(_write_term_stats))
            fut_dm = pool.submit(inherit(_write_docmeta))
            schemas["term_stats"] = fut_ts.result()
            obs_stats, schemas["docmeta"] = fut_dm.result()
        _mark("derived writes (term_stats + docmeta, overlapped)")
    finally:
        release(cached)
    doc_count = int(obs_stats["doc_count"])
    field_length = int(obs_stats["field_length"])
    stats = {
        "doc_count": doc_count,
        "field_length": field_length,
        "avg_field_length": (field_length / doc_count) if doc_count else 0.0,
    }
    _mark("global stats")
    ix.stats = stats
    stats_path = os.path.join(path, "stats.json")
    os.makedirs(path, exist_ok=True)
    with open(stats_path, "w") as f:
        json.dump(
            {"stats": stats, "uid_col": ix.uid_col,
             "fieldname": ix.fieldname, "codec": codec,
             "format_version": FORMAT_VERSION, "schemas": schemas}, f
        )
    return int(obs_postings.get["rows"])


#: on-disk layout version recorded in stats.json (index.version_in
#: analogue; the reference tracks _CURRENT_TOC_VERSION in its TOC).
#: 2: postings hold no per-posting ``length`` (docmeta keeps it) and
#: stats.json records the tables' schemas.  3: postings whose every
#: weight is its tf store no ``weight`` (see :func:`weight_from_tf`).
#: Version 1 and 2 indexes still load.
FORMAT_VERSION = 3


def exists_in(path: str) -> bool:
    """True when `path` holds a saved index (reference index.exists_in:
    checks for the TOC; here the stats.json + postings dir)."""
    return os.path.isfile(os.path.join(path, "stats.json")) and os.path.isdir(
        os.path.join(path, "postings")
    )


def version_in(path: str):
    """(library_name, format_version) of the saved index (reference
    index.version_in returns (release, format) from the TOC)."""
    with open(os.path.join(path, "stats.json")) as f:
        meta = json.load(f)
    return ("whoosh_reloaded_spark", int(meta.get("format_version", 0)))


def last_modified(path: str) -> float:
    """Commit time of the index snapshot (Index.last_modified): the
    stats.json mtime — it is written last in save_index, after every
    parquet table, so it timestamps the commit."""
    return os.path.getmtime(os.path.join(path, "stats.json"))


#: reader granularity: ~bytes of parquet per scan partition for SMALL
#: tables.  Spark's file-split planner targets `minPartitionNum` (=
#: default parallelism) partitions regardless of size, so a few-MB
#: segment scans as 32 near-empty partitions and every query stage pays
#: 32 tasks of scheduling for microseconds of work.  Coalescing the read
#: to ceil(bytes / this) partitions cut the aggregation-query latency
#: 30-40% at sf1.0 (round-6 measurement: q2_or3 0.38 -> 0.26 p50 at 8
#: partitions).  Size-driven, not core-count-driven: once a table
#: exceeds parallelism * this, coalesce(want >= natural) is a no-op and
#: the natural (maxPartitionBytes) splits rule — at cluster scale this
#: changes nothing.
READ_PARTITION_BYTES = 16 << 20


def _parquet_dir_bytes(path: str) -> int:
    total = 0
    try:
        for root, _, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    total += os.path.getsize(os.path.join(root, f))
    except OSError:
        return 0
    return total


def _read_schema(df: DataFrame) -> str:
    """The schema, as JSON, that the parquet reader infers for `df` once
    written: every column nullable, as file sources read them."""
    return df._jdf.schema().asNullable().json()


def _read_table(spark: SparkSession, path: str,
                schema: Optional[str] = None) -> DataFrame:
    """Read a parquet table; a recorded `schema` (see :func:`_read_schema`)
    skips inferring it from the file footers, about 80 ms a table in a
    warm JVM."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(StructType.fromJson(json.loads(schema)))
    return reader.parquet(path)


def _sized_read(spark: SparkSession, path: str,
                schema: Optional[str] = None) -> DataFrame:
    """Read a parquet table with size-appropriate scan granularity (see
    READ_PARTITION_BYTES).  coalesce() never increases the partition
    count, so large tables keep their natural splits.  A table whose
    size is unknown (no parquet bytes found: a path that is not a local
    directory, such as a ``file://`` URI) keeps its natural splits too."""
    df = _read_table(spark, path, schema)
    size = _parquet_dir_bytes(path)
    if size == 0:
        return df
    return df.coalesce(-(-size // READ_PARTITION_BYTES))


def load_index(spark: SparkSession, path: str) -> InvertedIndex:
    """Open the index saved at `path`.  The tables' schemas come from
    stats.json; an index saved without them has them inferred from its
    parquet footers.  Postings saved before ``length`` moved to docmeta
    keep the column, and the planner then reads it from them.  Postings
    saved without ``weight`` get ``weight = CAST(tf AS DOUBLE)``
    (:func:`weight_from_tf`), and the index is marked so that saving it
    again (a merge) stores none either."""
    with open(os.path.join(path, "stats.json")) as f:
        meta = json.load(f)
    schemas = meta.get("schemas", {})
    postings = _sized_read(spark, f"{path}/postings", schemas.get("postings"))
    if "block_no" in postings.columns:
        # indexes saved with the retired block-max WAND layer carry a
        # per-posting block number (and a blocks/ table, never read)
        postings = postings.drop("block_no")
    weight_is_tf = "weight" not in postings.columns
    if weight_is_tf:
        postings = weight_from_tf(postings)
    # decode stored positions lazily via the recorded codec — column
    # pruning means non-positional queries never pay for this.  Pre-codec
    # indexes: infer 'varint' from a binary column, else 'raw'.
    codec = meta.get("codec")
    if codec is None:
        codec = (
            "varint"
            if dict(postings.dtypes).get("positions") == "binary"
            else "raw"
        )
    if codec != "raw" and "positions" in postings.columns:
        from whoosh_reloaded_spark.index.codecs import get_codec

        _, decode = get_codec(codec)
        postings = postings.withColumn(
            "positions", decode(F.col("positions"))
        )
    return InvertedIndex(
        docmeta=_sized_read(spark, f"{path}/docmeta", schemas.get("docmeta")),
        postings=postings,
        term_stats=_sized_read(
            spark, f"{path}/term_stats", schemas.get("term_stats")
        ),
        stats=meta["stats"],
        uid_col=meta["uid_col"],
        fieldname=meta["fieldname"],
        _weight_is_tf=weight_is_tf,
    )
