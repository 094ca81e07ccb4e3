"""Analysis chain: StandardAnalyzer-parity tokenization, Arrow-vectorized.

Semantics replicated from the reference (behavior only, re-implemented):

- token pattern ``[\\w\\*]+(\\.?[\\w\\*]+)*`` compiled with ``re.UNICODE``
  (ref: src/whoosh/analysis/tokenizers.py:31, util/text.py:125-135)
- tokens are enumerated with positions 0,1,2,... in match order
  (ref: tokenizers.py:144-155)
- LowercaseFilter = ``str.lower()`` (ref: analysis/filters.py:253-265)
- StopFilter drops tokens with ``len < minsize`` (default 2), ``len > maxsize``
  or membership in the stop set; surviving tokens are *renumbered* such that
  the FIRST surviving token keeps its original position and every later
  survivor increments from there (ref: filters.py:334-362 — note ``pos`` is
  seeded from the first survivor's original pos, not 0)
- default stop list: the reference's 33-word English list
  (ref: filters.py:37-74)

The hot path is :func:`tokenize_udf` — a pandas UDF so the exact Python ``re``
module runs Arrow-batched inside executors.  Java regex is NOT a substitute:
``\\w`` has different Unicode semantics, and byte-identical token streams vs
the reference are a hard requirement (BASELINE.json input_hint).
"""

from __future__ import annotations

import re
from typing import List, Optional, Tuple

import pandas as pd
from pyspark.sql.functions import pandas_udf

# The reference's default English stop list (analysis/filters.py:37-74).
STOP_WORDS = frozenset(
    """a an and are as at be by can for from have if in is it may not of on
    or tbd that the this to us we when will with yet you your""".split()
)

DEFAULT_PATTERN = r"[\w\*]+(\.?[\w\*]+)*"

TOKENS_SCHEMA = "array<struct<term:string,pos:int>>"


class StandardAnalyzer:
    """Pure-Python analyzer with reference StandardAnalyzer semantics.

    One instance is pickled into the pandas UDF closure; the compiled regex
    and frozenset make per-batch work cheap.
    """

    __slots__ = ("pattern", "stoplist", "minsize", "maxsize")

    def __init__(
        self,
        expression: str = DEFAULT_PATTERN,
        stoplist=STOP_WORDS,
        minsize: int = 2,
        maxsize: Optional[int] = None,
    ):
        self.pattern = re.compile(expression, re.UNICODE)
        self.stoplist = frozenset(stoplist) if stoplist is not None else None
        self.minsize = minsize
        self.maxsize = maxsize

    def __call__(self, text: str) -> List[Tuple[str, int]]:
        """Return [(term, pos), ...] — lowercased, stop-filtered, renumbered."""
        stoplist = self.stoplist
        minsize = self.minsize
        maxsize = self.maxsize
        out = []
        renumbered = None
        for pos, match in enumerate(self.pattern.finditer(text)):
            t = match.group(0).lower()
            n = len(t)
            if n < minsize or (maxsize is not None and n > maxsize):
                continue
            if stoplist is not None and t in stoplist:
                continue
            # StopFilter renumbering: first survivor keeps its original pos,
            # later survivors increment from there (filters.py:345-354).
            if renumbered is None:
                renumbered = pos
            else:
                renumbered += 1
            out.append((t, renumbered))
        return out

    def query_terms(self, text: str) -> List[str]:
        """Analyze query text (mode='query' — same chain, terms only)."""
        return [t for t, _ in self(text)]


_DEFAULT = StandardAnalyzer()


def standard_tokens(text: str) -> List[Tuple[str, int]]:
    """Module-level convenience: default StandardAnalyzer token stream."""
    return _DEFAULT(text)


def make_tokenize_udf(analyzer: Optional[StandardAnalyzer] = None):
    """Build an Arrow-batched pandas UDF: text -> array<struct<term,pos>>.

    Vectorized over a pandas Series (one Python call per Arrow batch, not per
    row-by-row Spark task), which keeps the Python boundary cost amortized.

    The closure captures only plain data (pattern string, stop set, sizes) so
    cloudpickle serializes it fully by value — executors do NOT need this
    package on their PYTHONPATH (works with or without spark-submit
    --py-files).
    """
    ana = analyzer or _DEFAULT
    pattern_str = ana.pattern.pattern
    stoplist = ana.stoplist
    minsize = ana.minsize
    maxsize = ana.maxsize

    @pandas_udf(TOKENS_SCHEMA)
    def tokenize(texts: pd.Series) -> pd.Series:
        import re as _re

        pat = _re.compile(pattern_str, _re.UNICODE)

        def one(v):
            if not isinstance(v, str):
                return []
            out = []
            renumbered = None
            for pos, m in enumerate(pat.finditer(v)):
                t = m.group(0).lower()
                n = len(t)
                if n < minsize or (maxsize is not None and n > maxsize):
                    continue
                if stoplist is not None and t in stoplist:
                    continue
                if renumbered is None:
                    renumbered = pos
                else:
                    renumbered += 1
                out.append((t, renumbered))
            return out

        return texts.map(one)

    return tokenize


INVERT_ROWS_SCHEMA = (
    "docid long, term string, tf int, positions array<int>, "
    "length int, len_byte int, wsum double"
)


def make_invert_rows(analyzer: Optional[StandardAnalyzer] = None):
    """mapInArrow inverter: (docid, text) batches -> FLAT posting rows
    (docid, term, tf, positions, doc length, len_byte) as Arrow
    RecordBatches.

    Flat columns + direct pyarrow construction avoid both the nested-struct
    conversion of a struct-returning UDF and pandas object-column overhead:
    positions are emitted as ONE flattened int array + offsets (ListArray),
    never as per-row Python list objects (measured 46s -> 20s for the
    1M-doc analysis pass at 32 cores).  Self-contained closure: executors
    don't need this package installed.
    """
    ana = analyzer or _DEFAULT
    if hasattr(ana, "plain_fn"):
        # generic analyzer (analyzers.py protocol): a self-contained
        # tokenize closure; the inversion loop wraps it
        return _make_invert_rows_generic(ana.plain_fn())
    pattern_str = ana.pattern.pattern
    stoplist = ana.stoplist
    minsize = ana.minsize
    maxsize = ana.maxsize

    def run(batches):
        import re as _re
        from bisect import bisect_left as _bisect

        import pyarrow as _pa

        # length-byte quantization table (lengths.py formula) computed here
        # so the closure stays self-contained; bisect per DOC is O(log 256),
        # vs a 256-step fold per posting row in a Spark expression
        b2l = tuple(int(round((1.033**n - 1) * 27)) for n in range(256))
        maxlen = b2l[255]
        schema = _pa.schema(
            [
                ("docid", _pa.int64()),
                ("term", _pa.string()),
                ("tf", _pa.int32()),
                ("positions", _pa.list_(_pa.int32())),
                ("length", _pa.int32()),
                ("len_byte", _pa.int32()),
                ("wsum", _pa.float64()),
            ]
        )

        pat = _re.compile(pattern_str, _re.UNICODE)
        for rb in batches:
            docids_in = rb.column(0).to_pylist()
            texts = rb.column(1).to_pylist()
            docids, terms, tfs, lens, lbs = [], [], [], [], []
            flat_pos, offsets = [], [0]
            for docid, v in zip(docids_in, texts):
                if not isinstance(v, str):
                    continue
                d = {}
                renumbered = None
                n = 0
                for pos, m in enumerate(pat.finditer(v)):
                    t = m.group(0).lower()
                    ln = len(t)
                    if ln < minsize or (maxsize is not None and ln > maxsize):
                        continue
                    if stoplist is not None and t in stoplist:
                        continue
                    renumbered = pos if renumbered is None else renumbered + 1
                    n += 1
                    d.setdefault(t, []).append(renumbered)
                lb = 255 if n >= maxlen else _bisect(b2l, n)
                for t, ps in d.items():
                    docids.append(docid)
                    terms.append(t)
                    tfs.append(len(ps))
                    flat_pos.extend(ps)
                    offsets.append(len(flat_pos))
                    lens.append(n)
                    lbs.append(lb)
            yield _pa.RecordBatch.from_arrays(
                [
                    _pa.array(docids, _pa.int64()),
                    _pa.array(terms, _pa.string()),
                    _pa.array(tfs, _pa.int32()),
                    _pa.ListArray.from_arrays(
                        _pa.array(offsets, _pa.int32()),
                        _pa.array(flat_pos, _pa.int32()),
                    ),
                    _pa.array(lens, _pa.int32()),
                    _pa.array(lbs, _pa.int32()),
                    _pa.array([float(x) for x in tfs], _pa.float64()),
                ],
                schema=schema,
            )

    return run


def make_invert_rows_payload(
    analyzer: Optional[StandardAnalyzer] = None,
    with_chars: bool = False,
    with_boosts: bool = False,
    boost_delim: Optional[str] = None,
):
    """mapInArrow inverter emitting posting PAYLOAD columns beyond positions
    — the PositionBoosts / Characters / CharacterBoosts posting formats
    (reference formats.py:273-470), stored as ALIGNED arrays per posting
    row instead of delta-packed pickles:

    - ``with_boosts`` → ``pos_boosts array<double>`` parallel to
      ``positions`` (reference decode_position_boosts pairs);
    - ``with_chars``  → ``startchars``/``endchars array<int>`` parallel to
      ``positions`` (reference decode_characters triples).

    ``boost_delim`` replicates DelimitedAttributeFilter
    (analysis/filters.py:464-482): a trailing ``<delim><float>`` in the
    RAW token sets the token boost, the suffix is stripped, and endchar
    shrinks by the suffix length.  Use a pattern that keeps the delimiter
    in the token (e.g. ``r"[^\\s]+"``); unparseable suffixes keep the whole
    token at boost 1.0 instead of raising like the reference.

    Char columns need tokenizer match offsets → StandardAnalyzer-family
    only (same restriction as chars.char_spans).  Boost columns work for
    any analyzer: generic analyzers contribute boosts via 3-tuple
    ``(term, pos, boost)`` token lists.
    """
    ana = analyzer or _DEFAULT
    if hasattr(ana, "plain_fn"):
        if with_chars:
            raise TypeError(
                "character payloads need tokenizer match offsets; supported "
                "for StandardAnalyzer-family analyzers only"
            )
        return _make_invert_rows_generic_payload(ana.plain_fn())
    pattern_str = ana.pattern.pattern
    stoplist = ana.stoplist
    minsize = ana.minsize
    maxsize = ana.maxsize

    def run(batches):
        import re as _re
        from bisect import bisect_left as _bisect

        import pyarrow as _pa

        b2l = tuple(int(round((1.033**n - 1) * 27)) for n in range(256))
        maxlen = b2l[255]
        fields = [
            ("docid", _pa.int64()),
            ("term", _pa.string()),
            ("tf", _pa.int32()),
            ("positions", _pa.list_(_pa.int32())),
            ("length", _pa.int32()),
            ("len_byte", _pa.int32()),
            ("wsum", _pa.float64()),
        ]
        if with_boosts:
            fields.append(("pos_boosts", _pa.list_(_pa.float64())))
        if with_chars:
            fields.append(("startchars", _pa.list_(_pa.int32())))
            fields.append(("endchars", _pa.list_(_pa.int32())))
        schema = _pa.schema(fields)
        pat = _re.compile(pattern_str, _re.UNICODE)
        fnum = _re.compile(r"^[-+]?(\d+(\.\d*)?|\.\d+)$")
        for rb in batches:
            docids_in = rb.column(0).to_pylist()
            texts = rb.column(1).to_pylist()
            docids, terms, tfs, lens, lbs, ws = [], [], [], [], [], []
            flat_pos, off_p = [], [0]
            flat_b, off_b = [], [0]
            flat_sc, flat_ec, off_c = [], [], [0]
            for docid, v in zip(docids_in, texts):
                if not isinstance(v, str):
                    continue
                d = {}
                renumbered = None
                n = 0
                for pos, m in enumerate(pat.finditer(v)):
                    raw = m.group(0)
                    sc, ec = m.start(), m.end()
                    boost = 1.0
                    if boost_delim is not None:
                        cut = raw.find(boost_delim)
                        if cut > -1 and fnum.match(raw[cut + 1:] or ""):
                            boost = float(raw[cut + 1:])
                            ec -= len(raw) - cut
                            raw = raw[:cut]
                    t = raw.lower()
                    ln = len(t)
                    if ln < minsize or (maxsize is not None and ln > maxsize):
                        continue
                    if stoplist is not None and t in stoplist:
                        continue
                    renumbered = pos if renumbered is None else renumbered + 1
                    n += 1
                    d.setdefault(t, []).append((renumbered, boost, sc, ec))
                lb = 255 if n >= maxlen else _bisect(b2l, n)
                for t, occs in d.items():
                    docids.append(docid)
                    terms.append(t)
                    tfs.append(len(occs))
                    flat_pos.extend(o[0] for o in occs)
                    off_p.append(len(flat_pos))
                    lens.append(n)
                    lbs.append(lb)
                    ws.append(sum(o[1] for o in occs))
                    if with_boosts:
                        flat_b.extend(o[1] for o in occs)
                        off_b.append(len(flat_b))
                    if with_chars:
                        flat_sc.extend(o[2] for o in occs)
                        flat_ec.extend(o[3] for o in occs)
                        off_c.append(len(flat_sc))
            arrays = [
                _pa.array(docids, _pa.int64()),
                _pa.array(terms, _pa.string()),
                _pa.array(tfs, _pa.int32()),
                _pa.ListArray.from_arrays(
                    _pa.array(off_p, _pa.int32()),
                    _pa.array(flat_pos, _pa.int32()),
                ),
                _pa.array(lens, _pa.int32()),
                _pa.array(lbs, _pa.int32()),
                _pa.array(ws, _pa.float64()),
            ]
            if with_boosts:
                arrays.append(
                    _pa.ListArray.from_arrays(
                        _pa.array(off_b, _pa.int32()),
                        _pa.array(flat_b, _pa.float64()),
                    )
                )
            if with_chars:
                arrays.append(
                    _pa.ListArray.from_arrays(
                        _pa.array(off_c, _pa.int32()),
                        _pa.array(flat_sc, _pa.int32()),
                    )
                )
                arrays.append(
                    _pa.ListArray.from_arrays(
                        _pa.array(off_c, _pa.int32()),
                        _pa.array(flat_ec, _pa.int32()),
                    )
                )
            yield _pa.RecordBatch.from_arrays(arrays, schema=schema)

    return run


def _make_invert_rows_generic_payload(tokenize_fn):
    """Generic-analyzer variant of the payload inverter: boosts only
    (3-tuple token lists), positions+boosts co-sorted by position."""

    def run(batches):
        from bisect import bisect_left as _bisect

        import pyarrow as _pa

        b2l = tuple(int(round((1.033**n - 1) * 27)) for n in range(256))
        maxlen = b2l[255]
        schema = _pa.schema(
            [
                ("docid", _pa.int64()),
                ("term", _pa.string()),
                ("tf", _pa.int32()),
                ("positions", _pa.list_(_pa.int32())),
                ("length", _pa.int32()),
                ("len_byte", _pa.int32()),
                ("wsum", _pa.float64()),
                ("pos_boosts", _pa.list_(_pa.float64())),
            ]
        )
        for rb in batches:
            docids_in = rb.column(0).to_pylist()
            texts = rb.column(1).to_pylist()
            docids, terms, tfs, lens, lbs, ws = [], [], [], [], [], []
            flat_pos, off_p = [], [0]
            flat_b, off_b = [], [0]
            for docid, v in zip(docids_in, texts):
                toks = tokenize_fn(v) if isinstance(v, str) else []
                d = {}
                for tok in toks:
                    t, p = tok[0], tok[1]
                    b = tok[2] if len(tok) > 2 else 1.0
                    d.setdefault(t, []).append((p, b))
                n = len(toks)
                lb = 255 if n >= maxlen else _bisect(b2l, n)
                for t, occs in d.items():
                    occs.sort()
                    docids.append(docid)
                    terms.append(t)
                    tfs.append(len(occs))
                    flat_pos.extend(o[0] for o in occs)
                    off_p.append(len(flat_pos))
                    flat_b.extend(o[1] for o in occs)
                    off_b.append(len(flat_b))
                    lens.append(n)
                    lbs.append(lb)
                    ws.append(sum(o[1] for o in occs))
            yield _pa.RecordBatch.from_arrays(
                [
                    _pa.array(docids, _pa.int64()),
                    _pa.array(terms, _pa.string()),
                    _pa.array(tfs, _pa.int32()),
                    _pa.ListArray.from_arrays(
                        _pa.array(off_p, _pa.int32()),
                        _pa.array(flat_pos, _pa.int32()),
                    ),
                    _pa.array(lens, _pa.int32()),
                    _pa.array(lbs, _pa.int32()),
                    _pa.array(ws, _pa.float64()),
                    _pa.ListArray.from_arrays(
                        _pa.array(off_b, _pa.int32()),
                        _pa.array(flat_b, _pa.float64()),
                    ),
                ],
                schema=schema,
            )

    return run


def make_query_terms(analyzer: Optional[StandardAnalyzer] = None):
    """Driver-side query text analysis (tiny input — plain Python)."""
    ana = analyzer or _DEFAULT
    return ana.query_terms


def _make_invert_rows_generic(tokenize_fn):
    """Inversion loop around any self-contained tokenize closure
    (text -> [(term, pos)] or [(term, pos, boost)]); same Arrow output as
    the fast path.  Per-term weight wsum = sum of token boosts (the
    reference Format.word_values sums per-token boosts, formats.py:190-236);
    2-tuple analyzers get boost 1.0 per token, so wsum == tf."""

    def run(batches):
        from bisect import bisect_left as _bisect

        import pyarrow as _pa

        b2l = tuple(int(round((1.033**n - 1) * 27)) for n in range(256))
        maxlen = b2l[255]
        schema = _pa.schema(
            [
                ("docid", _pa.int64()),
                ("term", _pa.string()),
                ("tf", _pa.int32()),
                ("positions", _pa.list_(_pa.int32())),
                ("length", _pa.int32()),
                ("len_byte", _pa.int32()),
                ("wsum", _pa.float64()),
            ]
        )
        for rb in batches:
            docids_in = rb.column(0).to_pylist()
            texts = rb.column(1).to_pylist()
            docids, terms, tfs, lens, lbs, ws = [], [], [], [], [], []
            flat_pos, offsets = [], [0]
            for docid, v in zip(docids_in, texts):
                toks = tokenize_fn(v) if isinstance(v, str) else []
                d = {}
                bsum = {}
                for tok in toks:
                    t, p = tok[0], tok[1]
                    b = tok[2] if len(tok) > 2 else 1.0
                    d.setdefault(t, []).append(p)
                    bsum[t] = bsum.get(t, 0.0) + b
                n = len(toks)
                lb = 255 if n >= maxlen else _bisect(b2l, n)
                for t, ps in d.items():
                    docids.append(docid)
                    terms.append(t)
                    tfs.append(len(ps))
                    flat_pos.extend(sorted(ps))
                    offsets.append(len(flat_pos))
                    lens.append(n)
                    lbs.append(lb)
                    ws.append(bsum[t])
            yield _pa.RecordBatch.from_arrays(
                [
                    _pa.array(docids, _pa.int64()),
                    _pa.array(terms, _pa.string()),
                    _pa.array(tfs, _pa.int32()),
                    _pa.ListArray.from_arrays(
                        _pa.array(offsets, _pa.int32()),
                        _pa.array(flat_pos, _pa.int32()),
                    ),
                    _pa.array(lens, _pa.int32()),
                    _pa.array(lbs, _pa.int32()),
                    _pa.array(ws, _pa.float64()),
                ],
                schema=schema,
            )

    return run
