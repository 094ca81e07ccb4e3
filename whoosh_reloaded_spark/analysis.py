"""Analysis chain: StandardAnalyzer-parity tokenization and the build's
inverter.

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

One loop implements that chain, :func:`stop_filter_tokens`; the stemming
analyzers (analyzers.py) and the char spans (chars.py) reuse it.  The hot
path is :func:`make_invert_rows` — the build's one ``mapInArrow`` pass, so
the exact Python ``re`` module runs Arrow-batched inside executors.  Java
regex is NOT a substitute: ``\\w`` has different Unicode semantics, and
byte-identical token streams vs the reference are a hard requirement
(BASELINE.json input_hint).
"""

from __future__ import annotations

import re
from typing import List, Optional, Tuple

# The reference's default English stop list (analysis/filters.py:37-74).
STOP_WORDS = frozenset(
    """a an and are as at be by can for from have if in is it may not of on
    or tbd that the this to us we when will with yet you your""".split()
)

DEFAULT_PATTERN = r"[\w\*]+(\.?[\w\*]+)*"


def stop_filter_tokens(pattern, stoplist=STOP_WORDS, minsize: int = 2,
                       maxsize: Optional[int] = None, stem=None,
                       with_offsets: bool = False,
                       boost_delim: Optional[str] = None):
    """The RegexTokenizer | LowercaseFilter | StopFilter [| stem] loop.

    Returns ``text -> [(term, pos), ...]``: regex matches, lowercased,
    dropped by size and stop set, renumbered.  ``stem`` maps each survivor
    (after renumbering, as the reference's StemFilter runs after
    StopFilter) through a per-call cache, like the reference's CacheFilter.

    With ``with_offsets`` or ``boost_delim`` each token is instead
    ``(term, pos, boost, startchar, endchar)``: the tokenizer match offsets
    (tokenizers.py:144-155) and the token boost.  ``boost_delim``
    replicates DelimitedAttributeFilter (analysis/filters.py:464-482): a
    trailing ``<delim><float>`` in the RAW token sets the boost, the suffix
    is stripped and endchar shrinks by its length.  Use a pattern that keeps
    the delimiter in the token (e.g. ``r"[^\\s]+"``); unparseable suffixes
    keep the whole token at boost 1.0 instead of raising like the reference.

    The closure captures only the compiled pattern, plain data and
    ``stem``, so cloudpickle ships it by value: executors do not need this
    package on their PYTHONPATH (a ``stem`` from this package does).
    """
    if isinstance(pattern, str):
        pattern = re.compile(pattern, re.UNICODE)
    spans = with_offsets or boost_delim is not None
    fnum = re.compile(r"^[-+]?(\d+(\.\d*)?|\.\d+)$")

    def tokens(text):
        out = []
        cache = {}
        renumbered = None
        for pos, m in enumerate(pattern.finditer(text)):
            t = m.group(0)
            if spans:
                boost, sc, ec = 1.0, m.start(), m.end()
                if boost_delim is not None:
                    cut = t.find(boost_delim)
                    if cut > -1 and fnum.match(t[cut + 1:]):
                        boost = float(t[cut + 1:])
                        ec -= len(t) - cut
                        t = t[:cut]
            t = t.lower()
            n = len(t)
            if n < minsize or (maxsize is not None and n > maxsize):
                continue
            if stoplist is not None and t in stoplist:
                continue
            # StopFilter renumbering: first survivor keeps its original pos,
            # later survivors increment from there (filters.py:345-354).
            renumbered = pos if renumbered is None else renumbered + 1
            if stem is not None:
                st = cache.get(t)
                if st is None:
                    st = cache[t] = stem(t)
                t = st
            if spans:
                out.append((t, renumbered, boost, sc, ec))
            else:
                out.append((t, renumbered))
        return out

    return tokens


class StandardAnalyzer:
    """Pure-Python analyzer with reference StandardAnalyzer semantics.

    :meth:`plain_fn` builds the :func:`stop_filter_tokens` closure that the
    inverter ships to executors.
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

    def plain_fn(self, with_offsets: bool = False,
                 boost_delim: Optional[str] = None):
        """Self-contained ``text -> tokens`` closure (see
        :func:`stop_filter_tokens` for the offset and boost tuples)."""
        return stop_filter_tokens(
            self.pattern, self.stoplist, self.minsize, self.maxsize,
            with_offsets=with_offsets, boost_delim=boost_delim,
        )

    def __call__(self, text: str) -> List[Tuple[str, int]]:
        """Return [(term, pos), ...] — lowercased, stop-filtered, renumbered."""
        return self.plain_fn()(text)

    def query_terms(self, text: str) -> List[str]:
        """Analyze query text (mode='query' — same chain, terms only)."""
        return [t for t, _ in self(text)]


_DEFAULT = StandardAnalyzer()


def standard_tokens(text: str) -> List[Tuple[str, int]]:
    """Module-level convenience: default StandardAnalyzer token stream."""
    return _DEFAULT(text)


def invert_rows_schema(with_boosts: bool = False,
                       with_chars: bool = False) -> str:
    """DDL schema of :func:`make_invert_rows` output with these payloads."""
    return (
        "docid long, term string, tf int, positions array<int>, "
        "length int, len_byte int, wsum double"
        + (", pos_boosts array<double>" if with_boosts else "")
        + (", startchars array<int>, endchars array<int>" if with_chars else "")
    )


INVERT_ROWS_SCHEMA = invert_rows_schema()


def make_invert_rows(analyzer=None, with_boosts: bool = False,
                     with_chars: bool = False,
                     boost_delim: Optional[str] = None):
    """mapInArrow inverter: (docid, text) batches -> FLAT posting rows
    (docid, term, tf, positions, doc length, len_byte, wsum) as Arrow
    RecordBatches, for any analyzer (``plain_fn()`` protocol).

    Per-term ``wsum`` = sum of token boosts (the reference Format.word_values
    sums per-token boosts, formats.py:190-236); tokens are ``(term, pos)``
    at boost 1.0, so wsum == tf, or ``(term, pos, boost, ...)`` as generic
    analyzers (DelimitedBoostAnalyzer, DoubleMetaphoneAnalyzer) and
    ``boost_delim`` emit.  Posting payload columns — the PositionBoosts /
    Characters / CharacterBoosts formats (reference formats.py:273-470) —
    are ALIGNED arrays parallel to ``positions``, added only when asked:

    - ``with_boosts`` → ``pos_boosts array<double>`` (reference
      decode_position_boosts pairs);
    - ``with_chars``  → ``startchars``/``endchars array<int>`` (reference
      decode_characters triples).

    Char offsets and ``boost_delim`` (see :func:`stop_filter_tokens`) need
    tokenizer matches → StandardAnalyzer only.

    Flat columns + direct pyarrow construction avoid both the nested-struct
    conversion of a struct-returning UDF and pandas object-column overhead:
    positions are emitted as ONE flattened int array + offsets (ListArray),
    never as per-row Python list objects (measured 46s -> 20s for the
    1M-doc analysis pass at 32 cores).  Self-contained closure: executors
    don't need this package installed (for StandardAnalyzer).
    """
    from whoosh_reloaded_spark.lengths import BYTE_TO_LENGTH

    ana = analyzer or _DEFAULT
    standard = isinstance(ana, StandardAnalyzer)
    spans = with_chars or boost_delim is not None
    if spans and not standard:
        raise TypeError(
            "character payloads and boost_delim need tokenizer matches; "
            "supported for StandardAnalyzer only"
        )
    if spans:
        tokenize = ana.plain_fn(with_offsets=True, boost_delim=boost_delim)
    else:
        tokenize = ana.plain_fn()
    # StandardAnalyzer's plain 2-tuples unpack directly (the hot path);
    # anything else may carry boosts and offsets after (term, pos)
    weighted = spans or with_boosts or not standard
    b2l = BYTE_TO_LENGTH

    def run(batches):
        from bisect import bisect_left as _bisect

        import pyarrow as _pa

        # length-byte quantization (lengths.py): bisect per DOC is
        # O(log 256), vs a 256-step fold per posting row in Spark
        maxlen = b2l[255]
        i32, f64 = _pa.int32(), _pa.float64()
        fields = [
            ("docid", _pa.int64()),
            ("term", _pa.string()),
            ("tf", i32),
            ("positions", _pa.list_(i32)),
            ("length", i32),
            ("len_byte", i32),
            ("wsum", f64),
        ]
        if with_boosts:
            fields.append(("pos_boosts", _pa.list_(f64)))
        if with_chars:
            fields.append(("startchars", _pa.list_(i32)))
            fields.append(("endchars", _pa.list_(i32)))
        schema = _pa.schema(fields)

        for rb in batches:
            docids_in = rb.column(0).to_pylist()
            texts = rb.column(1).to_pylist()
            docids, terms, tfs, lens, lbs, ws = [], [], [], [], [], []
            flat_pos, offsets = [], [0]
            flat_b, flat_sc, flat_ec = [], [], []
            for docid, v in zip(docids_in, texts):
                if not isinstance(v, str):
                    continue
                toks = tokenize(v)
                n = len(toks)
                lb = 255 if n >= maxlen else _bisect(b2l, n)
                d = {}
                if weighted:
                    for tok in toks:
                        d.setdefault(tok[0], []).append(tok[1:])
                else:
                    for t, p in toks:
                        d.setdefault(t, []).append(p)
                for t, occs in d.items():
                    docids.append(docid)
                    terms.append(t)
                    tfs.append(len(occs))
                    lens.append(n)
                    lbs.append(lb)
                    if weighted:
                        occs.sort()
                        flat_pos.extend(o[0] for o in occs)
                        bs = [o[1] if len(o) > 1 else 1.0 for o in occs]
                        ws.append(sum(bs))
                        if with_boosts:
                            flat_b.extend(bs)
                        if with_chars:
                            flat_sc.extend(o[2] for o in occs)
                            flat_ec.extend(o[3] for o in occs)
                    else:
                        flat_pos.extend(occs)
                    offsets.append(len(flat_pos))
            offs = _pa.array(offsets, i32)
            arrays = [
                _pa.array(docids, _pa.int64()),
                _pa.array(terms, _pa.string()),
                _pa.array(tfs, i32),
                _pa.ListArray.from_arrays(offs, _pa.array(flat_pos, i32)),
                _pa.array(lens, i32),
                _pa.array(lbs, i32),
                # boost-less tokens: wsum == tf
                _pa.array(ws if weighted else tfs, f64),
            ]
            if with_boosts:
                arrays.append(
                    _pa.ListArray.from_arrays(offs, _pa.array(flat_b, f64))
                )
            if with_chars:
                arrays.append(
                    _pa.ListArray.from_arrays(offs, _pa.array(flat_sc, i32))
                )
                arrays.append(
                    _pa.ListArray.from_arrays(offs, _pa.array(flat_ec, i32))
                )
            yield _pa.RecordBatch.from_arrays(arrays, schema=schema)

    return run


def make_query_terms(analyzer: Optional[StandardAnalyzer] = None):
    """Driver-side query text analysis (tiny input — plain Python)."""
    ana = analyzer or _DEFAULT
    return ana.query_terms
