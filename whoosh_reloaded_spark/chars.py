"""Characters format: per-occurrence (term, pos, startchar, endchar).

The reference's ``formats.Characters`` (formats.py:273-330) stores char
offsets IN the posting payload so matchers can yield char-accurate spans
(mcore.py:274-278).  At 100 TB, storing two extra ints per occurrence
triples positional payloads for a feature consumed only by the k documents
actually displayed — so here char spans are (re)computed on demand:

- :func:`char_spans` — exact spans for one text (driver-side; used by
  highlighting over the top-k stored texts, same place the reference reads
  its Characters payloads);
- :func:`char_spans_df` — the distributed form over a corpus frame, for
  pipelines that genuinely need offsets for every document.

Span values are byte-identical to the reference's Characters payloads for
the same analyzer (golden-tested in tests/test_extras.py): positions are
the StopFilter-renumbered token positions, startchar/endchar come from the
tokenizer match (tokenizers.py:144-155).
"""

from __future__ import annotations

from typing import List, Tuple

from pyspark.sql import DataFrame


def char_spans(text: str, analyzer=None) -> List[Tuple[str, int, int, int]]:
    """[(term, pos, startchar, endchar)] with full analyzer semantics
    (lowercase, stop removal, renumbering) — StandardAnalyzer by default."""
    from whoosh_reloaded_spark.analysis import StandardAnalyzer

    ana = analyzer or StandardAnalyzer()
    if not isinstance(ana, StandardAnalyzer):
        raise TypeError(
            "char_spans needs tokenizer match offsets; supported for "
            "StandardAnalyzer-family analyzers"
        )
    toks = ana.plain_fn(with_offsets=True)(text)
    return [(t, p, sc, ec) for t, p, _, sc, ec in toks]


def char_spans_df(docs: DataFrame, id_col: str = "docid",
                  text_col: str = "text", analyzer=None) -> DataFrame:
    """Distributed char-span extraction: (docid, term, pos, startchar,
    endchar) rows — the build's inverter with character payloads, one row
    per occurrence."""
    from whoosh_reloaded_spark.analysis import (
        invert_rows_schema,
        make_invert_rows,
    )

    src = docs.selectExpr(f"{id_col} as docid", f"{text_col} as text")
    rows = src.mapInArrow(
        make_invert_rows(analyzer, with_chars=True),
        invert_rows_schema(with_chars=True),
    )
    return rows.selectExpr(
        "docid",
        "term",
        "inline(arrays_zip(positions, startchars, endchars))"
        " AS (pos, startchar, endchar)",
    )
