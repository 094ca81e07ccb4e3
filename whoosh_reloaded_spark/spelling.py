"""Spelling suggestions ("did you mean") — reference spelling.py semantics.

ReaderCorrector ranking (spelling.py:94-115): candidates are lexicon terms
within plain-Levenshtein `maxdist` sharing a `prefix` (the metric of the
reference's lev automaton — no transposition edges; see
planner.levenshtein_distance for the evidence); each scores
``-(maxdist + 0.5/frequency)`` (NOTE: the reference uses the *parameter*
maxdist, not the term's actual distance — ranking is therefore frequency
descending, then alphabetical; we replicate that exactly) and the top
`limit` are returned sorted by (score desc, term asc).

Both :func:`suggest` and :class:`ReaderCorrector` read their candidates
from one probe (:func:`_candidates`): a single term_stats scan filtered by
planner.fuzzy_predicate, the exact prefix + length-window + native
``levenshtein`` predicate fuzzy expansion uses, so only the matching
terms reach the driver and no Python UDF runs (reading.py:516-544 walks
the lexicon the same way).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, List, Optional, Tuple

from pyspark.sql import functions as F

from whoosh_reloaded_spark.query.planner import (
    Searcher,
    fuzzy_predicate,
    levenshtein_distance,
    term_in,
)


def _candidates(searcher: Searcher, text: str, maxdist: int, prefix: int,
                fieldname: Optional[str]) -> List[Tuple[str, float]]:
    """(term, total_weight) of every lexicon term of `fieldname` (any
    field when None) within plain-Levenshtein `maxdist` of `text` that
    shares its first `prefix` characters: one pushed term_stats scan."""
    c = searcher.ix.term_stats
    if fieldname is not None:
        c = c.where(F.col("field") == fieldname)
    rows = (
        c.where(fuzzy_predicate(text, maxdist, prefix)(F.col("term")))
        .select("term", "total_weight")
        .collect()
    )
    return [(r["term"], float(r["total_weight"])) for r in rows]


def suggest(searcher: Searcher, text: str, limit: int = 5, maxdist: int = 2,
            prefix: int = 0, fieldname: Optional[str] = None) -> List[str]:
    # NOTE: the word itself IS suggested when present — the reference's
    # Corrector.suggest docstring (spelling.py:48-52) claims otherwise, but
    # terms_within yields distance-0 matches and the reference's own
    # test_reader_corrector asserts suggest("koala") == ["koala", "zoala"];
    # observed behavior wins (document-and-mirror convention)
    scored = []
    for t, f in _candidates(searcher, text, maxdist, prefix, fieldname):
        score = 0.0 - (maxdist + (1.0 / (f or 1.0) * 0.5))
        scored.append((score, t))
    scored.sort(key=lambda x: (0 - x[0], x[1]))
    return [t for _, t in scored[:limit]]


# -- corrector objects (reference spelling.py:39-173) -------------------------


class Corrector:
    """Base of the corrector family (reference spelling.py:39-87):
    subclasses yield ``(score, suggestion)`` via ``_suggestions``; higher
    scores are better.  ``suggest`` keeps the `limit` best by (score,
    word) tuple order — the reference uses a bounded min-heap, which at a
    score tie on the cut boundary retains the lexicographically LARGER
    words; ``nlargest`` over unique tuples keeps the identical set — then
    orders by (score desc, word asc)."""

    def suggest(self, text: str, limit: int = 5, maxdist: int = 2,
                prefix: int = 0) -> List[str]:
        from heapq import nlargest

        best = nlargest(limit, self._suggestions(text, maxdist, prefix))
        best.sort(key=lambda t: (0 - t[0], t[1]))
        return [w for _, w in best]

    def _suggestions(self, text, maxdist, prefix):
        raise NotImplementedError


class ReaderCorrector(Corrector):
    """Index-lexicon corrector (reference spelling.py:90-115) bound to a
    Searcher: candidates within plain-Levenshtein `maxdist`, scored
    ``-(maxdist + 0.5/frequency)`` — the lexicon probe of :func:`suggest`
    packaged as a composable Corrector."""

    def __init__(self, searcher: "Searcher",
                 fieldname: Optional[str] = None):
        self.searcher = searcher
        self.fieldname = fieldname

    def _suggestions(self, text, maxdist, prefix):
        for t, f in _candidates(
            self.searcher, text, maxdist, prefix, self.fieldname
        ):
            yield (0.0 - (maxdist + (1.0 / (f or 1.0) * 0.5)), t)


class ListCorrector(Corrector):
    """Static sorted-word-list corrector (reference spelling.py:117-152):
    for each distance 1..maxdist, words whose *plain Levenshtein* distance
    (the lev-automaton metric — no transposition) first falls within that
    bound score ``-distance``; `prefix` chars must match exactly.  The
    reference walks a DFA over the sorted list; a direct banded-DP scan
    of the same list yields the identical (score, word) set — this is a
    driver-side utility over a static list, never a distributed path."""

    def __init__(self, wordlist):
        self.wordlist = wordlist

    def _suggestions(self, text, maxdist, prefix):
        pre = text[:prefix]
        rest = text[prefix:]
        seen = set()
        for mxd in range(1, maxdist + 1):
            for w in self.wordlist:
                if w in seen or not w.startswith(pre):
                    continue
                if levenshtein_distance(rest, w[prefix:], mxd) <= mxd:
                    seen.add(w)
                    yield (0 - mxd, w)


class MultiCorrector(Corrector):
    """Merges sub-corrector suggestions (reference spelling.py:155-173):
    scores for a word seen by several correctors combine via `op`
    (e.g. ``max``).

    NOTE: the reference's version is broken — its ``_suggestions`` returns
    ``seen.items()``, i.e. ``(sug, score)`` pairs, into a protocol that
    expects ``(score, sug)``, so ``suggest`` crashes with a TypeError on
    every call (``0 - x[0]`` on a string).  We yield the protocol order;
    the golden test reuses the reference's own merge with the tuple order
    corrected."""

    def __init__(self, correctors, op):
        self.correctors = correctors
        self.op = op

    def _suggestions(self, text, maxdist, prefix):
        merged: Dict[str, float] = {}
        for corr in self.correctors:
            for score, sug in corr._suggestions(text, maxdist, prefix):
                if sug in merged:
                    merged[sug] = self.op(merged[sug], score)
                else:
                    merged[sug] = score
        for sug, score in merged.items():
            yield (score, sug)


# -- query correction (reference spelling.py:170-345, searching.py:863-977) --


@dataclass
class CorrectedToken:
    """A corrected word occurrence in the query string (the reference's
    token objects with ``original`` set, spelling.py:336-341)."""

    original: str
    text: str
    startchar: int
    endchar: int


# corrections format with the same formatter objects as highlighting,
# exactly like the reference (Correction.format_string takes a
# highlight.Formatter, spelling.py:221-240) — re-exported here for the
# reference's import ergonomics
from whoosh_reloaded_spark.highlight import (  # noqa: E402,F401
    HtmlFormatter,
)


class Correction:
    """Corrected form of a user query (reference spelling.py:178-241):
    ``query`` / ``string`` are the corrected AST and query string,
    ``original_query`` / ``original_string`` the inputs, ``tokens`` the
    corrected word occurrences with char spans into the original string."""

    def __init__(self, original_query, original_string: Optional[str],
                 query, tokens: List[CorrectedToken]):
        self.original_query = original_query
        self.query = query
        self.original_string = original_string
        self.tokens = tokens
        self.string = self.format_string(None) if original_string else ""

    def __repr__(self):
        return f"Correction({self.query!r}, {self.string!r})"

    def format_string(self, formatter=None) -> str:
        """Rebuild the original string with corrected words substituted;
        a highlight Formatter (``format_token(text, token)``) wraps each
        correction (reference Correction.format_string,
        spelling.py:221-240, which formats with replace=True — the
        token's REPLACEMENT text, not the original span)."""
        from whoosh_reloaded_spark.highlight import Tok

        if not self.original_string:
            return ""
        if isinstance(formatter, type):
            formatter = formatter()
        out, cursor = [], 0
        for tok in self.tokens:
            out.append(self.original_string[cursor:tok.startchar])
            if formatter is None:
                out.append(tok.text)
            else:
                # replace=True adapter: hand the formatter the corrected
                # word as the whole "text" so its span read yields the
                # replacement; seen-numbering lives in the formatter
                part = formatter.format_token(
                    tok.text, Tok(tok.text, 0, len(tok.text), True)
                )
                if isinstance(part, list):
                    # event-stream formatters (GenshiEventFormatter)
                    # return lists of event tuples — render them to
                    # markup so the return stays a string
                    from whoosh_reloaded_spark.highlight import (
                        render_event_stream,
                    )

                    part = render_event_stream(part)
                out.append(part)
            cursor = tok.endchar
        out.append(self.original_string[cursor:])
        return "".join(out)


def _walk(q):
    # Query.children() (round-5 tree API) covers every child edge —
    # compound `children` tuples, binary a/b, Not.child, and the span
    # wrappers' q/qs/subqs — since all are dataclass fields
    yield q
    for c in q.children():
        yield from _walk(c)


def _leaf_terms(q) -> List[Tuple[str, str]]:
    """(fieldname, text) for every word-shaped leaf, tree order (the
    reference's Query.all_tokens, qcore.py)."""
    from whoosh_reloaded_spark.query import ast as A

    out = []
    for node in _walk(q):
        if isinstance(node, A.Term):
            out.append((node.fieldname, node.text))
        elif isinstance(node, (A.Phrase, A.Sequence, A.Ordered)):
            out.extend((node.fieldname, w) for w in node.words)
    return out


def _rewrite(q, repl: Dict[Tuple[str, str], str]):
    """Copy of the query tree with corrected leaf words (the reference's
    Query.replace find-and-replace, spelling.py:313-317)."""
    import dataclasses

    from whoosh_reloaded_spark.query import ast as A

    if isinstance(q, A.Term):
        new = repl.get((q.fieldname, q.text))
        return dataclasses.replace(q, text=new) if new else q
    if isinstance(q, (A.Phrase, A.Sequence, A.Ordered)):
        words = tuple(repl.get((q.fieldname, w), w) for w in q.words)
        return (
            dataclasses.replace(q, words=words) if words != q.words else q
        )
    if not dataclasses.is_dataclass(q):
        return q
    changes = {}
    for f in dataclasses.fields(q):
        v = getattr(q, f.name)
        if isinstance(v, A.Query):
            nv = _rewrite(v, repl)
            if nv is not v:
                changes[f.name] = nv
        elif isinstance(v, tuple) and v and isinstance(v[0], A.Query):
            nv = tuple(_rewrite(c, repl) for c in v)
            if nv != v:
                changes[f.name] = nv
    return dataclasses.replace(q, **changes) if changes else q


def correct_query(searcher: Searcher, q, qstring: Optional[str],
                  terms: Optional[List[Tuple[str, str]]] = None,
                  maxdist: int = 2, prefix: int = 0,
                  analyzer=None, correctors: Optional[Dict] = None,
                  aliases: Optional[Dict[str, str]] = None) -> Correction:
    """Correct the words of `q` that don't appear in the index
    (Searcher.correct_query, searching.py:863-977 + SimpleQueryCorrector,
    spelling.py:270-345): each missing (field, word) is replaced by its
    top :func:`suggest` candidate, in the query tree AND in `qstring`.

    `correctors` maps field names to :class:`Corrector` objects that
    override the index-lexicon default for those fields (searching.py:
    911-916); `aliases` maps query field names to the field used as the
    SOURCE of suggestions (searching.py:931-933) — the correctors dict is
    keyed by the post-alias name, like the reference's remap
    (searching.py:946-951).

    Missing-term detection is ONE pushed `term IN (...)` scan over
    term_stats (never a lexicon collect); suggestions reuse the lexicon
    probe of :func:`suggest`.

    String correction scans `qstring` with the analyzer token pattern and
    replaces every occurrence of a corrected word, so a word appearing
    under two different fields with different corrections takes the
    first field's correction (the reference replaces per parse-time char
    span; divergence only for that cross-field duplicate shape).
    """
    from whoosh_reloaded_spark.analysis import StandardAnalyzer

    aliases = aliases or {}
    # remap custom correctors through the aliases, like the reference
    custom: Dict[str, object] = {}
    for f, c in (correctors or {}).items():
        custom[aliases.get(f, f)] = c

    leaf = _leaf_terms(q)
    if terms is None:
        # presence is checked on the ALIAS field (searching.py:960-967)
        texts = sorted({t for _, t in leaf})
        present = set()
        if texts:
            rows = (
                searcher.ix.term_stats.where(term_in(texts))
                .select("field", "term")
                .distinct()
                .collect()
            )
            present = {(r["field"], r["term"]) for r in rows}

        def _present(fieldname: str, text: str) -> bool:
            # field-scoped, like the reference's `(aname, text) not in
            # reader` (searching.py:960-967); term_stats' field column is
            # the constant ix.fieldname for build_index output, so no
            # default-field special case is needed (and one would deviate
            # for multi-fieldname unions)
            return (fieldname, text) in present

        terms = [
            (f, t)
            for f, t in dict.fromkeys(leaf)
            if not _present(aliases.get(f, f), t)
        ]
    repl: Dict[Tuple[str, str], str] = {}
    for f, t in terms:
        aname = aliases.get(f, f)
        corr = custom.get(aname)
        if corr is not None:
            # custom corrector: reference picks sugs[0] of the default
            # limit (spelling.py:328-332)
            sugs = corr.suggest(t, maxdist=maxdist, prefix=prefix)
        else:
            # per-field default corrector (reader.corrector(fieldname)) —
            # term_stats carries the field column, so the filter composes
            # with the length-window pushdown
            sugs = suggest(
                searcher, t, limit=1, maxdist=maxdist, prefix=prefix,
                fieldname=aname if aname != searcher.ix.fieldname else None,
            )
        if sugs:
            repl[(f, t)] = sugs[0]

    corrected_q = _rewrite(q, repl)

    tokens: List[CorrectedToken] = []
    if qstring and repl:
        by_text: Dict[str, str] = {}
        for (_, t), s in repl.items():
            by_text.setdefault(t, s)
        ana = analyzer or StandardAnalyzer()
        for m in ana.pattern.finditer(qstring):
            w = m.group(0).lower()
            if w in by_text:
                tokens.append(
                    CorrectedToken(w, by_text[w], m.start(), m.end())
                )
    return Correction(q, qstring, corrected_q, tokens)
