"""Additional analyzers — the reference's tokenizer/filter family.

Each analyzer is a callable ``text -> [(term, pos), ...]`` built from a
``plain_fn()`` — a SELF-CONTAINED closure over plain data (no class refs),
so cloudpickle ships it by value to executors with no --py-files needed.

Replicated semantics (analysis/tokenizers.py, analysis/ngrams.py):

- IDTokenizer: whole value = one token, pos = start_pos + 1 (sic — the
  reference emits pos 1, tokenizers.py:71)
- SpaceSeparatedTokenizer: RegexTokenizer(r"[^ \\t\\r\\n]+")
- CommaSeparatedTokenizer: RegexTokenizer(r"[^,]+") | StripFilter
- PathTokenizer: "/a/b/c" -> "/a", "/a/b", "/a/b/c"
- NgramTokenizer(min,max): char n-grams over the whole text; all sizes at
  one start share a position; query mode emits only size=min(max, len)
- SimpleAnalyzer: RegexTokenizer | LowercaseFilter (no stop filter)
- KeywordAnalyzer: space-separated [+ lowercase]
- SubstitutionFilter: regex sub on token text (filters.py:485-528)
"""

from __future__ import annotations

from typing import Callable, List, Optional, Tuple

from whoosh_reloaded_spark.analysis import (
    DEFAULT_PATTERN,
    STOP_WORDS,
    stop_filter_tokens,
)

TokenList = List[Tuple[str, int]]


class BaseAnalyzer:
    def plain_fn(self) -> Callable[[str], TokenList]:
        raise NotImplementedError

    def __call__(self, text: str) -> TokenList:
        fn = getattr(self, "_fn", None)
        if fn is None:
            fn = self._fn = self.plain_fn()
        return fn(text)

    def query_terms(self, text: str) -> List[str]:
        return [t for t, _ in self(text)]


class IDAnalyzer(BaseAnalyzer):
    """Whole value as one term (ID fields, fields.py:475-495)."""

    def __init__(self, lowercase: bool = False):
        self.lowercase = lowercase

    def plain_fn(self):
        lower = self.lowercase

        def fn(text):
            if not isinstance(text, str) or text == "":
                return []
            t = text.lower() if lower else text
            return [(t, 1)]  # reference quirk: pos = start_pos + 1

        return fn


class RegexAnalyzer(BaseAnalyzer):
    """RegexTokenizer | optional lowercase — SimpleAnalyzer when default."""

    def __init__(self, expression: str = DEFAULT_PATTERN, lowercase: bool = True,
                 gaps: bool = False):
        self.expression = expression
        self.lowercase = lowercase
        self.gaps = gaps

    def plain_fn(self):
        expr, lower, gaps = self.expression, self.lowercase, self.gaps

        def fn(text):
            import re as _re

            if not isinstance(text, str):
                return []
            pat = _re.compile(expr, _re.UNICODE)
            out = []
            if not gaps:
                for pos, m in enumerate(pat.finditer(text)):
                    t = m.group(0)
                    out.append((t.lower() if lower else t, pos))
            else:
                prevend, pos = 0, 0
                for m in pat.finditer(text):
                    piece = text[prevend:m.start()]
                    if piece:
                        out.append((piece.lower() if lower else piece, pos))
                        pos += 1
                    prevend = m.end()
                if prevend < len(text):
                    piece = text[prevend:]
                    out.append((piece.lower() if lower else piece, pos))
            return out

        return fn


def SimpleAnalyzer() -> RegexAnalyzer:
    return RegexAnalyzer()


class KeywordAnalyzer(BaseAnalyzer):
    """Space-separated tokens (KEYWORD fields, fields.py:1041-1087)."""

    def __init__(self, lowercase: bool = False, commas: bool = False):
        self.lowercase = lowercase
        self.commas = commas

    def plain_fn(self):
        lower, commas = self.lowercase, self.commas

        def fn(text):
            import re as _re

            if not isinstance(text, str):
                return []
            if commas:
                toks = [p.strip() for p in _re.findall(r"[^,]+", text)]
                toks = [p for p in toks if p]
            else:
                toks = _re.findall(r"[^ \t\r\n]+", text)
            if lower:
                toks = [t.lower() for t in toks]
            return list(zip(toks, range(len(toks))))

        return fn


class PathAnalyzer(BaseAnalyzer):
    """Progressive path prefixes (tokenizers.py:345-362)."""

    def __init__(self, expression: str = "[^/]+"):
        self.expression = expression

    def plain_fn(self):
        expr = self.expression

        def fn(text):
            import re as _re

            if not isinstance(text, str):
                return []
            pat = _re.compile(expr, _re.UNICODE)
            return [
                (text[: m.end()], pos) for pos, m in enumerate(pat.finditer(text))
            ]

        return fn


class NgramAnalyzer(BaseAnalyzer):
    """Char n-grams over the whole text + lowercase (ngrams.py:35-126,
    analyzers NgramAnalyzer).  Index mode; ``query_mode=True`` emits only the
    single largest-fitting size per start like the reference's query mode."""

    def __init__(self, minsize: int, maxsize: Optional[int] = None,
                 lowercase: bool = True, query_mode: bool = False):
        self.minsize = minsize
        self.maxsize = maxsize or minsize
        self.lowercase = lowercase
        self.query_mode = query_mode

    def plain_fn(self):
        mn, mx, lower, qmode = (
            self.minsize, self.maxsize, self.lowercase, self.query_mode
        )

        def fn(text):
            if not isinstance(text, str):
                return []
            inlen = len(text)
            out = []
            pos = 0
            if qmode:
                size = min(mx, inlen)
                for start in range(0, inlen - size + 1):
                    g = text[start:start + size]
                    out.append((g.lower() if lower else g, pos))
                    pos += 1
            else:
                for start in range(0, inlen - mn + 1):
                    for size in range(mn, mx + 1):
                        if start + size > inlen:
                            continue
                        g = text[start:start + size]
                        out.append((g.lower() if lower else g, pos))
                    pos += 1
            return out

        return fn


class SubstitutionAnalyzer(BaseAnalyzer):
    """Wraps another analyzer with a regex substitution on each token
    (SubstitutionFilter, filters.py:485-528)."""

    def __init__(self, inner: BaseAnalyzer, pattern: str, replacement: str):
        self.inner = inner
        self.pattern = pattern
        self.replacement = replacement

    def plain_fn(self):
        inner_fn = self.inner.plain_fn()
        pattern, repl = self.pattern, self.replacement

        def fn(text):
            import re as _re

            pat = _re.compile(pattern, _re.UNICODE)
            return [(pat.sub(repl, t), p) for t, p in inner_fn(text)]

        return fn


class StemmingAnalyzer(BaseAnalyzer):
    """RegexTokenizer | Lowercase | StopFilter | StemFilter(porter) — the
    reference's StemmingAnalyzer (analysis/analyzers.py, morph.py:34-149).
    Stemming runs after stop removal on renumbered positions, with a
    per-document stem cache like the reference's CacheFilter."""

    def __init__(self, expression: str = None, stoplist=None,
                 minsize: int = 2, maxsize=None):
        self.expression = expression or DEFAULT_PATTERN
        self.stoplist = frozenset(STOP_WORDS if stoplist is None else stoplist)
        self.minsize = minsize
        self.maxsize = maxsize

    def plain_fn(self):
        # NOTE: references whoosh_reloaded_spark.porter by module — ship the
        # package via spark-submit --py-files for cluster runs
        from whoosh_reloaded_spark.porter import stem

        return stop_filter_tokens(
            self.expression, self.stoplist, self.minsize, self.maxsize,
            stem=stem,
        )


_PYSTEMMER_LANGS = {
    "english": "en", "german": "de", "spanish": "es", "french": "fr",
    "italian": "it", "portuguese": "pt", "russian": "ru", "danish": "da",
    "norwegian": "no", "swedish": "sv", "dutch": "nl", "finnish": "fi",
    "hungarian": "hu", "romanian": "ro", "porter": "en_porter",
}


class PyStemmerAnalyzer(BaseAnalyzer):
    """PyStemmerFilter equivalent (analysis/morph.py:152-216): stemming by
    py-stemmer-style algorithm NAME ('english', 'spanish', ...), with an
    ``ignore`` set of words left unstemmed.  The py-stemmer library wraps
    the same published Snowball algorithms as snowball.py, so this routes
    to those stemmers — no third-party dependency."""

    def __init__(self, lang: str = "english", ignore=None,
                 expression: str = None, stoplist=None, minsize: int = 2,
                 maxsize=None):
        if lang not in _PYSTEMMER_LANGS:
            raise ValueError(
                f"no stemming algorithm named {lang!r}; "
                f"available: {sorted(_PYSTEMMER_LANGS)}"
            )
        self.lang = lang
        self.ignore = frozenset(ignore or ())
        self.expression = expression or DEFAULT_PATTERN
        self.stoplist = frozenset(STOP_WORDS if stoplist is None else stoplist)
        self.minsize = minsize
        self.maxsize = maxsize

    @staticmethod
    def algorithms():
        """Available algorithm names (PyStemmerFilter.algorithms)."""
        return sorted(_PYSTEMMER_LANGS)

    def plain_fn(self):
        # NOTE: references whoosh_reloaded_spark.snowball by module — ship
        # the package via spark-submit --py-files for cluster runs (same
        # caveat as StemmingAnalyzer)
        from whoosh_reloaded_spark.snowball import stemmer_for

        algorithm = stemmer_for(_PYSTEMMER_LANGS[self.lang])
        ignore = self.ignore

        def stem(t):
            return t if t in ignore else algorithm(t)

        return stop_filter_tokens(
            self.expression, self.stoplist, self.minsize, self.maxsize,
            stem=stem,
        )


class DoubleMetaphoneAnalyzer(BaseAnalyzer):
    """DoubleMetaphoneFilter equivalent (analysis/morph.py:218-268): each
    token becomes its primary phonetic code at boost*primary_boost plus,
    when a secondary code exists, that code at boost*secondary_boost;
    ``combine`` keeps the unencoded token ahead of the codes.  Emits
    3-tuples (term, pos, boost) like DelimitedBoostAnalyzer — the inverter
    folds boosts into posting weights."""

    def __init__(self, inner: BaseAnalyzer, primary_boost: float = 1.0,
                 secondary_boost: float = 0.5, combine: bool = False):
        self.inner = inner
        self.primary_boost = primary_boost
        self.secondary_boost = secondary_boost
        self.combine = combine

    def plain_fn(self):
        # NOTE: references whoosh_reloaded_spark.dmetaphone by module —
        # ship the package via spark-submit --py-files for cluster runs
        from whoosh_reloaded_spark.dmetaphone import double_metaphone

        inner_fn = self.inner.plain_fn()
        pb, sb, combine = self.primary_boost, self.secondary_boost, self.combine

        def fn(text):
            out = []
            for tok in inner_fn(text):
                t, p = tok[0], tok[1]
                b = tok[2] if len(tok) > 2 else 1.0
                if combine:
                    out.append((t, p, b))
                primary, secondary = double_metaphone(t)
                if primary:
                    out.append((primary, p, b * pb))
                if secondary:
                    out.append((secondary, p, b * sb))
            return out

        return fn

    def query_terms(self, text: str):
        return [t for t, _, _ in self(text)]


class DelimitedBoostAnalyzer(BaseAnalyzer):
    """DelimitedAttributeFilter for the boost attribute
    (analysis/filters.py:419-482): 'render^2' -> token 'render' with boost
    2.0; tokens without the delimiter get boost 1.0.  Emits 3-tuples
    (term, pos, boost) — the inverter sums boosts into the posting weight
    exactly like the reference's Format.word_values.

    Wrap a tokenizer whose pattern KEEPS the delimiter in the token (the
    reference's docstring uses RegexTokenizer(r'\\S+'))."""

    def __init__(self, inner: BaseAnalyzer, delimiter: str = "^"):
        self.inner = inner
        self.delimiter = delimiter

    def plain_fn(self):
        inner_fn = self.inner.plain_fn()
        delim = self.delimiter

        def fn(text):
            out = []
            for tok in inner_fn(text):
                t, p = tok[0], tok[1]
                i = t.find(delim)
                if i > -1:
                    out.append((t[:i], p, float(t[i + 1:])))
                else:
                    out.append((t, p, 1.0))
            return out

        return fn

    def query_terms(self, text: str):
        delim = self.delimiter
        out = []
        for t in self.inner.query_terms(text):
            i = t.find(delim)
            out.append(t[:i] if i > -1 else t)
        return out


class NgramWordAnalyzer(BaseAnalyzer):
    """tokenize | lowercase | per-word NgramFilter — the reference's
    NgramWordAnalyzer (analysis/ngrams.py:247-251, filter :127-229), the
    NGRAMWORDS field's analyzer (fields.py:1291-1330).

    All n-grams of a word keep the word's position (the reference leaves
    token positions untouched).  Index mode emits every (start, size)
    window bounded by [minsize, maxsize] (or only start-/end-anchored
    windows with ``at``); query mode emits windows of the single size
    min(maxsize, len(word)) — both replicated from NgramFilter.__call__.
    """

    def __init__(self, minsize: int, maxsize: int = None, at: str = None,
                 expression: str = None):
        self.minsize = minsize
        self.maxsize = maxsize or minsize
        assert at in (None, "start", "end")
        self.at = at
        self.expression = expression or DEFAULT_PATTERN

    def plain_fn(self):
        expr, mn, mx, at = self.expression, self.minsize, self.maxsize, self.at

        def fn(text):
            import re as _re

            pat = _re.compile(expr, _re.UNICODE)
            out = []
            for pos, m in enumerate(pat.finditer(text)):
                t = m.group(0).lower()
                n = len(t)
                if n < mn:
                    continue
                if at == "start":
                    for size in range(mn, min(mx, n) + 1):
                        out.append((t[:size], pos))
                elif at == "end":
                    for i in range(max(0, n - mx), n - mn + 1):
                        out.append((t[i:], pos))
                else:
                    for start in range(0, n - mn + 1):
                        for size in range(mn, mx + 1):
                            if start + size <= n:
                                out.append((t[start:start + size], pos))
            return out

        return fn

    def query_terms(self, text: str):
        import re as _re

        pat = _re.compile(self.expression, _re.UNICODE)
        out = []
        for m in pat.finditer(text):
            t = m.group(0).lower()
            if len(t) < self.minsize:
                continue
            size = min(self.maxsize, len(t))
            if self.at == "start":
                out.append(t[:size])
            elif self.at == "end":
                out.append(t[-size:])
            else:
                for start in range(0, len(t) - size + 1):
                    out.append(t[start:start + size])
        return out


class LanguageAnalyzer(BaseAnalyzer):
    """RegexTokenizer | Lowercase | StopFilter(lang) | StemFilter(lang) —
    the reference's LanguageAnalyzer (analysis/analyzers.py:277-315).

    Stop set = English STOP_WORDS UNION the language's list (the reference's
    StopFilter(lang=...) updates the default stoplist rather than replacing
    it, filters.py StopFilter.__init__).  Stemmers: snowball de/es/fr +
    Porter for en (snowball.py); languages with a stop list but no stemmer
    here (da/fi/hu/it/nl/no/pt/ru/sv/tr) get stop filtering only, mirroring
    the reference's graceful NoStemmer fallback."""

    def __init__(self, lang: str, expression: str = None,
                 minsize: int = 2, maxsize=None):
        from whoosh_reloaded_spark.lang_stopwords_data import STOPLISTS

        self.lang = lang
        self.expression = expression or DEFAULT_PATTERN
        code = lang.split("_")[0]
        stops = set(STOP_WORDS)
        if code in STOPLISTS:
            stops |= STOPLISTS[code]
        self.stoplist = frozenset(stops)
        self.minsize = minsize
        self.maxsize = maxsize

    def plain_fn(self):
        from whoosh_reloaded_spark.snowball import stemmer_for

        return stop_filter_tokens(
            self.expression, self.stoplist, self.minsize, self.maxsize,
            stem=stemmer_for(self.lang),
        )


class AccentFoldingAnalyzer(BaseAnalyzer):
    """CharsetFilter accent folding wrapped around another analyzer
    (ref: analysis/filters.py:365-416 + support/charset.py).

    ``mode="accent"`` (default) folds with the exact accent_map table the
    reference documents for CharsetFilter; ``mode="sphinx"`` uses the full
    resolved Sphinx default charset table (charset_table_to_dict
    (default_charset)); ``mode="nfkd"`` keeps the earlier NFKD +
    combining-strip heuristic.  The two table modes are byte-identical to
    the reference filter (tested per-token against it)."""

    _SUPPLEMENT = {"ß": "s", "ø": "o", "Ø": "o", "đ": "d", "Đ": "d",
                   "ł": "l", "Ł": "l", "þ": "th", "Þ": "th", "ð": "d"}

    def __init__(self, inner: BaseAnalyzer, mode: str = "accent"):
        assert mode in ("accent", "sphinx", "nfkd")
        self.inner = inner
        self.mode = mode

    def plain_fn(self):
        inner_fn = self.inner.plain_fn()
        if self.mode in ("accent", "sphinx"):
            from whoosh_reloaded_spark.charset import (
                accent_charmap,
                default_charmap,
            )

            charmap = (
                accent_charmap() if self.mode == "accent" else default_charmap()
            )

            def fn(text):
                return [(t.translate(charmap), p) for t, p in inner_fn(text)]

            return fn

        supplement = dict(self._SUPPLEMENT)

        def fn(text):
            import unicodedata as _ud

            def fold(t):
                t = "".join(supplement.get(c, c) for c in t)
                return "".join(
                    c for c in _ud.normalize("NFKD", t) if not _ud.combining(c)
                )

            return [(fold(t), p) for t, p in inner_fn(text)]

        return fn


class ShingleAnalyzer(BaseAnalyzer):
    """Token shingles: merges N adjacent tokens of the inner analyzer into
    multi-word terms (ShingleFilter / BiWordFilter, intraword.py:100-220).
    Shingle position = position of its first token."""

    def __init__(self, inner: BaseAnalyzer, size: int = 2, sep: str = "-"):
        self.inner = inner
        self.size = size
        self.sep = sep

    def plain_fn(self):
        inner_fn = self.inner.plain_fn()
        size, sep = self.size, self.sep

        def fn(text):
            toks = inner_fn(text)
            if len(toks) < size:
                # too few tokens for one shingle: the reference passes the
                # bare tokens through (intraword.py merge loop fallthrough)
                return toks
            out = []
            for i in range(len(toks) - size + 1):
                window = toks[i:i + size]
                out.append((sep.join(t for t, _ in window), window[0][1]))
            return out

        return fn


def BiWordAnalyzer(inner: BaseAnalyzer, sep: str = "-") -> ShingleAnalyzer:
    return ShingleAnalyzer(inner, size=2, sep=sep)


class IntraWordAnalyzer(BaseAnalyzer):
    """Intra-word splitting/merging (IntraWordFilter, intraword.py:221+ —
    itself modeled on Solr's WordDelimiterFilter):

    - whitespace-tokenize, then split each token on delimiter chars, case
      transitions (lower->upper) and letter<->digit transitions (transition
      pairs are consumed NON-OVERLAPPING, matching the reference's regex
      scan), strip possessive 's
    - mergewords/mergenums add a merged token for each run of >=2
      alphabetic/numeric subwords at the last subword's position
    """

    def __init__(self, delims="-_'\"()!@#$%^&*[]{}<>\\|;:,./?`~=+",
                 splitwords: bool = True, splitnums: bool = True,
                 mergewords: bool = False, mergenums: bool = False,
                 lowercase: bool = True):
        self.delims = delims
        self.splitwords = splitwords
        self.splitnums = splitnums
        self.mergewords = mergewords
        self.mergenums = mergenums
        self.lowercase = lowercase

    def plain_fn(self):
        import re as _re

        delims = self.delims
        splitwords, splitnums = self.splitwords, self.splitnums
        mergewords, mergenums = self.mergewords, self.mergenums
        lowercase = self.lowercase
        delims_esc = _re.escape(delims)
        possessive_pat = rf"(?<=[^\W\d_])'[Ss](?=$|[{delims_esc}])"
        between_pat = rf"[^{delims_esc}]+"

        def fn(text):
            import re as _re2

            if not isinstance(text, str):
                return []
            possessive = _re2.compile(possessive_pat, _re2.UNICODE)
            between = _re2.compile(between_pat, _re2.UNICODE)

            def transitions(piece):
                """Non-overlapping split points between transition pairs."""
                cuts = []
                i = 0
                while i < len(piece) - 1:
                    a, b = piece[i], piece[i + 1]
                    hit = (
                        (splitwords and a.islower() and b.isupper())
                        or (splitnums and a.isalpha() and b.isdigit())
                        or (splitnums and a.isdigit() and b.isalpha())
                    )
                    if hit:
                        cuts.append(i + 1)
                        i += 2  # the pair is consumed (regex non-overlap)
                    else:
                        i += 1
                return cuts

            out = []
            pos = 0
            for m in _re2.finditer(r"\S+", text):
                token = possessive.sub("", m.group(0))
                subwords = []
                for bm in between.finditer(token):
                    piece = bm.group(0)
                    cuts = [0] + transitions(piece) + [len(piece)]
                    for a, b in zip(cuts, cuts[1:]):
                        if piece[a:b]:
                            subwords.append(piece[a:b])
                run_type = None
                run = []

                def flush():
                    nonlocal run, run_type
                    if len(run) >= 2 and (
                        (run_type == "w" and mergewords)
                        or (run_type == "n" and mergenums)
                    ):
                        merged = "".join(run)
                        out.append(
                            (merged.lower() if lowercase else merged, pos - 1)
                        )
                    run, run_type = [], None

                for sw in subwords:
                    # mixed digit/letter subwords (a non-overlapping-scan
                    # artifact like '2f') are neither word nor num: they
                    # break merge runs in the reference too
                    t = "n" if sw.isdigit() else ("w" if sw.isalpha() else None)
                    if t != run_type or t is None:
                        flush()
                        run_type = t
                    out.append((sw.lower() if lowercase else sw, pos))
                    pos += 1
                    run.append(sw)
                flush()
            return out

        return fn


class MultiModeAnalyzer(BaseAnalyzer):
    """Different analysis for indexing vs querying — the reference's
    MultiFilter mode dispatch (filters.py:150-181), e.g. merged intra-word
    tokens at index time but unmerged at query time, or fixed-size ngram
    lookups against a multi-size ngram index."""

    def __init__(self, index_analyzer: BaseAnalyzer, query_analyzer: BaseAnalyzer):
        self.index_analyzer = index_analyzer
        self.query_analyzer = query_analyzer

    def plain_fn(self):
        return self.index_analyzer.plain_fn()

    def query_terms(self, text: str):
        return self.query_analyzer.query_terms(text)
