"""Query-string parser — the reference's default QueryParser grammar plus
the everyday plugin surface.

Covers the default plugin set (qparser/default.py:95-111): whitespace
grouping with implicit AND, AND/OR/NOT/ANDNOT/ANDMAYBE operators
(plugins.py:895+), quoted phrases (plugins.py:673), [a TO b] / {a TO b}
ranges (plugins.py:835), ^boost (plugins.py:217), parenthesized groups
(plugins.py:285), trailing-* prefix and * / ? wildcards, fuzzy~ terms,
and `field:` prefixes routed to the schema (unknown prefixes fall back
to the default field).

Plugin parity beyond the default set:

- GtLtPlugin (plugins.py:1081-1155): ``field:>x  field:<=y  field:=>z`` —
  requires a field specifier, exactly like the reference; translates to
  the equivalent half-open range of the field's kind.
- EveryPlugin (plugins.py:349-360): ``*:*`` (and a bare ``*``) -> Every().
- CopyFieldPlugin (plugins.py:1241-1297): `copy_fields={"name": "author"}`
  rewrites nodes in field `name` to Or([name:x, author:x]).
- MultifieldPlugin (plugins.py:1157-1203): :class:`MultifieldParser` —
  unfielded leaves become Or over the configured fields with per-field
  boosts.
- DateParserPlugin (dateparse.py:786+): on fields declared ``"date"`` in
  the schema, absolute dates (`date:2010-05`, `date:[2010 to 2012]`,
  `date:>2010-05-12`) AND the relative subset (now / today / yesterday /
  tomorrow / 'this month' / 'this year', anchored on the parser's
  ``basedate``) parse to DateRange with adatetime floor/ceil span
  semantics (util/times.py:202-260).  Richer NL phrases ('next friday',
  '3 days ago') remain out of scope.
- RegexPlugin (plugins.py:554-580): ``r"pattern"`` (optionally fielded)
  parses to a Regex query.
- PlusMinusPlugin / SimpleParser (plugins.py:1016-1078,
  default.py:415-424): :class:`SimpleParser` supports only
  +required / -prohibited / phrase syntax with Or-grouped optional terms.
- Numeric fields (schema kind ``"numeric"``): `n:250` -> exact NumericRange,
  `n:[100 to 200]`, `n:>=100` -> NumericRange — the reference's NUMERIC
  field parsing (fields.py:522-809) without the tiered-term machinery.

Query words are analyzed with the index analyzer in query mode
(FieldType.process_text, fields.py:196-207): lowercased, stop words dropped
(a stopped word vanishes from the query like the reference's parser output).

Pure driver-side Python — parsing is not a hot path.
"""

from __future__ import annotations

import re
from typing import Dict, List, Optional, Sequence

from whoosh_reloaded_spark.analysis import StandardAnalyzer
from whoosh_reloaded_spark.query import ast as Q
from whoosh_reloaded_spark.query import dates as D

_TOKEN_RE = re.compile(
    r"""
    (?P<lparen>\()
  | (?P<rparen>\))
  | (?P<phrase>(?:(?P<p_field>\w+):)?"(?P<phrase_body>[^"]*)"(~(?P<slop>\d+))?(\^(?P<p_boost>\d+(\.\d+)?))?)
  | (?P<range>(?:(?P<r_field>\w+):)?[\[{]\s*(?:(?P<r_lo>(?!(?:TO|to)[\s\]}])\S+)\s+)?(?:TO|to)(\s+(?P<r_hi>\S+?))?\s*[\]}](\^(?P<r_boost>\d+(\.\d+)?))?)
  | (?P<func>\#[A-Za-z_][A-Za-z0-9._]*(?:\[[^\]]*\])?)
  | (?P<squote>(?:(?P<s_field>\w+):)?'(?P<squote_body>.*?)'(?=\s|\]|[)}]|$))
  | (?P<word>[^\s()]+)
""",
    re.VERBOSE,
)

_BOOST_RE = re.compile(r"\^(\d+(\.\d+)?)$")
# reference FuzzyTermPlugin expr (plugins.py:478-485): ~[maxdist][/prefix];
# parsed fuzzies default to maxdist=1, prefixlength=0 (NOT the FuzzyTerm
# class default of 1 — plugins.py:543-545 passes 0 when no /prefix given)
_FUZZY_RE = re.compile(r"~(\d*)(?:/([1-9]\d*))?$")
_GTLT_RE = re.compile(r"^(<=|>=|=<|=>|<|>)")

TEXT, NUMERIC, DATE = "text", "numeric", "date"


class _Tok:
    def __init__(self, kind, value, **kw):
        self.kind = kind
        self.value = value
        self.__dict__.update(kw)

    def __repr__(self):
        return f"_Tok({self.kind}, {self.value!r})"


def _lex(s: str) -> List[_Tok]:
    out = []
    for m in _TOKEN_RE.finditer(s):
        if m.group("lparen"):
            out.append(_Tok("(", "("))
        elif m.group("rparen"):
            out.append(_Tok(")", ")"))
        elif m.group("phrase") is not None:
            out.append(
                _Tok(
                    "phrase",
                    m.group("phrase_body"),
                    field=m.group("p_field"),
                    slop=int(m.group("slop")) if m.group("slop") else 1,
                    boost=(
                        float(m.group("p_boost")) if m.group("p_boost") else 1.0
                    ),
                )
            )
        elif m.group("range") is not None:
            raw = m.group("range")
            body = raw.split(":", 1)[1] if m.group("r_field") else raw
            out.append(
                _Tok(
                    "range",
                    raw,
                    field=m.group("r_field"),
                    lo=m.group("r_lo"),
                    hi=m.group("r_hi"),
                    loexcl=body.startswith("{"),
                    hiexcl=_BOOST_RE.sub("", body).endswith("}"),
                    boost=(
                        float(m.group("r_boost")) if m.group("r_boost") else 1.0
                    ),
                )
            )
        elif m.group("func") is not None:
            out.append(_Tok("func", m.group("func")))
        elif m.group("squote") is not None:
            out.append(
                _Tok(
                    "squote",
                    m.group("squote_body"),
                    field=m.group("s_field"),
                )
            )
        elif m.group("word"):
            w = m.group("word")
            # A boost dangling after a fuzzy suffix splits into its OWN
            # token, mirroring the reference's node stream (the
            # FuzzinessNode has no boost slot, so BoostPlugin.clean_boost
            # neutralizes the BoostNode — but ONLY at the top level:
            # clean_boost runs after GroupPlugin's whole-input unwrap and
            # does NOT recurse into groups (plugins.py:251-262), so inside
            # a surviving group the BoostNode lives until do_boost(510)
            # attaches it to the by-then-merged FuzzyTermNode.  Hence
            # 'alfa~^2 OR bravo' = And([fuzzy, bravo]) with the '^2' a
            # null operand, while 'text:(alfa~^2)' = fuzzy with boost 2.
            # The parser decides by effective group depth; the lexer just
            # marks the split token.
            fm = re.match(
                r"^(?P<w>.+~(?:\d*(?:/[1-9]\d*)?)?)(?P<b>\^\d+(\.\d+)?)$", w
            )
            if fm:
                out.append(_Tok("word", fm.group("w")))
                out.append(_Tok("word", fm.group("b"), fuzzydangle=True))
            else:
                out.append(_Tok("word", w))
    return out


# OperatorsPlugin defaults (plugins.py:936-945): whitespace-delimited
# uppercase keywords.  The lookaround-style patterns are applied to each
# word token padded with virtual spaces, so "(?<=\s)AND(?=\s)" can only
# match a whole token while a custom "&!" matches inside one and splits it.
DEFAULT_OPERATORS = {
    "AndNot": r"(?<=\s)ANDNOT(?=\s)",
    "AndMaybe": r"(?<=\s)ANDMAYBE(?=\s)",
    "Not": r"(^|(?<=(\s|[()])))NOT(?=\s)",
    "And": r"(?<=\s)AND(?=\s)",
    "Or": r"(?<=\s)OR(?=\s)",
    "Require": r"(^|(?<=\s))REQUIRE(?=\s)",
}
# tagger order = reference priority order: AndNot/AndMaybe (-5) first, then
# Not, And, Or, Require (0) in listed order — "&!" must win over "&"
_OP_ORDER = ("AndNot", "AndMaybe", "Not", "And", "Or", "Require")


def _mark_group(q: Q.Query, kind: str) -> Q.Query:
    """Tag a query with the whoosh-syntax group type it represents
    ("Or" = MultifieldPlugin OrGroup expansion, "And" = parenthesized /
    default AndGroup, or an infix-built group) so _apply_op_passes can
    mirror InfixOperator.replace_self's merging splice (syntax.py:629-631).
    The tag is parser-internal and not a dataclass field, so normalize()
    and dataclasses.replace() shed it naturally."""
    object.__setattr__(q, "_syntax_group", kind)
    return q


def _map_tree(q: Q.Query, fn) -> Q.Query:
    """Apply fn bottom-up over a Query tree (children first, then node).

    A node whose children all come back unchanged is passed to fn as is,
    not rebuilt, so an identity plugin returns the very same tree: parse()
    recognizes its top group by identity, and a rebuilt copy would lose
    the group's boost push-down."""
    from dataclasses import replace

    if isinstance(q, Q._Compound):
        children = tuple(_map_tree(c, fn) for c in q.children)
        if any(n is not o for n, o in zip(children, q.children)):
            q = replace(q, children=children)
    else:
        kw = {}
        for attr in ("a", "b", "child"):
            c = getattr(q, attr, None)
            if isinstance(c, Q.Query):
                m = _map_tree(c, fn)
                if m is not c:
                    kw[attr] = m
        if kw:
            q = replace(q, **kw)
    return fn(q)


class QueryParser:
    """parse(text) -> normalized Query AST for the default text field."""

    def __init__(self, fieldname: str = "text",
                 analyzer: Optional[StandardAnalyzer] = None,
                 group: str = "and", known_fields=None,
                 schema: Optional[Dict[str, str]] = None,
                 copy_fields: Optional[Dict[str, str]] = None,
                 plugins=None, sequence_plugin: bool = False,
                 basedate=None, field_aliases=None,
                 copy_fields_mirror: bool = False,
                 operators: Optional[Dict[str, Optional[str]]] = None,
                 functions=None, group_scale: Optional[float] = None):
        self.fieldname = fieldname
        self.analyzer = analyzer or StandardAnalyzer()
        # group="or" is the reference's QueryParser(group=OrGroup):
        # juxtaposition, parens, multitoken words and the implicit
        # top-level wrap all build Or groups; explicit AND still Ands.
        # group_scale mirrors OrGroup.factory(s) — the parser-built Or
        # groups carry the coordination scale, and because the implicit
        # top-level wrap is one of them, the surviving root Or keeps it
        # even for explicit 'a OR b' (verified live vs reference).
        self.group = group
        self.group_scale = group_scale
        # extension point (the reference's Plugin.filters run over the
        # syntax tree, qparser/plugins.py:60-90): each plugin is a callable
        # Query -> Query applied bottom-up after parsing, before normalize.
        # PseudoField/FieldAlias-style rewrites compose as AST transforms.
        self.plugins = list(plugins or ())
        # schema: fieldname -> kind ("text" | "numeric" | "date"); a
        # `field:` prefix may select any schema field (FieldsPlugin,
        # plugins.py:364); unknown prefixes fall back to the default field
        self.schema: Dict[str, str] = dict(schema or {})
        for f in known_fields or ():
            self.schema.setdefault(f, TEXT)
        self.schema.setdefault(fieldname, TEXT)
        # CopyFieldPlugin map (from-field -> to-field); mirror adds the
        # reversed mappings (plugins.py:1279-1281)
        self.copy_fields = dict(copy_fields or {})
        if copy_fields_mirror:
            self.copy_fields.update(
                {v: k for k, v in list(self.copy_fields.items())}
            )
        # >0 while parsing inside a "field:(...)" group — leaves there are
        # explicitly fielded, so MultifieldParser must not expand them
        self._fielded_group_depth = 0
        # FieldAliasPlugin (plugins.py:1206-1238): alias -> real field
        self.field_aliases: Dict[str, str] = {}
        for real, aliases in (field_aliases or {}).items():
            for a in aliases:
                self.field_aliases[a] = real
        # SequencePlugin (plugins.py:758-833): quoted groups hold ARBITRARY
        # subqueries matched in sequence instead of plain phrases — the
        # reference's replace-PhrasePlugin-with-SequencePlugin mode
        self.sequence_plugin = sequence_plugin
        # basedate anchors relative dates (now/today/yesterday/tomorrow/
        # 'this month'/'this year' — DateParserPlugin's basedate param,
        # dateparse.py:795-805); defaults lazily to the current time
        self.basedate = basedate
        # OperatorsPlugin (plugins.py:895-1015): operator name -> pattern;
        # passing a dict REPLACES the defaults entirely (like
        # qp.replace_plugin(OperatorsPlugin(...))) — a name absent or None
        # removes that operator, so e.g. operators={"And": "&"} makes the
        # word AND a plain term
        src = DEFAULT_OPERATORS if operators is None else dict(operators)
        self._op_res = [
            (name, re.compile(src[name]))
            for name in _OP_ORDER
            if src.get(name)
        ]
        # FunctionPlugin (plugins.py:558-656): '#name[args](group)' hooks —
        # name -> callable(qs, *args, **kwargs) returning a Query
        self.functions = dict(functions or {})

    def _kind(self, fieldname: str) -> str:
        return self.schema.get(fieldname, TEXT)

    def _resolve_field(self, name):
        """Apply FieldAliasPlugin mapping; None when still unknown."""
        name = self.field_aliases.get(name, name)
        return name if name in self.schema else None

    def _date_span(self, text):
        """(floor, ceil) for an absolute OR natural-language date string —
        ISO-style fast path first, then the full English NL grammar
        (dateparse.py: 'next friday', '-3 weeks', '3pm', 'mar 29 1972
        2:45am', 'last tuesday to next tuesday', ...)."""
        if self.basedate is None:
            import datetime as _dt

            self.basedate = _dt.datetime.now()
        sp = D.relative_span(text, self.basedate)
        if sp is not None:
            return sp
        sp = D.span(text)
        if sp is not None:
            return sp
        from whoosh_reloaded_spark.query.dateparse import parse_span

        return parse_span(text, self.basedate)

    # -- recursive descent ---------------------------------------------------

    def _tag_operators(self, toks: List[_Tok]) -> List[_Tok]:
        """Retag/split word tokens on the configured operator patterns.
        Each pattern is searched in the token padded with virtual spaces
        (so the reference's lookaround defaults anchor to whole tokens
        while custom operators like '&!' split inside one)."""
        out: List[_Tok] = []
        for t in toks:
            if t.kind != "word":
                out.append(t)
                continue
            parts = self._split_ops(t.value)
            if len(parts) == 1 and parts[0].kind == "word":
                out.append(t)  # keep lexer-set attrs (e.g. fuzzydangle)
            else:
                out.extend(parts)
        return out

    def _split_ops(self, value: str) -> List[_Tok]:
        padded = " " + value + " "
        best = None  # (startpos, order_idx, name, match)
        for idx, (name, rx) in enumerate(self._op_res):
            m = rx.search(padded)
            if m and m.start() != m.end():
                key = (m.start(), idx)
                if best is None or key < best[0]:
                    best = (key, name, m)
        if best is None:
            return [_Tok("word", value)]
        _, name, m = best
        lo = max(0, m.start() - 1)
        hi = min(len(value), m.end() - 1)
        out: List[_Tok] = []
        if value[:lo]:
            out.extend(self._split_ops(value[:lo]))
        out.append(_Tok("op", value[lo:hi], op=name))
        if value[hi:]:
            out.extend(self._split_ops(value[hi:]))
        return out

    def parse(self, s: str) -> Q.Query:
        self._toks = self._tag_operators(_lex(s))
        self._i = 0
        if not self._toks:
            return Q.NullQuery()
        # GroupPlugin.do_groups unwraps a whole-input paren group ONCE
        # (plugins.py:341-344) BEFORE clean_boost runs, so the content
        # of '(X)' counts as top level for dangling-fuzzy-boost
        # neutralization while '((X))' keeps one group level
        self._group_depth = 0
        self._unwrap = 1 if self._whole_input_group() else 0
        self._top_group = None
        q = self._or_expr()
        for plugin in self.plugins:
            q = _map_tree(q, plugin)
        # The reference wraps every parse in the implicit top-level
        # parser.group (AndGroup by default, OrGroup for group='or'), so
        # a boosted same-class GROUP at the root flattens into it and its
        # boost pushes down onto each child via with_boost
        # (compound.py:122-124) — '((alfa AND alfa~)^2)' becomes
        # And([alfa^2, fuzzy^2]), where the fuzzy's pushed boost then
        # dies in singleton expansion.  Mirror with the same wrapper; a
        # root of the other class just collapses back out.  In or-mode
        # the wrapper carries group_scale, which is why even explicit
        # 'a OR b' ends with the factory's coordination scale.
        tg = self._top_group
        if tg is not None:
            if q is tg:
                # the top-level pass already built the implicit group in
                # place (multi-item input): adding another wrapper would
                # create nesting the reference does not have (see
                # _apply_op_passes) — normalize directly
                return q.normalize()
            if (
                self._unwrap
                and isinstance(q, (Q.And, Q.Or))
                and len(q.children) == 1
                and q.children[0] is tg
                and q.boost == 1.0
            ):
                # whole-input paren group: GroupPlugin.do_groups unwraps
                # it BEFORE the top wrap, so its content group is the
                # reference's top group
                return tg.normalize()
        if self.group == "or":
            return Q.Or((q,), scale=self.group_scale).normalize()
        return Q.And((q,)).normalize()

    def _whole_input_group(self) -> bool:
        """True when the token stream is exactly one plain paren group
        spanning the whole input (the case do_groups unwraps)."""
        toks = self._toks
        if not toks or toks[0].kind != "(" or toks[-1].kind != ")":
            return False
        depth = 0
        for i, t in enumerate(toks):
            if t.kind == "(":
                depth += 1
            elif t.kind == ")":
                depth -= 1
                if depth == 0:
                    return i == len(toks) - 1
        return False

    def _peek(self) -> Optional[_Tok]:
        return self._toks[self._i] if self._i < len(self._toks) else None

    def _next(self) -> _Tok:
        t = self._toks[self._i]
        self._i += 1
        return t

    _BINOPS = {"AndNot": Q.AndNot, "AndMaybe": Q.AndMaybe, "Require": Q.Require}

    def _or_expr(self) -> Q.Query:
        """Reference operator application (OperatorsPlugin.do_operators,
        plugins.py:954-989 + syntax.py InfixOperator.replace_self:614-641,
        behavior verified empirically against the reference parser):
        collect a FLAT list of queries and operator tokens up to the group
        boundary, then run passes in the reference's op-registration order
        — Not (prefix), And, Or, AndNot, AndMaybe, Require — each pass
        replacing an op with a group of its IMMEDIATE neighbors, And/Or
        merging left-associatively within a pass.  Net precedence (the
        round-5 fuzz finding): explicit AND/OR bind TIGHTER than
        ANDNOT/ANDMAYBE/REQUIRE ("a OR b ANDNOT c" is (a OR b) ANDNOT c),
        while implicit juxtaposition binds loosest ("a b ANDNOT c" is
        a AND (b ANDNOT c))."""
        items: List[tuple] = []
        while True:
            t = self._peek()
            if t is None or t.kind == ")":
                break
            if t.kind == "op":
                self._next()
                items.append(("op", t.op))
                continue
            if (
                getattr(t, "fuzzydangle", False)
                and self._group_depth - self._unwrap >= 1
                and items
                and items[-1][0] == "q"
                and isinstance(items[-1][1], Q.FuzzyTerm)
            ):
                # inside a surviving group the reference's do_boost
                # attaches the dangling boost to the merged fuzzy node
                # (see _lex); at effective top level clean_boost already
                # neutralized it, handled by the fallthrough null word
                self._next()
                try:
                    items[-1] = (
                        "q", items[-1][1].with_boost(float(t.value[1:]))
                    )
                    continue
                except ValueError:
                    pass
            items.append(("q", self._primary()))
        return self._apply_op_passes(items)

    def _apply_op_passes(self, items: List[tuple]) -> Q.Query:
        # Not: prefix pass, left-to-right (syntax.py:597-603)
        i = 0
        while i < len(items):
            if items[i] == ("op", "Not"):
                del items[i]
                if i < len(items) and items[i][0] == "q":
                    items[i] = ("q", Q.Not(items[i][1]))
            else:
                i += 1
        # infix passes in registration order (plugins.py:921-934)
        passes = (
            ("And", lambda ch: Q.And(ch), True),
            ("Or", lambda ch: Q.Or(ch), True),
            ("AndNot", lambda ch: Q.AndNot(ch[0], ch[1]), False),
            ("AndMaybe", lambda ch: Q.AndMaybe(ch[0], ch[1]), False),
            ("Require", lambda ch: Q.Require(ch[0], ch[1]), False),
        )
        for opname, make, merging in passes:
            gcls = Q.And if opname == "And" else Q.Or
            i = 0
            while i < len(items):
                if items[i] != ("op", opname):
                    i += 1
                    continue
                if (
                    0 < i < len(items) - 1
                    and items[i - 1][0] == "q"
                    and items[i + 1][0] == "q"
                ):
                    left, right = items[i - 1][1], items[i + 1][1]
                    if (
                        merging
                        and isinstance(left, gcls)
                        and getattr(left, "_syntax_group", None) == opname
                    ):
                        # InfixOperator.replace_self merging splice
                        # (syntax.py:629-631): when the LEFT operand is
                        # already a syntax group of this op's type — a
                        # pass-built group ("a OR b OR c"), a multifield
                        # OrGroup expansion, or a parenthesized AndGroup —
                        # the right operand is appended INSIDE it, so the
                        # left group's ^boost covers the spliced operand
                        # too ("alfa^2 OR bravo" boosts bravo in the
                        # MultifieldParser; "(a b)^2 AND c" boosts c).
                        # Round-5 fuzz finding, verified live vs reference.
                        if opname == "Or":
                            newq = Q.Or(
                                tuple(left.children) + (right,),
                                boost=left.boost,
                                scale=left.scale,
                            )
                        else:
                            newq = Q.And(
                                tuple(left.children) + (right,),
                                boost=left.boost,
                            )
                    elif not merging and isinstance(left, Q.NullQuery):
                        # a null operand never reaches the reference's
                        # binary group: GroupNode.query drops None subs
                        # (syntax.py:236-239) and the single-sub group
                        # degrades to that sub — 'alfa~^2 ANDNOT bravo'
                        # is And([fuzzy, bravo]) with bravo POSITIVE
                        # (round-5 fuzz, verified live)
                        newq = right
                    elif not merging and isinstance(right, Q.NullQuery):
                        newq = left
                    else:
                        newq = make((left, right))
                    _mark_group(newq, opname)
                    items[i - 1:i + 2] = [("q", newq)]
                    # continue at the element after the new group, like
                    # replace_self returning `position`
                else:
                    # op at a boundary: dropped (syntax.py:638-639)
                    del items[i]
        qs = [q for kind, q in items if kind == "q"]
        if not qs:
            return Q.NullQuery()
        if len(qs) == 1:
            return qs[0]
        # the enclosing group is the parser's default group (AndGroup,
        # or OrGroup with group='or')
        g = self._make_group(qs)
        if self._group_depth - self._unwrap == 0:
            # this multi-item group IS the reference's implicit top-level
            # group (built in place around the top item list) — remember
            # it so parse() does not wrap it AGAIN: the artificial
            # nesting would make normalize() run the same-class merge,
            # whose unconditional ss.with_boost(ss.boost * s.boost)
            # resets binary nodes' a-side boosts (with_boost pushes the
            # product — 1.0 — into `a`), e.g. "bravo^3 ANDNOT 'a b'^2"
            # lost bravo's boost (round-6 or-mode soak find)
            self._top_group = g
        return g

    def _not_expr(self) -> Q.Query:
        t = self._peek()
        if t is not None and t.kind == "op" and t.op == "Not":
            self._next()
            return Q.Not(self._not_expr())
        return self._primary()

    def _primary(self) -> Q.Query:
        if self._peek() is None:
            # dangling operator at end of input (e.g. "foo AND") — the
            # reference's parser degrades gracefully; match that
            return Q.NullQuery()
        t = self._next()
        if t.kind == "(":
            self._group_depth += 1
            try:
                q = self._or_expr()
            finally:
                self._group_depth -= 1
            nxt = self._peek()
            if nxt is not None and nxt.kind == ")":
                self._next()
            # group boost: (a b)^2 arrives as a word "^2" — peek
            nxt = self._peek()
            if nxt is not None and nxt.kind == "word" and nxt.value.startswith("^"):
                try:
                    boost = float(nxt.value[1:])
                    self._next()
                    return self._paren_group(q, boost)
                except ValueError:
                    pass
            return self._paren_group(q)
        if t.kind == "phrase":
            if self.sequence_plugin:
                return self._parse_sequence_body(t.value, t.slop)
            pf0 = self._resolve_field(t.field) if t.field is not None else None
            if pf0 is not None and self._kind(pf0) == DATE:
                # date:"last tuesday to next tuesday" — quoted NL date
                sp = self._date_span(t.value)
                if sp is not None:
                    return self._leaf_hooks(
                        Q.DateRange(pf0, sp[0], sp[1], False, False), pf0
                    )
                return Q.NullQuery()
            words = self.analyzer.query_terms(t.value)
            if not words:
                return Q.NullQuery()
            # '"a b"^2' keeps its boost (plugins.py PhrasePlugin node ^
            # suffix), but a single-word phrase collapses to a plain Term
            # BEFORE the boost attaches in the reference ('"alfa"^2' ->
            # Term('text','alfa') with boost 1) — mirrored: boost only on
            # true multi-word phrases (round-5 parser probe)
            boost = t.boost if len(words) > 1 else 1.0
            pf = self._resolve_field(t.field) if t.field is not None else None
            if pf is not None:
                return self._leaf_hooks(
                    Q.Phrase(tuple(words), pf, slop=t.slop, boost=boost), pf
                )
            return self._unfielded_leaf(
                Q.Phrase(tuple(words), self.fieldname, slop=t.slop, boost=boost)
            )
        if t.kind == "range":
            rf = self._resolve_field(t.field) if t.field is not None else None
            if rf is None:
                # unfielded range: route through _unfielded_leaf so
                # MultifieldParser expands '[a TO b]' across its fields —
                # the reference MultifieldPlugin applies to every unfielded
                # fieldable node including ranges (plugins.py:1139-1160)
                return self._unfielded_leaf(
                    self._make_range(
                        self.fieldname, t.lo, t.hi, t.loexcl, t.hiexcl,
                        t.boost,
                    )
                )
            return self._leaf_hooks(
                self._make_range(rf, t.lo, t.hi, t.loexcl, t.hiexcl, t.boost),
                explicit_field=rf,
            )
        if t.kind == "func":
            return self._function_call(t.value)
        if t.kind == "squote":
            return self._single_quoted(t)
        if t.kind == "op":
            # operator with no operand position (e.g. leading AND) — the
            # reference degrades it to a plain term of its text
            return self._word(t.value)
        if t.kind == "word" and t.value.endswith(":"):
            nxt = self._peek()
            if nxt is not None and nxt.kind == "(":
                # fielded group "field:(...)": the reference FieldsPlugin
                # pushes the fieldname onto the following group's
                # unfielded nodes (round-5 fuzz fix — previously the
                # field prefix was silently dropped)
                rf = self._resolve_field(t.value[:-1]) or self.fieldname
                saved = self.fieldname
                self.fieldname = rf
                # FieldsPlugin runs at priority 100, BEFORE MultifieldPlugin
                # (110), so members of a fielded group arrive at the
                # multifield stage already fielded and are NOT expanded
                # across fieldnames ("name:(alfa bravo)" stays on name —
                # round-5 fuzz finding, verified live vs reference)
                self._fielded_group_depth += 1
                self._group_depth += 1
                try:
                    self._next()  # consume "("
                    q = self._or_expr()
                    if self._peek() is not None and self._peek().kind == ")":
                        self._next()
                finally:
                    self.fieldname = saved
                    self._fielded_group_depth -= 1
                    self._group_depth -= 1
                nxt = self._peek()
                if (
                    nxt is not None
                    and nxt.kind == "word"
                    and nxt.value.startswith("^")
                ):
                    try:
                        boost = float(nxt.value[1:])
                        self._next()
                        return self._paren_group(q, boost)
                    except ValueError:
                        pass
                return self._paren_group(q)
        return self._word(t.value)

    def _function_call(self, raw: str) -> Q.Query:
        """FunctionPlugin '#name[a,b,k=v](subqueries)' (plugins.py:558-656):
        the named hook gets the queries of the immediately-following
        parenthesized group (top-level members become separate entries,
        explicit boolean operators bind first), the bracket args as strings,
        and a trailing ^boost as kwargs['boost']."""
        m = re.match(r"\#([A-Za-z_][A-Za-z0-9._]*)(?:\[(.*)\])?$", raw)
        name, argstring = m.group(1), m.group(2)
        fn = self.functions.get(name)
        if fn is None:
            return self._word(raw)
        args: List[str] = []
        kwargs: Dict[str, str] = {}
        if argstring:
            for part in argstring.split(","):
                if "=" in part:
                    k, v = part.split("=", 1)
                    k = k.strip()
                else:
                    k, v = None, part
                v = v.strip()
                if v.startswith("'") and v.endswith("'"):
                    v = v[1:-1]
                if k:
                    kwargs[k] = v
                else:
                    args.append(v)
        qs: List[Q.Query] = []
        nxt = self._peek()
        if nxt is not None and nxt.kind == "(":
            self._next()
            while True:
                t2 = self._peek()
                if t2 is None or t2.kind == ")":
                    break
                q = self._not_expr()
                while True:
                    t3 = self._peek()
                    if t3 is not None and t3.kind == "op" and t3.op in (
                        "And", "Or", "AndNot", "AndMaybe", "Require"
                    ):
                        op = self._next().op
                        rhs = self._not_expr()
                        if op == "And":
                            q = Q.And((q, rhs))
                        elif op == "Or":
                            q = Q.Or((q, rhs))
                        else:
                            q = self._BINOPS[op](q, rhs)
                    else:
                        break
                qs.append(q)
            if self._peek() is not None and self._peek().kind == ")":
                self._next()
            nxt = self._peek()
            if nxt is not None and nxt.kind == "word" and nxt.value.startswith("^"):
                try:
                    kwargs.setdefault("boost", float(nxt.value[1:]))
                    self._next()
                except ValueError:
                    pass
        return fn(qs, *args, **kwargs)

    def _single_quoted(self, t: _Tok) -> Q.Query:
        """SingleQuotePlugin (plugins.py:110-117): 'quoted text' is one
        term-like unit.  On a DATE field the text goes through the NL date
        grammar (DateParserPlugin's date:'last tuesday' shape); on text
        fields the analyzed tokens build the field's multitoken query
        (default: And of Terms, default.py:172-204)."""
        rf = self._resolve_field(t.field) if t.field is not None else None
        fieldname = rf if rf is not None else self.fieldname
        if self._kind(fieldname) == DATE:
            sp = self._date_span(t.value)
            if sp is not None:
                return self._leaf_hooks(
                    Q.DateRange(fieldname, sp[0], sp[1], False, False), rf
                )
            return Q.NullQuery()
        words = self.analyzer.query_terms(t.value)
        if not words:
            return Q.NullQuery()
        if len(words) == 1:
            leaf: Q.Query = Q.Term(words[0], fieldname)
        else:
            # multitoken group follows the parser's group class (no
            # coordination scale — see _make_group)
            leaf = self._make_group(
                (Q.Term(w, fieldname) for w in words), scaled=False
            )
        if rf is not None:
            return self._leaf_hooks(leaf, rf)
        if isinstance(leaf, Q.Term):
            return self._unfielded_leaf(leaf)
        # unfielded multitoken: MultifieldPlugin copies the WHOLE node per
        # field, so 'alfa bravo' in the MF parser is Or([And(name:a,
        # name:b), And(value:a, value:b)]) — NOT per-token Ors (verified
        # live; the per-token And([Or,Or]) shape only appears when a
        # trailing ^boost defeats the squote regex and the tokens lex as
        # separate words)
        return self._unfielded_multitoken(words, 1.0)

    def _parse_sequence_body(self, body: str, slop: int) -> Q.Query:
        """SequencePlugin body: parse the quoted text with the full grammar
        and match the resulting subqueries in sequence — e.g.
        '"(jon OR john OR jonathan~1) smith*"' matches any of the names
        directly before a smith* expansion.  Evaluates as SpanNear2
        (ordered, the given slop), the span algebra's sequence matcher."""
        from whoosh_reloaded_spark.query.spans import SpanNear2

        saved_toks, saved_i = self._toks, self._i
        try:
            self._toks = self._tag_operators(_lex(body))
            self._i = 0
            parts = []
            while self._peek() is not None:
                parts.append(self._not_expr())
            parts = [p for p in (c.normalize() for c in parts)
                     if not isinstance(p, Q.NullQuery)]
        finally:
            self._toks, self._i = saved_toks, saved_i
        if not parts:
            return Q.NullQuery()
        if len(parts) == 1:
            return parts[0]
        return SpanNear2(tuple(parts), slop=slop, ordered=True)

    @staticmethod
    def _boosted(q: Q.Query, boost: float) -> Q.Query:
        from dataclasses import replace

        if hasattr(q, "boost"):
            return replace(q, boost=q.boost * boost)
        return q

    def _group_cls(self):
        return Q.Or if self.group == "or" else Q.And

    def _group_name(self) -> str:
        return "Or" if self.group == "or" else "And"

    def _make_group(self, children, boost: float = 1.0,
                    scaled: bool = True) -> Q.Query:
        """Build the parser's DEFAULT group (the reference's parser.group
        — AndGroup unless group='or'/OrGroup).  Or-mode PAREN/top-level/
        juxtaposition groups carry the OrGroup.factory coordination
        scale, but MULTITOKEN word groups do NOT (verified live:
        "alfa AND 'alfa bravo'" nests an unscaled Or while
        'alfa AND (bravo charlie)' nests a scaled one) — pass
        scaled=False for multitoken expansion."""
        if self.group == "or":
            return _mark_group(
                Q.Or(
                    tuple(children), boost=boost,
                    scale=(self.group_scale if scaled else None),
                ),
                "Or",
            )
        return _mark_group(Q.And(tuple(children), boost), "And")

    def _paren_group(self, q: Q.Query, boost: Optional[float] = None) -> Q.Query:
        """GroupPlugin wraps '(...)' in the parser's default group
        (reference default.py group=syntax.AndGroup unless OrGroup):
        that WRAPPER is what a trailing ^boost attaches to and what a
        following same-op splices into (_apply_op_passes merging splice).
        Keeping the wrapper — an inner group of the OTHER type is NOT
        re-marked — is what makes '(alfa OR bravo)^2 OR c' flatten (no
        splice, c unboosted) while '(a b)^2 AND c' splices (c boosted),
        exactly as verified live against the reference; in or-mode the
        roles swap ('(a b)^2 OR c' splices, boosting c).
        normalize() collapses single-child wrappers, multiplying boosts."""
        from dataclasses import replace

        gcls, gname = self._group_cls(), self._group_name()
        already_marked = isinstance(q, gcls) and (
            getattr(q, "_syntax_group", None) == gname
        )
        if not already_marked:
            q = self._make_group((q,))
            if boost is not None:
                q = replace(q, boost=boost)
            return _mark_group(q, gname)
        else:
            # '((...))' / '((...)^2)^3': every paren pair is its own
            # GroupNode in the reference, so an outer paren adds a FRESH
            # wrapper around the inner group rather than folding into it.
            # That wrapper is what a following AND splices into, so the
            # spliced operand picks up only the OUTERMOST group's own
            # ^boost — '((a b)^2) AND c' does not boost c at all, and
            # '((alfa)^2)^2 AND alfa' boosts the swallowed alfa by 2 while
            # the inner contents get the nested product 4 (round-5 fuzz,
            # verified live vs reference)
            q = self._make_group((q,), boost=(1.0 if boost is None else boost))
        return _mark_group(q, self._group_name())

    # -- range construction by field kind ------------------------------------

    def _make_range(self, fieldname: str, lo: Optional[str], hi: Optional[str],
                    loexcl: bool, hiexcl: bool, boost: float = 1.0) -> Q.Query:
        kind = self._kind(fieldname)
        if kind == NUMERIC:
            try:
                start = float(lo) if lo is not None else None
                end = float(hi) if hi is not None else None
                return Q.NumericRange(fieldname, start, end, loexcl, hiexcl, boost)
            except ValueError:
                pass  # non-numeric bound on a numeric field -> treat as text
        if kind == DATE:
            # [2010 to 2012] -> floor(lo) .. ceil(hi) (dateparse range
            # semantics: each endpoint's span edge); endpoints may be
            # relative (today/yesterday/...)
            lo_sp = self._date_span(lo) if lo is not None else None
            hi_sp = self._date_span(hi) if hi is not None else None
            start = lo_sp[0] if lo_sp is not None else None
            end = hi_sp[1] if hi_sp is not None else None
            if (lo is None or start is not None) and (hi is None or end is not None):
                return Q.DateRange(fieldname, start, end, loexcl, hiexcl, boost)
        lo_t = lo.lower() if lo is not None else None
        hi_t = hi.lower() if hi is not None else None
        return Q.TermRange(lo_t, hi_t, fieldname, loexcl, hiexcl, boost)

    def _gtlt_range(self, fieldname: str, rel: str, text: str,
                    boost: float) -> Q.Query:
        """GtLtPlugin.make_range (plugins.py:1146-1155): < -> {None to x},
        > -> {x to None], <= -> [None to x], >= -> [x to None].  For date
        fields the endpoint uses the span edge facing AWAY from the range so
        `date:>2010` means strictly after 2010 ends."""
        kind = self._kind(fieldname)
        sp = self._date_span(text) if kind == DATE else None
        if sp is not None:
            lo_d, hi_d = sp
            if rel == "<":
                return Q.DateRange(fieldname, None, lo_d, False, True, boost)
            if rel == ">":
                return Q.DateRange(fieldname, hi_d, None, True, False, boost)
            if rel in ("<=", "=<"):
                return Q.DateRange(fieldname, None, hi_d, False, False, boost)
            return Q.DateRange(fieldname, lo_d, None, False, False, boost)
        if rel == "<":
            return self._make_range(fieldname, None, text, False, True, boost)
        if rel == ">":
            return self._make_range(fieldname, text, None, True, False, boost)
        if rel in ("<=", "=<"):
            return self._make_range(fieldname, None, text, False, False, boost)
        return self._make_range(fieldname, text, None, False, False, boost)

    # -- leaf post-processing (CopyField / Multifield hooks) ------------------

    def _leaf_hooks(self, q: Q.Query, explicit_field: Optional[str]) -> Q.Query:
        """CopyFieldPlugin rewrite (plugins.py:1277-1297): a leaf whose
        resolved field is in copy_fields becomes Or([orig, copy])."""
        from dataclasses import replace

        fname = getattr(q, "fieldname", None)
        if fname in self.copy_fields:
            return Q.Or((q, replace(q, fieldname=self.copy_fields[fname])))
        return q

    def _unfielded_leaf(self, q: Q.Query) -> Q.Query:
        """Hook for MultifieldParser; identity in the base parser."""
        return self._leaf_hooks(q, None)

    def _unfielded_multitoken(self, words: Sequence[str],
                              boost: float) -> Q.Query:
        """An unfielded word/quoted node whose analysis yields several
        tokens.  Base parser: And of Terms on the default field, the node
        boost on each term (default.py:172-204 term_query with the
        AndGroup multitoken default).  MultifieldParser overrides with
        whole-node per-field expansion."""
        return self._leaf_hooks(
            self._make_group(
                (Q.Term(w, self.fieldname, boost) for w in words),
                scaled=False,
            ),
            None,
        )

    def _word(self, raw: str) -> Q.Query:
        boost = 1.0
        fieldname = self.fieldname
        explicit_field: Optional[str] = None
        m = _BOOST_RE.search(raw)
        if m:
            boost = float(m.group(1))
            raw = raw[: m.start()]
        # EveryPlugin (plugins.py:349-360): '*:*' is the UNFIELDED Every —
        # its node ignores any trailing boost ('*:*^2' parses boost=1),
        # and inside And/Or it absorbs the whole compound in normalize.
        # A bare '*' is NOT EveryPlugin: it's WildcardPlugin's
        # Wildcard('*'), which normalizes to the FIELD's Every and is
        # multifield-expanded like any unfielded leaf (verified live:
        # MF '*^2' -> Or([Every(name), Every(value)], boost=2)).
        if raw == "*:*":
            return Q.Every(1.0, None)
        if raw == "*":
            leaf = Q.Wildcard("*", fieldname, boost)
            return self._unfielded_leaf(leaf)
        if ":" in raw:
            field, rest = raw.split(":", 1)
            rf = self._resolve_field(field)
            if rf is not None:
                fieldname = rf
                explicit_field = rf
                raw = rest
            elif field == "*" and rest == "*":
                return Q.Every(1.0, None)
            else:
                raw = rest
        # GtLtPlugin: requires an explicit field specifier (plugins.py:1093)
        gm = _GTLT_RE.match(raw)
        if gm and explicit_field is not None and raw[gm.end():]:
            return self._leaf_hooks(
                self._gtlt_range(fieldname, gm.group(1), raw[gm.end():], boost),
                explicit_field,
            )
        kind = self._kind(fieldname)
        if explicit_field is not None and kind == NUMERIC:
            try:
                v = float(raw)
                return self._leaf_hooks(
                    Q.NumericRange(fieldname, v, v, False, False, boost),
                    explicit_field,
                )
            except ValueError:
                pass
        if explicit_field is not None and kind == DATE:
            sp = self._date_span(raw)
            if sp is not None:
                return self._leaf_hooks(
                    Q.DateRange(fieldname, sp[0], sp[1], False, False, boost),
                    explicit_field,
                )
        # RegexPlugin (plugins.py:554-580): r"pattern" -> Regex query
        rm = re.match(r'^r"(.*)"$', raw)
        if rm:
            leaf = Q.Regex(rm.group(1), fieldname, boost)
            return (
                self._leaf_hooks(leaf, explicit_field)
                if explicit_field is not None
                else self._unfielded_leaf(leaf)
            )
        maxdist = None
        prefixlength = 0
        m = _FUZZY_RE.search(raw)
        if m and not raw.endswith('~"'):
            maxdist = int(m.group(1)) if m.group(1) else 1
            prefixlength = int(m.group(2)) if m.group(2) else 0
            raw = raw[: m.start()]
        if "*" in raw or "?" in raw:
            leaf = Q.Wildcard(raw.lower(), fieldname, boost)
            return (
                self._leaf_hooks(leaf, explicit_field)
                if explicit_field is not None
                else self._unfielded_leaf(leaf)
            )
        if maxdist is not None:
            # FuzzyTermPlugin text is the raw token LOWERCASED, never
            # tokenized: "bravo'~2" keeps the apostrophe, 'the~1' keeps
            # the stopword ('BRAVO~1' -> FuzzyTerm('bravo'); verified
            # live vs reference).  A trailing ^boost never reaches a
            # fuzzy: the lexer splits 'alfa~2^3' into two tokens (see
            # _lex), so `boost` is 1 here.
            if not raw:
                return Q.NullQuery()
            leaf = Q.FuzzyTerm(
                raw.lower(), fieldname, boost, maxdist=maxdist,
                prefixlength=prefixlength,
            )
            if explicit_field is not None:
                return self._leaf_hooks(leaf, explicit_field)
            return self._unfielded_leaf(leaf)
        terms = self.analyzer.query_terms(raw)
        if not terms:
            return Q.NullQuery()
        if len(terms) == 1:
            leaf = Q.Term(terms[0], fieldname, boost)
        else:
            # multi-token word (e.g. hyphenated): single-field keeps the
            # node boost on EACH term ('alfa-bravo^2' -> And([alfa^2,
            # bravo^2])); the MF parser expands the whole node per field
            # with the boost on the Or group instead (verified live)
            if explicit_field is None:
                return self._unfielded_multitoken(terms, boost)
            leaf = self._make_group(
                (Q.Term(w, fieldname, boost) for w in terms), scaled=False
            )
        if explicit_field is not None:
            return self._leaf_hooks(leaf, explicit_field)
        return self._unfielded_leaf(leaf)


class MultifieldParser(QueryParser):
    """MultifieldPlugin (plugins.py:1157-1203): unfielded leaves expand to
    an Or over `fieldnames` with optional per-field boosts — the basis of
    the reference's MultifieldParser (qparser/default.py:354-377)."""

    def __init__(self, fieldnames: Sequence[str],
                 fieldboosts: Optional[Dict[str, float]] = None,
                 analyzer: Optional[StandardAnalyzer] = None,
                 schema: Optional[Dict[str, str]] = None,
                 copy_fields: Optional[Dict[str, str]] = None):
        super().__init__(
            fieldname=fieldnames[0],
            analyzer=analyzer,
            known_fields=fieldnames,
            schema=schema,
            copy_fields=copy_fields,
        )
        self.fieldnames = list(fieldnames)
        self.fieldboosts = dict(fieldboosts or {})

    def _unfielded_multitoken(self, words: Sequence[str],
                              boost: float) -> Q.Query:
        """MultifieldPlugin copies the whole multitoken node per field
        (plugins.py:1157-1203): each copy is that field's And of Terms
        with the copy boost SET to the field boost, the node's own ^boost
        going on the Or group — 'alfa-bravo^2' is Or([And(name:alfa,
        name:bravo), And(value:alfa, value:bravo)], boost=2) (verified
        live vs reference)."""
        if self._fielded_group_depth > 0:
            return self._leaf_hooks(
                Q.And(tuple(Q.Term(w, self.fieldname, boost) for w in words)),
                self.fieldname,
            )
        copies = []
        for f in self.fieldnames:
            copies.append(
                self._leaf_hooks(
                    Q.And(
                        tuple(Q.Term(w, f) for w in words),
                        boost=self.fieldboosts.get(f, 1.0),
                    ),
                    f,
                )
            )
        return _mark_group(Q.Or(tuple(copies), boost=boost), "Or")

    def _unfielded_leaf(self, q: Q.Query) -> Q.Query:
        from dataclasses import replace

        if not hasattr(q, "fieldname"):
            return self._leaf_hooks(q, None)
        if self._fielded_group_depth > 0:
            # inside "field:(...)" the leaf is already explicitly fielded
            return self._leaf_hooks(q, self.fieldname)
        copies = []
        for f in self.fieldnames:
            c = replace(q, fieldname=f)
            if hasattr(c, "boost"):
                # MultifieldPlugin runs at priority 110 and sets each
                # copy's boost TO the field boost (set_boost replaces);
                # the leaf's own ^boost is a separate BoostNode applied at
                # 510 — i.e. to the whole OrGroup. So "alfa^2" parses as
                # Or([name:alfa, value:alfa], boost=2), making the group a
                # boosted splice target for a following OR (verified live
                # against the reference; round-5 fuzz finding).
                c = replace(c, boost=self.fieldboosts.get(f, 1.0))
            copies.append(self._leaf_hooks(c, f))
        return _mark_group(
            Q.Or(tuple(copies), boost=getattr(q, "boost", 1.0)), "Or"
        )


# SimpleParser/DisMaxParser grammar (default.py:415-449 pins): ONLY
# WhitespacePlugin + PlusMinusPlugin + PhrasePlugin — no fields, no
# wildcards, no boosts, no ranges, no groups.  The reference's taggers
# match at ANY position, so '+'/'-'/'"' SPLIT words: 'alfa-bravo' is
# word+Minus+word (bravo PROHIBITED), 'alfa"b c"' is word+phrase.
# Everything else is plain analyzed text.
_SIMPLE_TOKEN_RE = re.compile(
    r'"(?P<phrase>[^"]*)"(~(?P<slop>[1-9]\d*))?'
    r'|(?P<sign>[+-])'
    r'|(?P<word>[^\s+"-]+)'
)


class SimpleParser(QueryParser):
    """The reference's SimpleParser (qparser/default.py:415-424): only
    +required / -prohibited / phrase syntax, optional terms Or-grouped.

    PlusMinusPlugin semantics (plugins.py:1016-1078): nodes sort into
    required / optional / banned; result =
    AndNot(AndMaybe(And(required), Or(optional)), Or(banned)) with empty
    groups collapsing away in normalize().

    With no Fields/Wildcard/Fuzzy/Boost/Range plugins pinned, every
    non-phrase token is PLAIN TEXT through the analyzer: 'name:alfa' is
    the two terms name+alfa, 'alf*' keeps its star as a literal (the
    default token pattern classes '*' as a word char), 'alfa^3'/'alfa~1'
    lose their suffix to tokenization, '[alfa TO bravo]' is alfa+bravo
    ('to' is a stopword) — all verified live vs the reference.
    Multitoken text groups with the parser's OrGroup, not And."""

    def parse(self, s: str) -> Q.Query:
        required: List[Q.Query] = []
        optional: List[Q.Query] = []
        banned: List[Q.Query] = []
        target = optional
        for m in _SIMPLE_TOKEN_RE.finditer(s):
            if m.group("sign") is not None:
                # a sign applies to the NEXT node, across whitespace;
                # consecutive signs: last one wins ('+-alfa' bans alfa)
                target = required if m.group("sign") == "+" else banned
                continue
            if m.group("phrase") is not None:
                node = self._simple_phrase(
                    m.group("phrase"),
                    int(m.group("slop")) if m.group("slop") else 1,
                )
            else:
                node = self._simple_word(m.group("word"))
            # NullQuery nodes are KEPT: normalize cascades them the way
            # the reference's BooleanQuery does — an all-null required
            # group nukes the query ('+the alfa' -> NullQuery via
            # AndMaybe(And([null]), ...)), while null banned/optional
            # nodes drop harmlessly (verified live)
            target.append(node)
            target = optional
        group: Q.Query = Q.Or(tuple(optional))
        if required:
            group = Q.AndMaybe(Q.And(tuple(required)), group)
        if banned:
            group = Q.AndNot(group, Q.Or(tuple(banned)))
        return group.normalize()

    def _simple_word(self, raw: str) -> Q.Query:
        terms = self.analyzer.query_terms(raw)
        if not terms:
            return Q.NullQuery()
        if len(terms) == 1:
            return Q.Term(terms[0], self.fieldname)
        return Q.Or(tuple(Q.Term(w, self.fieldname) for w in terms))

    def _simple_phrase(self, body: str, slop: int) -> Q.Query:
        words = self.analyzer.query_terms(body)
        if not words:
            return Q.NullQuery()
        if len(words) == 1:
            return Q.Term(words[0], self.fieldname)
        return Q.Phrase(tuple(words), self.fieldname, slop=slop)


class DisMaxParser(SimpleParser):
    """The reference's DisMaxParser (qparser/default.py:427-449): the
    SimpleParser grammar with every node expanded across `fieldboosts`
    fields into a DisjunctionMax — per-field copies carry the field
    boost (MultifieldPlugin set_boost), multitoken text stays an
    OrGroup inside each field's copy (verified live: 'name:alfa' ->
    DisMax([Or([name:name, name:alfa]), Or([value:name^2,
    value:alfa^2])]) for fieldboosts {name:1, value:2})."""

    def __init__(self, fieldboosts: Dict[str, float], tiebreak: float = 0.0,
                 analyzer: Optional[StandardAnalyzer] = None,
                 schema: Optional[Dict[str, str]] = None):
        fields = list(fieldboosts.keys())
        super().__init__(
            fieldname=fields[0], analyzer=analyzer,
            known_fields=fields, schema=schema,
        )
        self.fieldboosts = dict(fieldboosts)
        self.tiebreak = tiebreak

    def _simple_word(self, raw: str) -> Q.Query:
        terms = self.analyzer.query_terms(raw)
        if not terms:
            return Q.NullQuery()
        copies = []
        for f, fb in self.fieldboosts.items():
            if len(terms) == 1:
                copies.append(Q.Term(terms[0], f, fb))
            else:
                copies.append(
                    Q.Or(tuple(Q.Term(w, f, fb) for w in terms))
                )
        return Q.DisjunctionMax(tuple(copies), tiebreak=self.tiebreak)

    def _simple_phrase(self, body: str, slop: int) -> Q.Query:
        words = self.analyzer.query_terms(body)
        if not words:
            return Q.NullQuery()
        copies = []
        for f, fb in self.fieldboosts.items():
            if len(words) == 1:
                copies.append(Q.Term(words[0], f, fb))
            else:
                copies.append(
                    Q.Phrase(tuple(words), f, slop=slop, boost=fb)
                )
        return Q.DisjunctionMax(tuple(copies), tiebreak=self.tiebreak)
