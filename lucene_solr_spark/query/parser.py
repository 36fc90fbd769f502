"""Boolean query parser: the classic-QueryParser surface re-expressed.

Grammar subset of lucene/queryparser/.../classic/QueryParser.jj:196-226:

    terms, AND/&&, OR/||, NOT/!/-, +, parentheses,
    "exact phrase", "sloppy phrase"~n (repeat-free; repeated-term sloppy
    phrases take the reference's hasRpts path and are rejected),
    wild*card / wild?card, prefix*, fuzzy~[n], /regexp/,
    [lo TO hi] / {lo TO hi} term ranges, clause^boost,
    (a b c)@n minimumNumberShouldMatch groups,
    field:value scoping (text: analyzed, role:/tool: keyword StringField,
    ts: point ranges `ts:[iso TO iso]`), #clause Occur.FILTER prefix
    (match-no-score; the classic parser has no FILTER syntax — `#` is
    this parser's surface for BooleanClause.Occur.FILTER / Solr fq).

Query atoms run through the same analyzer as indexing, so stopwords
vanish (an all-stopword query is empty -> matches nothing) and atoms
that analyze to multiple terms become an implicit OR of those terms.
Multi-term atoms (wildcard/prefix/fuzzy/regexp/range) are lowercased but
NOT analyzed, exactly like the classic parser's
``getWildcardQuery``/``getRangeQuery`` (QueryParser lowercases by
default, no analysis chain); they rewrite against the term dictionary
at search time into constant-score matches
(MultiTermQueryConstantScoreWrapper — Lucene 7.0's default
CONSTANT_SCORE_REWRITE).

Output: the oracle/engine query tree
    ("term", t)
  | ("and", [nodes]) | ("or", [nodes])
  | ("andnot", pos_node, neg_node)        # MUST_NOT / ReqExclScorer
  | ("reqopt", req_node, opt_node)        # '+' in an OR context / ReqOptSumScorer
  | ("boost", node, factor)               # BoostQuery
  | ("msm_or", n, [nodes])                # OR with minShouldMatch=n
  | ("fterm", field, value)               # keyword-field TermQuery
  | ("tsrange", lo, hi, incl_lo, incl_hi) # point-field range (ts)
  | ("reqfilter", pos, filt)              # Occur.FILTER clauses present
  | ("filter0", filt)                     # only-FILTER query (score 0)
  | ("phrase", [(term, rel_pos), ...])    # PhraseQuery (exact), analyzer
                                          #   position gaps preserved
  | ("phrase", [(term, rel_pos), ...], slop)  # sloppy phrase (~n)
  | ("prefix", p) | ("wildcard", pat) | ("fuzzy", term, max_edits)
  | ("regexp", pat) | ("range", lo, hi, incl_lo, incl_hi)
  | ("matchnone",)                        # pure-negative query
with single-clause boolean nodes collapsed (BooleanQuery.java:208-234
one-clause rewrite; pure-negative -> MatchNoDocsQuery per
BooleanQuery.java:208-234 rewrite rules).
"""

from __future__ import annotations

import re

from ..analysis import analyze_query_terms
from ..analysis.analyzer import analyze_detailed

_TOKENS_RE = re.compile(
    r'"[^"]*"(?:~[^\s()!"^]*)?(?:\^[0-9.]+)?'  # phrase [~slop][^boost]
    r"|/[^/]*/(?:\^[0-9.]+)?"           # regexp [+boost]
    r"|\(|\)|&&|\|\||!|\+(?=[^\s])|-(?=[^\s])|#(?=[^\s])"
    r"|[^\s()!]+"
)

_FUZZY_RE = re.compile(r"^([^~*?]+)~(\d*)$")
_BOOST_RE = re.compile(r"^(.+?)\^([0-9]+(?:\.[0-9]+)?)$")
_FIELD_RE = re.compile(r"^([A-Za-z_][A-Za-z0-9_]*):(.+)$", re.DOTALL)

#: the index's field schema ("a term followed by a colon, indicating the
#: field", queryparser/classic/QueryParser.jj:52-53 + index/FieldInfos):
#: text  — analyzed TextField (the default search field),
#: role/tool — keyword StringFields (verbatim value, omitNorms),
#: ts    — point field (timestamp ranges, PointRangeQuery analogue).
#: Atoms with an unknown prefix fall through to the analyzer unchanged
#: (':' is a StandardTokenizer MidLetter connector); a second prefix
#: (`a:b:c`) is a QueryParseError.
DEFAULT_FIELDS = {
    "text": "text",
    "role": "keyword",
    "tool": "keyword",
    "ts": "point",
}


class QueryParseError(ValueError):
    pass


def _lex(text: str) -> list[str]:
    return _TOKENS_RE.findall(text)


class _Parser:
    def __init__(self, toks: list[str], fields: dict[str, str] | None = None,
                 opts=None):
        self.toks = toks
        self.i = 0
        self.fields = DEFAULT_FIELDS if fields is None else fields
        # configured analyzer chain (AnalyzerOptions) — QueryParser
        # runs the INDEX field's analyzer on query atoms, so a stemmed
        # or synonym-mapped index analyzes its queries identically
        self.opts = opts

    def _analyze(self, text: str) -> list[str]:
        if self.opts is None:
            return analyze_query_terms(text)
        from ..analysis.analyzer import analyze_with

        return analyze_with(text, self.opts)

    def _analyze_detailed(self, text: str):
        if self.opts is None:
            return analyze_detailed(text)
        from ..analysis.analyzer import analyze_detailed_with

        return analyze_detailed_with(text, self.opts)

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    # or_expr := and_expr ((OR | <juxtaposition>) and_expr)*
    # juxtaposed clauses use the default operator OR (QueryParser default
    # operator SHOULD, QueryParser.jj).  '+' clauses become required
    # (ReqOptSumScorer); '-'/NOT clauses become prohibited (ReqExclScorer).
    def parse_or(self):
        shoulds, musts, must_nots, filters = [], [], [], []
        first = True
        while True:
            t = self.peek()
            if not first and t not in ("OR", "||") and (t is None or t == ")"):
                break
            if not first and t in ("OR", "||"):
                self.next()
            occur, node = self.parse_and()
            first = False
            if node is None:
                continue
            (musts if occur == "+" else
             must_nots if occur == "-" else
             filters if occur == "#" else shoulds).append(node)
        pos: tuple | None
        if musts and shoulds:
            pos = ("reqopt", _combine("and", musts), _combine("or", shoulds))
        elif musts:
            pos = _combine("and", musts)
        else:
            pos = _combine("or", shoulds)
        if filters:
            # Occur.FILTER clauses: must match, contribute no score
            fnode = _combine("and", filters)
            pos = ("filter0", fnode) if pos is None else ("reqfilter", pos, fnode)
        if must_nots:
            if pos is None:
                return ("matchnone",)  # pure negative (BooleanQuery rewrite)
            return ("andnot", pos, _combine("or", must_nots))
        return pos

    # and_expr := unary (AND unary)*; returns (occur, node) where occur is
    # the leading clause modifier of the FIRST unary ('+', '-', or '')
    def parse_and(self):
        occur, first_node = self.parse_unary()
        parts = [first_node]
        negs, filters = [], []
        while self.peek() in ("AND", "&&"):
            self.next()
            o2, n2 = self.parse_unary()
            if n2 is None:
                continue
            (negs if o2 == "-" else
             filters if o2 == "#" else parts).append(n2)
        kept = [p for p in parts if p is not None]
        node = _combine("and", kept)
        if filters:
            fnode = _combine("and", filters)
            node = ("filter0", fnode) if node is None else ("reqfilter", node, fnode)
        if negs:
            if node is None:
                return occur, ("matchnone",)
            node = ("andnot", node, _combine("or", negs))
        return occur, node

    # unary := ('+'|'-'|'!'|NOT) unary | atom
    def parse_unary(self):
        t = self.peek()
        if t in ("NOT", "!", "-"):
            self.next()
            occur, node = self.parse_unary()
            # NOT NOT x == x (double negation at the clause level)
            return ("" if occur == "-" else "-"), node
        if t == "+":
            self.next()
            _, node = self.parse_unary()
            return "+", node
        if t == "#":
            self.next()
            _, node = self.parse_unary()
            return "#", node
        return "", self.parse_atom()

    def parse_atom(self):
        t = self.peek()
        if t is None:
            raise QueryParseError("unexpected end of query")
        if t == "(":
            self.next()
            node = self.parse_or()
            if self.next() != ")":
                raise QueryParseError("expected ')'")
            return self._maybe_boost(self._maybe_msm(node))
        if t == ")":
            raise QueryParseError("unexpected ')'")
        self.next()
        return self._atom_node(t)

    def _maybe_boost(self, node):
        t = self.peek()
        if node is not None and t and _BOOST_RE.match("x" + t) and t.startswith("^"):
            self.next()
            return ("boost", node, float(t[1:]))
        return node

    def _maybe_msm(self, node):
        """`(a b c)@n` — minimumNumberShouldMatch=n on a SHOULD group
        (BooleanQuery.setMinimumNumberShouldMatch,
        search/BooleanQuery.java:77-96; the reference exposes this via
        the API / Solr's mm param, the @n suffix is this parser's
        surface for it).  Rewrite rules per BooleanWeight:
        n <= 1 -> plain OR; n > #clauses -> MatchNoDocs."""
        t = self.peek()
        if node is None or not t or not re.fullmatch(r"@\d+", t):
            return node
        self.next()
        n = int(t[1:])
        if node[0] != "or" or not isinstance(node[1], list):
            raise QueryParseError(
                "@n (minimumNumberShouldMatch) requires a parenthesized "
                "group of SHOULD clauses"
            )
        if n <= 1:
            return node
        if n > len(node[1]):
            return ("matchnone",)
        return ("msm_or", n, node[1])

    def _atom_node(self, t: str):
        boost = None
        m = _BOOST_RE.match(t)
        if m and not t.startswith("[") and not t.startswith("{"):
            t, boost = m.group(1), float(m.group(2))
        # `^` takes only a NUMBER (QueryParser.jj CARAT <NUMBER>): any
        # other `^` outside a phrase or regexp body is a syntax error,
        # never a term separator (ranges check their own boost)
        body = t.find(t[0], 1) + 1 if t[0] in '"/' else 0
        if t[0] not in "[{" and "^" in t[body:]:
            raise QueryParseError(f"bad boost in {t!r}: '^' takes a number")

        node = self._bare_atom(t)
        if node is not None and boost is not None:
            node = ("boost", node, boost)
        return node

    def _collect_bracket(self, first: str) -> tuple[str, float | None]:
        """Collect the remaining tokens of a bracketed range whose first
        token is `first`; returns (joined text, boost or None) — a
        trailing ^boost on the closing token is legal."""
        toks = [first]
        boost = None
        while True:
            last = toks[-1]
            mb = re.match(r"^(.*[\]}])\^([0-9]+(?:\.[0-9]+)?)$", last)
            if mb:
                toks[-1] = mb.group(1)
                boost = float(mb.group(2))
                break
            if last[-1] in "]}":
                break
            nxt = self.next()
            if nxt is None:
                raise QueryParseError("unterminated range")
            toks.append(nxt)
        return " ".join(toks), boost

    def _bare_atom(self, t: str):
        # field-scoped atom: `field:value` (QueryParser.jj:52-53)
        m = _FIELD_RE.match(t)
        if m and ":" in m.group(2) and self.fields.get(m.group(1)) != "point":
            # one field prefix per atom; only point values (timestamps)
            # carry a colon
            raise QueryParseError(f"bad field prefix in {t!r}: a second ':'")
        if m and m.group(1) in self.fields and not t.startswith('"'):
            fname, rest = m.group(1), m.group(2)
            ftype = self.fields[fname]
            if ftype == "text":
                # the default field — analyzed like an unscoped atom
                return self._bare_atom(rest)
            if ftype == "keyword":
                # StringField: verbatim value, no analysis, no multi-term
                if rest[0] in '[{/"' or any(c in rest for c in "*?~"):
                    raise QueryParseError(
                        f"keyword field {fname!r} supports exact values only"
                    )
                return ("fterm", fname, rest)
            # point field (ts): range or exact value
            if rest[0] in "[{":
                joined, boost = self._collect_bracket(rest)
                mr = re.match(r"^([\[{])(\S+) TO (\S+)([\]}])$", joined)
                if not mr:
                    raise QueryParseError(f"bad {fname} range {joined!r}")
                lo = None if mr.group(2) == "*" else _ts_value(mr.group(2))
                hi = None if mr.group(3) == "*" else _ts_value(mr.group(3))
                node = ("tsrange", lo, hi,
                        mr.group(1) == "[", mr.group(4) == "]")
                return ("boost", node, boost) if boost is not None else node
            v = _ts_value(rest)
            return ("tsrange", v, v, True, True)
        # quoted phrase; "~n" = sloppy phrase (SloppyPhraseScorer)
        if t.startswith('"'):
            m = re.match(r'^"([^"]*)"(?:~(\d*))?$', t)
            if not m:
                raise QueryParseError(f"bad phrase {t!r}")
            body, slop = m.group(1), m.group(2)
            slop = int(slop) if slop else 0
            terms, poss = self._analyze_detailed(body)
            if not terms:
                return None
            if len(terms) == 1:
                return ("term", terms[0])  # 1-term phrase -> TermQuery
            base = poss[0]
            clauses = [(tm, p - base) for tm, p in zip(terms, poss)]
            if slop > 0:
                return ("phrase", clauses, slop)
            return ("phrase", clauses)
        # synonym group: `a|b|c` scores as ONE pseudo-term
        # (search/SynonymQuery.java — the QueryParser emits it for
        # analyzer-injected same-position synonyms; `|` is our string
        # surface for the same query)
        if ("|" in t and t[0] not in '"/[{'
                and "*" not in t and "?" not in t):
            alts = [a for a in re.split(r"\|+", t) if a]
            terms: list[str] = []
            for a in alts:
                at = self._analyze(a)
                if len(at) > 1:
                    raise QueryParseError(
                        f"synonym alternative {a!r} must analyze to one "
                        "term"
                    )
                terms.extend(at)  # stopword alternatives drop out
            if not terms:
                return None
            if len(terms) == 1:
                return ("term", terms[0])
            return ("synonym", sorted(set(terms)))
        # regexp
        if t.startswith("/") and t.endswith("/") and len(t) >= 2:
            return ("regexp", t[1:-1].lower())
        # term range (a trailing ^boost on the closing token is legal in
        # the classic parser: `[aa TO bb]^2`)
        if t[0] in "[{":
            joined, boost = self._collect_bracket(t)
            m = re.match(r"^([\[{])(\S+) TO (\S+)([\]}])$", joined)
            if not m:
                raise QueryParseError(f"bad range {joined!r}")
            lo = None if m.group(2) == "*" else m.group(2).lower()
            hi = None if m.group(3) == "*" else m.group(3).lower()
            node = ("range", lo, hi, m.group(1) == "[", m.group(4) == "]")
            return ("boost", node, boost) if boost is not None else node
        # fuzzy: `~` follows a term and takes only an optional NUMBER
        # (QueryParser.jj <FUZZY_SLOP>); any other `~` is a syntax error
        if "~" in t:
            m = _FUZZY_RE.match(t)
            if not m:
                raise QueryParseError(
                    f"bad fuzzy {t!r}: '~' follows a term and takes a number"
                )
            edits = int(m.group(2)) if m.group(2) else 2
            if edits > 2:
                raise QueryParseError("fuzzy maxEdits <= 2 (FuzzyQuery)")
            if edits == 0:
                return ("term", m.group(1).lower())
            return ("fuzzy", m.group(1).lower(), edits)
        # wildcard / prefix
        if "*" in t or "?" in t:
            low = t.lower()
            if low.endswith("*") and "*" not in low[:-1] and "?" not in low:
                return ("prefix", low[:-1])
            return ("wildcard", low)
        # plain term(s) through the analyzer
        terms = self._analyze(t)
        if not terms:
            return None  # stopword / too-long atom: removed by analysis
        if len(terms) == 1:
            return ("term", terms[0])
        return ("or", [("term", x) for x in terms])


def _combine(kind: str, nodes: list):
    nodes = [n for n in nodes if n is not None]
    if not nodes:
        return None
    if len(nodes) == 1:
        return nodes[0]
    return (kind, nodes)


def _ts_value(v: str) -> str:
    """Validate a point-field (timestamp) literal; returns it unchanged
    for the engine to interpret as numpy datetime64."""
    from datetime import datetime

    try:
        datetime.fromisoformat(v)
    except ValueError:
        raise QueryParseError(f"bad timestamp literal {v!r}") from None
    return v


def parse_query(text: str, fields: dict[str, str] | None = None,
                opts=None):
    """Parse to a query tree; returns None for a query that is empty after
    analysis (matches no documents).  `fields` overrides the index field
    schema (DEFAULT_FIELDS); `opts` (analysis.analyzer.AnalyzerOptions)
    swaps in a configured analyzer chain for query atoms — searchers
    pass their index's manifest-recorded chain."""
    toks = _lex(text)
    if not toks:
        return None
    p = _Parser(toks, fields, opts)
    node = p.parse_or()
    if p.peek() is not None:
        raise QueryParseError(f"trailing input at token {p.i}: {p.peek()!r}")
    return node
