"""DisjunctionMaxQuery + (e)dismax query building.

``dismax_node`` is the scoring primitive
(search/DisjunctionMaxQuery.java:47-63 / DisjunctionMaxScorer.java:49-61):
a doc matches when ANY disjunct matches, and scores

    max(clause scores) + tieBreakerMultiplier * (sum - max)

``edismax_node`` is the user-facing surface of the (Extended)DisMax
query parsers (solr/core/.../search/DisMaxQParser.java:60-120,
ExtendedDismaxQParser.java:65): the user query is analyzed, each term
becomes a DisjunctionMax across the ``qf`` fields (each field's clause
carrying its qf boost), and the per-term DisMaxes combine with
minimum-match semantics (mm) — the "search the way Solr does by
default" composition.

Spark-first: both are pure REWRITES into the engines' existing node
algebra — dismax is one new scorer node, scored by the engine's one
clause-order sum (`LocalSearcher._sum_parts` with a max over the same
sorted union), locally and in every distributed shard; the field/boost
machinery reuses the existing ``fterm`` / ``boost`` nodes, so no new
scan shape is introduced.
"""
from __future__ import annotations

from ..analysis import analyze_query_terms
from .parser import DEFAULT_FIELDS, QueryParseError


def dismax_node(clauses: list, tie: float = 0.0):
    """("dismax", clauses, tie) with the reference's rewrites: zero
    disjuncts match nothing, a single disjunct IS the query
    (DisjunctionMaxQuery.rewrite — the tie multiplier never applies
    with one clause)."""
    clauses = [c for c in clauses if c is not None and c[0] != "matchnone"]
    if not clauses:
        return ("matchnone",)
    if len(clauses) == 1:
        return clauses[0]
    return ("dismax", clauses, float(tie))


def edismax_node(user_query: str, qf: dict[str, float],
                 tie: float = 0.0, mm: int = 1,
                 pf: dict[str, float] | None = None, ps: int = 0):
    """Parse `user_query` the (e)dismax way: analyzer over the raw
    words, one DisjunctionMax per surviving term across the qf fields,
    composed with minimumNumberShouldMatch = mm (DisMaxQParser's
    mm-driven BooleanQuery; mm >= #terms degenerates to AND).  Text
    fields analyze the term; keyword fields match it verbatim
    (lowercased, the reference's field-type discipline).

    `pf` (phrase fields, DisMaxQParser.addShingledPhraseQueries /
    ExtendedDismaxQParser pf handling): when the query has >= 2
    analyzed terms, the WHOLE query is added as a boosted sloppy
    phrase (slop `ps`) per pf field in an optional SHOULD position —
    docs matching the full phrase rank above bag-of-words matches
    without changing the match set (ReqOptSumScorer composition).
    Only analyzed-text pf fields make sense (positions live there)."""
    for f in qf:
        if f not in DEFAULT_FIELDS:
            raise QueryParseError(f"unknown qf field {f!r}")
    words = [w for w in user_query.split() if w]
    per_term = []
    for w in words:
        disjuncts = []
        for f, boost in qf.items():
            if DEFAULT_FIELDS[f] == "text":
                terms = analyze_query_terms(w)
                if not terms:
                    continue
                base = (
                    ("term", terms[0]) if len(terms) == 1
                    else ("or", [("term", t) for t in terms])
                )
            elif DEFAULT_FIELDS[f] == "keyword":
                base = ("fterm", f, w.lower())
            else:  # point fields are not scoreable qf targets
                continue
            disjuncts.append(
                base if float(boost) == 1.0 else ("boost", base, float(boost))
            )
        node = dismax_node(disjuncts, tie)
        if node[0] != "matchnone":
            per_term.append(node)
    if not per_term:
        return ("matchnone",)
    if len(per_term) == 1:
        main = per_term[0]
    else:
        mm = max(1, min(int(mm), len(per_term)))
        if mm == len(per_term):
            main = ("and", per_term)
        elif mm == 1:
            main = ("or", per_term)
        else:
            main = ("msm_or", mm, per_term)
    phrase = _pf_clause(words, pf or {}, ps)
    if phrase is None:
        return main
    return ("reqopt", main, phrase)


def _pf_clause(words: list[str], pf: dict[str, float], ps: int):
    """Boosted whole-query phrase clause(s) for the pf fields, or None
    when pf is empty / fewer than 2 analyzed terms survive."""
    if not pf:
        return None
    for f in pf:
        if DEFAULT_FIELDS.get(f) != "text":
            raise QueryParseError(
                f"pf field {f!r} must be an analyzed text field"
            )
    from ..analysis.analyzer import analyze_detailed

    terms, poss = analyze_detailed(" ".join(words))
    if len(terms) < 2:
        return None
    base = poss[0]
    clauses = [(t, p - base) for t, p in zip(terms, poss)]
    node = (("phrase", clauses, int(ps)) if ps > 0
            else ("phrase", clauses))
    boosted = [
        node if float(b) == 1.0 else ("boost", node, float(b))
        for _f, b in sorted(pf.items())
    ]
    return boosted[0] if len(boosted) == 1 else ("or", boosted)
