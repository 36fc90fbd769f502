"""StandardAnalyzer-semantics analysis chain.

Reference semantics (Lucene 7.0, /root/reference):

- Tokenizer: UAX#29 word-break; we implement the ALPHANUM/NUM subset
  (SURVEY.md §7 hard-part 3 documents the deviation): maximal runs of
  ``[A-Za-z0-9_]`` joined across single ``' . :`` connectors, matching
  StandardTokenizer behavior on that subset (MidLetter/MidNumLet/
  ExtendNumLet rules).  Grammar reference:
  lucene/analysis/common/src/java/org/apache/lucene/analysis/standard/
  StandardTokenizerImpl.jflex:40-66.
- Tokens longer than MAX_TOKEN_LENGTH (255) are dropped but still advance
  the position (StandardTokenizer.java:178-188 ``skippedPositions++``).
- StandardFilter: no-op in 7.0 (StandardFilter.java).
- LowerCaseFilter: per-codepoint lowercase (LowerCaseFilter.java:45).
- StopFilter: fixed 33-word English set (StandardAnalyzer.java:44-50);
  removed tokens increase the position increment of the next surviving
  token (FilteringTokenFilter.java:49-63), so positions have gaps.

Field length for norms counts surviving tokens only
(DefaultIndexingChain.java:710-790; FieldInvertState.java:35-37).
"""

from __future__ import annotations

import re

MAX_TOKEN_LENGTH = 255

# StandardAnalyzer.ENGLISH_STOP_WORDS_SET (StandardAnalyzer.java:44-50)
ENGLISH_STOP_WORDS = frozenset(
    """a an and are as at be but by for if in into is it no not of on or such
    that the their then there these they this to was will with""".split()
)

# ALPHANUM/NUM subset of UAX#29: base chars [A-Za-z0-9_] (underscore is
# ExtendNumLet and joins), single MidLetter/MidNumLet connectors ' . :
# between base runs.  Fixtures are constrained to this subset (FIXTURES.md §3).
_TOKEN_RE = re.compile(r"[A-Za-z0-9_]+(?:['.:][A-Za-z0-9_]+)*")


def analyze(text: str) -> list[str]:
    """Full chain, terms only: tokenize -> 255-drop -> lowercase -> stop."""
    out = []
    for tok in _TOKEN_RE.findall(text):
        if len(tok) > MAX_TOKEN_LENGTH:
            continue
        tok = tok.lower()
        if tok in ENGLISH_STOP_WORDS:
            continue
        out.append(tok)
    return out


def analyze_detailed(text: str) -> tuple[list[str], list[int]]:
    """Full chain with positions.

    Returns (terms, positions).  Position starts at -1 and advances by each
    token's increment (DefaultIndexingChain.java:710-790); dropped tokens
    (too-long, stopword) increase the next survivor's increment, producing
    gaps.  len(terms) is the field length used for norms.
    """
    terms: list[str] = []
    positions: list[int] = []
    pos = -1
    skipped = 0
    for tok in _TOKEN_RE.findall(text):
        if len(tok) > MAX_TOKEN_LENGTH:
            skipped += 1
            continue
        low = tok.lower()
        if low in ENGLISH_STOP_WORDS:
            skipped += 1
            continue
        pos += skipped + 1
        skipped = 0
        terms.append(low)
        positions.append(pos)
    return terms, positions


def analyze_query_terms(query_text: str) -> list[str]:
    """Analyze one query atom (QueryParser runs the field analyzer on
    query text; stopwords vanish — the all-stopword query matches nothing)."""
    return analyze(query_text)


# ------------------------------------------- analyzer extension point
#
# The reference's per-field analyzer discipline (Analyzer /
# TokenFilter chains): a BuildConfig can swap in a configured chain,
# the manifest records it, and searchers re-create the SAME chain for
# query analysis.  Options mirror the common reference filters:
#
# - ascii_fold: ASCIIFoldingFilter subset
#   (analysis/common/.../miscellaneous/ASCIIFoldingFilter.java) —
#   implemented as NFKD-decompose + strip combining marks (covers the
#   accented-Latin block; the reference's exhaustive switch also maps
#   typographic symbols we don't index).  Runs after lowercase.
# - synonyms: index-time single-token synonym map
#   (analysis/common/.../synonym/SynonymGraphFilter.java:81, the
#   single-token subset — no multi-word graphs): each mapped token
#   ALSO emits its synonyms at the same position (posIncrement 0);
#   every emitted token counts toward the field length, exactly like
#   invertState.length++ per token.
# - stem: 'porter' (en/PorterStemFilter.java:56 — stem.porter_stem) or
#   'minimal' (en/EnglishMinimalStemFilter.java — the S-stemmer).
#   Stemming runs LAST (EnglishAnalyzer chain order: stop before
#   Porter), after synonym insertion.

import unicodedata
from dataclasses import dataclass


def ascii_fold(token: str) -> str:
    if token.isascii():
        return token
    out = unicodedata.normalize("NFKD", token)
    return "".join(c for c in out if not unicodedata.combining(c))


@dataclass(frozen=True)
class AnalyzerOptions:
    stem: str | None = None          # None | 'porter' | 'minimal'
    synonyms: tuple = ()             # ((term, (syn, ...)), ...) sorted
    ascii_fold: bool = False

    @staticmethod
    def make(stem: str | None = None, synonyms: dict | None = None,
             ascii_fold: bool = False) -> "AnalyzerOptions":
        assert stem in (None, "porter", "minimal")
        syn = tuple(sorted(
            (k, tuple(sorted(v))) for k, v in (synonyms or {}).items()
        ))
        return AnalyzerOptions(stem=stem, synonyms=syn,
                               ascii_fold=ascii_fold)

    def is_default(self) -> bool:
        return (self.stem is None and not self.synonyms
                and not self.ascii_fold)

    def to_manifest(self) -> dict:
        return {"stem": self.stem,
                "synonyms": [[k, list(v)] for k, v in self.synonyms],
                "ascii_fold": self.ascii_fold}

    @staticmethod
    def from_manifest(d: dict | None) -> "AnalyzerOptions":
        if not d:
            return AnalyzerOptions()
        return AnalyzerOptions.make(
            stem=d.get("stem"),
            synonyms={k: list(v) for k, v in d.get("synonyms", [])},
            ascii_fold=bool(d.get("ascii_fold")),
        )


def analyze_detailed_with(text: str, opts: AnalyzerOptions
                          ) -> tuple[list[str], list[int]]:
    """Configured chain with positions: tokenize -> 255-drop ->
    lowercase -> [fold] -> stop -> [synonym insert @posIncr 0] ->
    [stem].  Default options == analyze_detailed exactly."""
    if opts.is_default():
        return analyze_detailed(text)
    from .stem import english_minimal_stem, porter_stem

    stem_fn = {"porter": porter_stem, "minimal": english_minimal_stem,
               None: None}[opts.stem]
    syn = {k: v for k, v in opts.synonyms}
    terms: list[str] = []
    positions: list[int] = []
    pos = -1
    skipped = 0
    for tok in _TOKEN_RE.findall(text):
        if len(tok) > MAX_TOKEN_LENGTH:
            skipped += 1
            continue
        low = tok.lower()
        if opts.ascii_fold:
            low = ascii_fold(low)
        if low in ENGLISH_STOP_WORDS:
            skipped += 1
            continue
        pos += skipped + 1
        skipped = 0
        emitted = [low] + list(syn.get(low, ()))
        for t in emitted:
            terms.append(stem_fn(t) if stem_fn else t)
            positions.append(pos)
    return terms, positions


def analyze_with(text: str, opts: AnalyzerOptions) -> list[str]:
    if opts.is_default():
        return analyze(text)
    return analyze_detailed_with(text, opts)[0]
