"""Pure numpy golden oracle of Lucene's index + BM25 query semantics.

This is the executable spec (SURVEY.md §5 item 2): a tiny single-node
implementation of exactly the reference semantics, used in tests as the
golden model for the Spark engine (TestBoolean2-style cross-implementation
equivalence, lucene/core/src/test/org/apache/lucene/search/TestBoolean2.java).

Float discipline (must match Java evaluation order):
- idf = (float) Math.log(1 + (docCount - docFreq + 0.5)/(docFreq + 0.5))
  computed in double, cast to float32 (BM25Similarity.java:71-74).
- avgdl = (float)(sumTotalTermFreq / (double) docCount) (:86-97).
- cache[i] = k1 * ((1-b) + b * NORM_TABLE[i] / avgdl), float32 ops (:213-217).
- per-term score = weightValue * freq / (freq + cache[norm]), float32,
  weightValue = idf * boost * (k1+1) (:229-254).
- boolean nodes sum child scores in DOUBLE then cast to float32
  (DisjunctionSumScorer.java:36-41, ConjunctionScorer.java:54-58).
- top-k tie-break: score desc, docID asc (HitQueue.java:76-81,
  TopScoreDocCollector.java:71-78).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from ..analysis import analyze
from ..analysis.analyzer import analyze_detailed
from .smallfloat import NORM_TABLE, norm_bytes_for_lengths

# Query tree nodes (see query/parser.py docstring for the full grammar):
# ("term", t) | ("and", [..]) | ("or", [..]) | ("andnot", pos, neg) |
# ("reqopt", req, opt) | ("boost", n, f) | ("phrase", [(t, rel), ..]) |
# ("const_or", [terms]) | multi-term nodes | ("matchnone",)
QueryNode = tuple


@dataclass(frozen=True)
class BM25Params:
    k1: float = 1.2
    b: float = 0.75


@dataclass
class LuceneOracle:
    """In-memory reference index + searcher over (doc_id, text) rows."""

    params: BM25Params = field(default_factory=BM25Params)

    def __post_init__(self):
        self.postings: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        self.norm_bytes: np.ndarray | None = None
        self.doc_ids: np.ndarray | None = None
        self.doc_count = 0  # docs with >=1 posting (Terms.getDocCount())
        self.sum_total_term_freq = 0

    # ---- build ---------------------------------------------------------
    def build(self, rows: list[tuple[int, str]],
              keyword_values: dict[str, list] | None = None,
              ts_values: list | None = None,
              analyzer_opts=None) -> "LuceneOracle":
        """rows: (doc_id, text), doc_ids dense 0..n-1 in stable order.
        keyword_values: {field: per-doc value list} (None entries = doc
        lacks the field); ts_values: per-doc timestamps (numpy
        datetime64-able) for the point field; analyzer_opts swaps in a
        configured chain (stemming / synonyms / folding) matching a
        BuildConfig's."""
        self.kw_postings: dict[str, dict[str, np.ndarray]] = {}
        self.kw_doc_count: dict[str, int] = {}
        for f, vals in (keyword_values or {}).items():
            by_val: dict[str, list[int]] = {}
            cnt = 0
            for d, v in enumerate(vals):
                if v is None:
                    continue
                cnt += 1
                by_val.setdefault(v, []).append(d)
            self.kw_postings[f] = {
                v: np.array(ds, dtype=np.int64) for v, ds in by_val.items()
            }
            self.kw_doc_count[f] = cnt
        self.ts = (
            np.array(ts_values, dtype="datetime64[us]")
            if ts_values is not None else None
        )
        rows = sorted(rows)
        n = len(rows)
        lengths = np.zeros(n, dtype=np.int64)
        post: dict[str, list[tuple[int, int]]] = {}
        pos: dict[str, list[np.ndarray]] = {}
        for doc_id, text in rows:
            if analyzer_opts is not None:
                from ..analysis.analyzer import analyze_detailed_with

                terms, positions = analyze_detailed_with(
                    text, analyzer_opts
                )
            else:
                terms, positions = analyze_detailed(text)
            lengths[doc_id] = len(terms)
            if not terms:
                continue
            occ: dict[str, list[int]] = {}
            for t, p in zip(terms, positions):
                occ.setdefault(t, []).append(p)
            for t, ps in occ.items():
                post.setdefault(t, []).append((doc_id, len(ps)))
                pos.setdefault(t, []).append(np.array(ps, dtype=np.int64))
        self.postings = {
            t: (
                np.array([d for d, _ in pl], dtype=np.int64),
                np.array([f for _, f in pl], dtype=np.int64),
            )
            for t, pl in post.items()
        }
        self.positions = pos
        self.norm_bytes = norm_bytes_for_lengths(lengths)
        self.doc_ids = np.arange(n, dtype=np.int64)
        self.doc_count = int((lengths > 0).sum())
        self.sum_total_term_freq = int(lengths.sum())
        return self

    # ---- stats ---------------------------------------------------------
    def idf(self, term: str) -> np.float32:
        return self._idf(len(self.postings.get(term, ((), ()))[0]))

    def _idf(self, df: int) -> np.float32:
        dc = self.doc_count
        return np.float32(np.log(1 + (dc - df + 0.5) / (df + 0.5)))

    def avgdl(self) -> np.float32:
        if self.sum_total_term_freq <= 0:
            return np.float32(1.0)
        return np.float32(self.sum_total_term_freq / float(self.doc_count))

    def norm_cache(self) -> np.ndarray:
        """256-entry float32 cache: k1 * ((1-b) + b * NORM_TABLE[i] / avgdl)."""
        k1 = np.float32(self.params.k1)
        b = np.float32(self.params.b)
        avgdl = self.avgdl()
        return (k1 * ((np.float32(1.0) - b) + b * NORM_TABLE / avgdl)).astype(
            np.float32
        )

    # ---- scoring -------------------------------------------------------
    def _score_term(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        """(sorted doc_ids, float32 scores) for one term."""
        if term not in self.postings:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float32)
        docs, tfs = self.postings[term]
        return docs, self._score_freqs(docs, tfs.astype(np.float32),
                                       self.idf(term))

    def _score_freqs(self, docs, freq, idf) -> np.ndarray:
        """float32 BM25 of per-doc float32 `freq` under one `idf`."""
        k1 = np.float32(self.params.k1)
        weight_value = np.float32(idf * np.float32(1.0) * (k1 + np.float32(1.0)))
        norms = self.norm_cache()[self.norm_bytes[docs]]
        return (weight_value * freq / (freq + norms)).astype(np.float32)

    def _score_synonym(self, terms) -> tuple[np.ndarray, np.ndarray]:
        """SynonymQuery (search/SynonymQuery.java): the terms score as
        ONE pseudo-term — per doc, freq = SUM of the synonyms' freqs
        (SynonymScorer); docFreq = max and totalTermFreq = sum of the
        terms' stats (BM25's idf reads only docFreq)."""
        parts = [self.postings[t] for t in sorted(set(terms))
                 if t in self.postings]
        if not parts:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float32)
        docs = np.unique(np.concatenate([d for d, _ in parts]))
        freq = np.zeros(docs.size, dtype=np.float32)
        for d, tfs in parts:
            freq[np.searchsorted(docs, d)] += tfs.astype(np.float32)
        return docs, self._score_freqs(
            docs, freq, self._idf(max(d.size for d, _ in parts)))

    def _eval(self, node: QueryNode) -> tuple[np.ndarray, np.ndarray]:
        kind = node[0]
        empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float32))
        if kind == "term":
            return self._score_term(node[1])
        if kind == "synonym":
            return self._score_synonym(node[1])
        if kind == "fterm":
            # keyword StringField: per-field stats, omitNorms -> norm = k1
            f, v = node[1], node[2]
            docs = self.kw_postings.get(f, {}).get(v)
            if docs is None or docs.size == 0:
                return empty
            dc_f = self.kw_doc_count.get(f, 0)
            df = docs.size
            idf = np.float32(np.log(1 + (dc_f - df + 0.5) / (df + 0.5)))
            k1 = np.float32(self.params.k1)
            wv = np.float32(idf * (k1 + np.float32(1.0)))
            one = np.float32(1.0)
            sc = np.float32(wv * one / (one + k1))
            return docs, np.full(docs.size, sc, dtype=np.float32)
        if kind == "tsrange":
            if self.ts is None:
                return empty
            _, lo, hi, il, ih = node
            mask = ~np.isnat(self.ts)
            if lo is not None:
                lov = np.datetime64(lo)
                mask &= (self.ts >= lov) if il else (self.ts > lov)
            if hi is not None:
                hiv = np.datetime64(hi)
                mask &= (self.ts <= hiv) if ih else (self.ts < hiv)
            docs = np.flatnonzero(mask).astype(np.int64)
            return docs, np.ones(docs.size, dtype=np.float32)
        if kind == "reqfilter":
            pd_, ps = self._eval(node[1])
            fd, _ = self._eval(node[2])
            keep = np.isin(pd_, fd, assume_unique=True)
            return pd_[keep], ps[keep]
        if kind == "filter0":
            docs, _ = self._eval(node[1])
            return docs, np.zeros(docs.size, dtype=np.float32)
        if kind == "matchnone":
            return empty
        if kind == "const_or":
            parts = [
                self.postings[t][0] for t in node[1] if t in self.postings
            ]
            docs = (
                np.unique(np.concatenate(parts)) if parts
                else np.empty(0, dtype=np.int64)
            )
            return docs, np.ones(docs.size, dtype=np.float32)
        if kind == "boost":
            docs, scores = self._eval(node[1])
            return docs, (scores * np.float32(node[2])).astype(np.float32)
        if kind == "phrase":
            return self._eval_phrase(node[1], node[2] if len(node) > 2 else 0)
        from ..query.spans import SPAN_KINDS

        if kind in SPAN_KINDS:
            return self._eval_span(node)
        if kind == "msm_or":
            # MinShouldMatchSumScorer: >= n matching SHOULD clauses,
            # score = double sum of the matching clauses' scores
            n = node[1]
            parts = [self._eval(c) for c in node[2]]
            all_docs = np.concatenate([p[0] for p in parts])
            if all_docs.size == 0:
                return (np.empty(0, dtype=np.int64),
                        np.empty(0, dtype=np.float32))
            docs = np.unique(all_docs)
            total = np.zeros(docs.size, dtype=np.float64)
            cnt = np.zeros(docs.size, dtype=np.int64)
            for cd, cs in parts:
                if cd.size:
                    idx = np.searchsorted(docs, cd)
                    np.add.at(total, idx, cs.astype(np.float64))
                    np.add.at(cnt, idx, 1)
            keep = cnt >= n
            return docs[keep], total[keep].astype(np.float32)
        if kind == "dismax":
            # DisjunctionMaxScorer.score (DisjunctionMaxScorer.java:
            # 49-61): max + tie * (sum - max), clause-order double sum
            tie = np.float64(node[2])
            parts = [self._eval(c) for c in node[1]]
            all_docs = np.concatenate([p[0] for p in parts])
            if all_docs.size == 0:
                return empty
            docs = np.unique(all_docs)
            total = np.zeros(docs.size, dtype=np.float64)
            mx = np.full(docs.size, -np.inf, dtype=np.float64)
            for cd, cs in parts:
                if cd.size:
                    idx = np.searchsorted(docs, cd)
                    np.add.at(total, idx, cs.astype(np.float64))
                    np.maximum.at(mx, idx, cs.astype(np.float64))
            return docs, (mx + (total - mx) * tie).astype(np.float32)
        if kind == "andnot":
            docs, scores = self._eval(node[1])
            neg, _ = self._eval(node[2])
            keep = ~np.isin(docs, neg, assume_unique=True)
            return docs[keep], scores[keep]
        if kind == "reqopt":
            rd, rs = self._eval(node[1])
            if rd.size == 0:
                return rd, rs
            od, os_ = self._eval(node[2])
            total = rs.astype(np.float64)
            if od.size:
                m = np.isin(od, rd, assume_unique=True)
                od, os_ = od[m], os_[m]
                total[np.searchsorted(rd, od)] += os_.astype(np.float64)
            return rd, total.astype(np.float32)
        children = [self._eval(c) for c in node[1]]
        if not children:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float32)
        if kind == "and":
            docs = children[0][0]
            for cd, _ in children[1:]:
                docs = np.intersect1d(docs, cd, assume_unique=True)
            if docs.size == 0:
                return docs, np.empty(0, dtype=np.float32)
            total = np.zeros(docs.size, dtype=np.float64)
            for cd, cs in children:
                idx = np.searchsorted(cd, docs)
                total += cs[idx].astype(np.float64)
            return docs, total.astype(np.float32)
        if kind == "or":
            all_docs = np.concatenate([c[0] for c in children])
            if all_docs.size == 0:
                return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float32)
            docs = np.unique(all_docs)
            total = np.zeros(docs.size, dtype=np.float64)
            for cd, cs in children:
                if cd.size:
                    idx = np.searchsorted(docs, cd)
                    np.add.at(total, idx, cs.astype(np.float64))
            return docs, total.astype(np.float32)
        raise ValueError(f"unknown node kind {kind!r}")

    def _eval_phrase(self, clauses, slop: int = 0
                     ) -> tuple[np.ndarray, np.ndarray]:
        """Exact/SloppyPhraseScorer twin of the engine (see
        engine._eval_phrase; sloppy freq shared spec in query/sloppy.py)."""
        empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float32))
        datas = []
        for term, rel in clauses:
            if term not in self.postings:
                return empty
            datas.append((self.postings[term][0], self.positions[term], rel))
        cand = datas[0][0]
        for docs, _, _ in datas[1:]:
            cand = np.intersect1d(cand, docs, assume_unique=True)
        if cand.size == 0:
            return empty
        locs = [(np.searchsorted(docs, cand), pos, rel)
                for docs, pos, rel in datas]
        if slop == 0:
            freqs = np.zeros(cand.size, dtype=np.int64)
            for ci in range(cand.size):
                base = locs[0][1][locs[0][0][ci]] - locs[0][2]
                for loc, pos, rel in locs[1:]:
                    base = np.intersect1d(base, pos[loc[ci]] - rel,
                                          assume_unique=True)
                    if base.size == 0:
                        break
                freqs[ci] = base.size
            freqs = freqs.astype(np.float32)
        else:
            from ..query.sloppy import repeat_groups, sloppy_freq

            rels = [rel for _, _, rel in datas]
            groups = repeat_groups([t for t, _ in clauses])
            freqs = np.zeros(cand.size, dtype=np.float32)
            for ci in range(cand.size):
                freqs[ci] = sloppy_freq(
                    [pos[loc[ci]] - rel for loc, pos, rel in locs],
                    rels, slop, groups,
                )
        mask = freqs > 0
        cand, freqs = cand[mask], freqs[mask]
        if cand.size == 0:
            return empty
        idf_sum = np.float32(0.0)
        for docs, _, _ in datas:
            df = docs.size
            dc = self.doc_count
            idf_sum = np.float32(
                idf_sum + np.float32(np.log(1 + (dc - df + 0.5) / (df + 0.5)))
            )
        k1 = np.float32(self.params.k1)
        wv = np.float32(idf_sum * (k1 + np.float32(1.0)))
        cache = self.norm_cache()
        norms = cache[self.norm_bytes[cand]]
        freq = freqs.astype(np.float32)
        return cand, (wv * freq / (freq + norms)).astype(np.float32)

    def _span_docs(self, clause) -> np.ndarray:
        kind = clause[0]
        if kind == "sterm":
            return self.postings.get(clause[1], (np.empty(0, np.int64),))[0]
        if kind == "sor":
            parts = [self.postings[t][0] for t in clause[1]
                     if t in self.postings]
            if not parts:
                return np.empty(0, dtype=np.int64)
            return np.unique(np.concatenate(parts))
        if kind == "span_near":
            subs = [self._span_docs(c) for c in clause[1]]
            cand = subs[0]
            for cd in subs[1:]:
                cand = np.intersect1d(cand, cd, assume_unique=True)
            return cand
        if kind in ("span_first", "span_not", "span_range"):
            return self._span_docs(clause[1])
        if kind in ("span_containing", "span_within"):
            return np.intersect1d(
                self._span_docs(clause[1]), self._span_docs(clause[2]),
                assume_unique=True,
            )
        raise ValueError(kind)

    def _eval_span(self, node) -> tuple[np.ndarray, np.ndarray]:
        """Span-query twin (shared matching spec in query/spans.py; see
        engine._eval_span for the reference citations)."""
        from ..query.spans import doc_spans, span_freq, span_terms

        empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float32))
        cand = self._span_docs(node)
        if cand.size == 0:
            return empty
        freqs = np.zeros(cand.size, dtype=np.float32)
        for ci, d in enumerate(cand.tolist()):
            def positions_of(t, _d=d):
                if t not in self.postings:
                    return None
                docs = self.postings[t][0]
                j = int(np.searchsorted(docs, _d))
                if j < docs.size and docs[j] == _d:
                    return self.positions[t][j]
                return None

            spans = doc_spans(node, positions_of)
            if spans:
                freqs[ci] = span_freq(spans)
        mask = freqs > 0
        cand, freqs = cand[mask], freqs[mask]
        if cand.size == 0:
            return empty
        idf_sum = np.float32(0.0)
        dc = self.doc_count
        for t in sorted(set(span_terms(node, scoring=True, top=True))):
            df = len(self.postings.get(t, ((), ()))[0])
            idf_sum = np.float32(idf_sum + np.float32(
                np.log(1 + (dc - df + 0.5) / (df + 0.5))
            ))
        k1 = np.float32(self.params.k1)
        wv = np.float32(idf_sum * (k1 + np.float32(1.0)))
        cache = self.norm_cache()
        norms = cache[self.norm_bytes[cand]]
        return cand, (wv * freqs / (freqs + norms)).astype(np.float32)

    def rewrite(self, node: QueryNode | None) -> QueryNode | None:
        """Expand multi-term nodes against this oracle's own vocabulary
        (shared matching semantics with the engine: query/multiterm.py)."""
        from ..query.multiterm import MULTI_TERM_KINDS, expand

        if node is None:
            return None
        kind = node[0]
        if kind in MULTI_TERM_KINDS:
            terms = expand(node, sorted(self.postings))
            return ("const_or", terms) if terms else ("matchnone",)
        if kind == "span_multi":
            # SpanMultiTermQueryWrapper -> SpanOr of expanded terms
            return ("sor", sorted(expand(node[1], sorted(self.postings))))
        if kind == "span_near":
            return ("span_near", [self.rewrite(c) for c in node[1]],
                    node[2], node[3])
        if kind in ("span_first", "span_range"):
            return (kind, self.rewrite(node[1])) + tuple(node[2:])
        if kind in ("span_not", "span_containing", "span_within"):
            return (kind, self.rewrite(node[1]),
                    self.rewrite(node[2])) + tuple(node[3:])
        if kind in ("and", "or"):
            return (kind, [self.rewrite(c) for c in node[1]])
        if kind == "msm_or":
            return ("msm_or", node[1], [self.rewrite(c) for c in node[2]])
        if kind in ("andnot", "reqopt", "reqfilter"):
            return (kind, self.rewrite(node[1]), self.rewrite(node[2]))
        if kind == "boost":
            return ("boost", self.rewrite(node[1]), node[2])
        if kind == "filter0":
            return ("filter0", self.rewrite(node[1]))
        return node

    def delete(self, doc_ids) -> "LuceneOracle":
        """Tombstone docs (liveDocs): masked at collection, stats and
        scores unchanged — the reference's pre-merge delete semantics."""
        cur = getattr(self, "deleted", np.empty(0, dtype=np.int64))
        self.deleted = np.unique(
            np.concatenate([cur, np.asarray(list(doc_ids), dtype=np.int64)])
        )
        return self

    def search(self, node: QueryNode, k: int = 10) -> list[tuple[int, float]]:
        """Top-k (doc_id, float32 score), tie-break score desc / docID asc."""
        node = self.rewrite(node)
        if node is None or node[0] == "matchnone":
            return []
        docs, scores = self._eval(node)
        deleted = getattr(self, "deleted", None)
        if deleted is not None and deleted.size and docs.size:
            keep = ~np.isin(docs, deleted, assume_unique=True)
            docs, scores = docs[keep], scores[keep]
        if docs.size == 0:
            return []
        order = np.lexsort((docs, -scores.astype(np.float64)))[:k]
        return [(int(docs[i]), float(scores[i])) for i in order]
