"""Local (single-process) query executor over a built index — the
shard-server analogue of IndexSearcher.search (SURVEY.md §3.2).

Reads the parquet index directly through pyarrow with bucket partition
pruning + term predicate pushdown, decodes posting blocks with the numpy
codec, and scores with exactly Lucene's float discipline:

- per-term float32 scores from the searcher's Similarity object
  (query/similarities.py — BM25 by default),
- boolean nodes sum child scores in double, in clause order, cast to
  float32 once (DisjunctionSumScorer.java:36-41,
  ConjunctionScorer.java:54-58) — one sum, `_sum_parts`, for every
  node,
- top-k tie-break (score desc, docID asc) (HitQueue.java:76-81).

Physical optimizations (SURVEY.md §4.2):
- the exhaustive evaluator `_eval` runs one algorithm per node kind.
  AND is the cost-ordered intersection (leapfrog): the cheapest
  (lowest-df) list leads (ConjunctionDISI.java:150,175-210); larger
  lists decode only blocks whose [first_doc, last_doc] range
  intersects surviving candidates — the skip-list advance() analogue
  over our block-max metadata (`_TermPostings.blocks_at`).  Every
  node that adds clause scores (and, or, msm_or, reqopt, dismax,
  synonym freqs) does so in `_sum_parts`: a sorted union of the parts
  plus one clause-order `np.bincount`; every span shape runs the
  query/spans_batch.py kernels.  Per-doc dense score tables, tree masks
  and gathers belong to the collector alone.
- top-k with pruning: ONE collector (`LocalSearcher._collect`, the
  threshold algorithm) over one cursor per leaf term of a
  term/and/or/msm_or tree.  Warm lists walk in score order; cold lists
  of a single term or a flat OR of distinct terms walk blocks in
  descending ``block_bound`` order (block-max pruning — the reference
  7.0 snapshot has no WAND; this is our addition per the north star),
  with the bound taken over the stored (max_tf, min_ntab) metadata and
  the CURRENT global stats (sound under NRT segment appends).  It stops
  once theta, the k-th best collectable score, strictly beats the sum
  of the cursors' next bounds; every collected score is complete and
  exact.  Only ``prunable`` models take it; everything else is the
  exhaustive evaluator `_eval`.
"""

from __future__ import annotations

import functools
import json
import os
from collections import OrderedDict

import numpy as np
import pyarrow.dataset as pads

from ..index.builder import term_bucket
from ..index.codec import decode_block
from ..oracle.smallfloat import NORM_TABLE
from .parser import parse_query
from .similarities import make_similarity


class _TermPostings:
    """One term's entry in the searcher's term cache, holding all that
    is derived from the term: block rows plus per-block columns built at
    load; decoded postings held once (per-block (docs, tfs) in
    `_decoded` until `decode_all` makes `postings`, whose slices serve
    block decodes from then on); the list's `scores`, `order` and
    cached `dense` (mask, table).  `nbytes` grows with the entry;
    `counted` is the part the searcher's cache total holds."""

    __slots__ = ("term", "n_docs", "ttf", "clause", "blocks", "first_doc",
                 "last_doc", "max_tf", "min_ntab", "offs", "_decoded",
                 "postings", "scores", "order", "dense", "nbytes", "counted")

    def __init__(self, term: str, block_rows: list[dict], doc_range=None):
        self.term = term
        # segments are docBase-ordered and salts doc-range ordered within
        # a segment -> (seg, salt, block_id) order is global doc order;
        # block ranges are disjoint and ascending.
        self.blocks = sorted(
            block_rows,
            key=lambda r: (r.get("seg", 0), r["salt"], r["block_id"]),
        )
        self.n_docs = sum(b["doc_count"] for b in self.blocks)
        #: collection totalTermFreq, rolled up from block metadata
        self.ttf = sum(int(b.get("sum_tf") or 0) for b in self.blocks)
        #: the (docFreq, totalTermFreq) clause a Similarity weighs — over
        #: ALL of the term's blocks, so a shard scores with global stats
        self.clause = (self.n_docs, self.ttf)
        if doc_range is not None:
            # a shard decodes only the blocks overlapping [lo, hi)
            lo, hi = doc_range
            self.blocks = [b for b in self.blocks
                           if b["last_doc"] >= lo and b["first_doc"] < hi]
        # block columns; (max_tf, min_ntab) is the block-max metadata a
        # Similarity's ``block_bound`` reads; `offs` the posting offsets
        cols = [np.array([b[k] for b in self.blocks], dtype=t) for k, t in (
            ("first_doc", np.int64), ("last_doc", np.int64),
            ("max_tf", np.float64), ("min_ntab", np.float64))]
        self.first_doc, self.last_doc, self.max_tf, self.min_ntab = cols
        self.offs = np.cumsum([0] + [b["doc_count"] for b in self.blocks])
        self._decoded: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        self.postings = self.scores = self.order = self.dense = None
        self.nbytes = self.counted = self.offs.nbytes + sum(
            a.nbytes for a in cols) + sum(
            len(b[k]) for b in self.blocks
            for k in ("payload", "norms_payload", "pos_payload") if b.get(k))

    @property
    def n_decoded(self) -> int:
        return (len(self.blocks) if self.postings is not None
                else len(self._decoded))

    def decode(self, idx: int):
        if self.postings is not None:
            sl = slice(self.offs[idx], self.offs[idx + 1])
            return tuple(a[sl] for a in self.postings)
        got = self._decoded.get(idx)
        if got is None:
            got = self._decoded[idx] = decode_block(self.blocks[idx])
            self.nbytes += got[0].nbytes + got[1].nbytes
        return (*got, np.frombuffer(self.blocks[idx]["norms_payload"],
                                    dtype=np.uint8))

    def blocks_at(self, docs: np.ndarray) -> np.ndarray:
        """Indexes of the blocks whose [first_doc, last_doc] holds one of
        the sorted `docs` — the skip-list advance() analogue over the
        block metadata."""
        lo = np.searchsorted(docs, self.first_doc, side="left")
        hi = np.searchsorted(docs, self.last_doc, side="right")
        return np.flatnonzero(hi > lo)

    def decode_positions_blocks(self, idxs):
        """(docs, tfs, norms, positions list-per-posting) for the given
        block indexes only — phrase evaluation decodes positions just for
        blocks whose doc range intersects the surviving candidates;
        requires an index built with BuildConfig(positions=True)."""
        from ..index.codec import decode_positions

        docs, tfs, norms = self.decode_blocks(idxs)
        pos: list[np.ndarray] = []
        for i in idxs:
            b = self.blocks[i]
            if b.get("pos_payload") is None:
                raise ValueError(
                    f"term {self.term!r}: index has no positions "
                    "(build with BuildConfig(positions=True) for phrase queries)"
                )
            pos.extend(decode_positions(b["pos_payload"], self.decode(i)[1]))
        return docs, tfs, norms, pos

    def decode_blocks(self, idxs) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        if len(idxs) == len(self.blocks):
            return self.decode_all()
        if len(idxs) == 0:
            return tuple(np.empty(0, t) for t in (np.int64, np.int64, np.uint8))
        parts = [self.decode(i) for i in idxs]
        return (
            np.concatenate([p[0] for p in parts]),
            np.concatenate([p[1] for p in parts]),
            np.concatenate([p[2] for p in parts]),
        )

    def decode_all(self):
        """The whole list (docs, tfs, norms), decoded once into
        `postings`; the per-block decodes it replaces are dropped."""
        if self.postings is None:
            # batch-decode the not-yet-decoded full (kind-0) blocks in
            # one vectorized pass — the first touch of a hot term costs
            # a few unpackbits/cumsum passes instead of ~10^3 python
            # block loops (cold-path p95; codec.decode_full_blocks_batch
            # is bit-identical to per-block decode)
            got = dict(self._decoded)
            todo = [i for i, b in enumerate(self.blocks)
                    if b["kind"] == 0 and i not in got]
            if len(todo) > 1:
                from ..index.codec import BLOCK_SIZE, decode_full_blocks_batch

                docs, tfs = decode_full_blocks_batch(
                    [self.blocks[i] for i in todo]
                )
                for j, i in enumerate(todo):
                    sl = slice(j * BLOCK_SIZE, (j + 1) * BLOCK_SIZE)
                    got[i] = (docs[sl], tfs[sl])
            parts = [got[i] if i in got else decode_block(b)
                     for i, b in enumerate(self.blocks)]
            self.postings = tuple(
                np.concatenate([p[j] for p in parts]) if parts
                else np.empty(0, dtype=np.int64) for j in (0, 1)
            ) + (np.frombuffer(b"".join(b["norms_payload"]
                                        for b in self.blocks), np.uint8),)
            self.nbytes += sum(a.nbytes for a in self.postings) - sum(
                d.nbytes + t.nbytes for d, t in self._decoded.values())
            self._decoded.clear()
        return self.postings


class LocalSearcher:
    """Serve top-k boolean queries from a built index directory.

    `similarity` picks the scoring model at query time — "bm25"
    (default, k1/b from the index params), "classic", "lmd" (`mu`),
    "lmjm" (`lmjm_lambda`), "dfr", "ib", "dfi", "ax" or "bool".  Every
    model decodes the same floatToByte315 norm byte, so no reindex is
    needed (the reference's IndexSearcher.setSimilarity).  Formulas,
    float discipline and citations live in query/similarities.py.

    `search` runs one top-k collector (`_collect`: threshold algorithm
    over warm score-ordered lists and block-max cold lists) when
    `pruning` is on, k is given and the Similarity is ``prunable``;
    otherwise, or when the collector declines, the exhaustive evaluator
    `_eval` scores every match.  `pruning=False` is the exhaustive
    evaluator and nothing else.

    `dense_budget_mb` (default 128) is the one memory setting: the term
    cache (an LRU of one byte-accounted `_TermPostings` per term) is cut
    to half of it after every query, and the collector's per-query
    dense structures (tables, masks and seen bitmap) run only when
    maxDoc <= budget/16 (else the exhaustive evaluator answers, same
    results).  Outside the collector the searcher holds nothing sized
    by maxDoc.

    `dtype="float64"` is the gate mode: leaf scores are the model's
    ``weight64``/``score64`` over the exact docmap doc length, node sums
    stay double, and only `_eval` runs.  `doc_range=(lo, hi)` (hi None:
    open-ended) makes a shard of DistributedSearcher: only blocks
    overlapping the range are decoded, term stats stay global, and a
    doc outside the range is masked like a tombstone.
    """

    def __init__(self, index_dir: str, pruning: bool = True,
                 similarity: str = "bm25", mu: float = 2000.0,
                 lmjm_lambda: float = 0.1,
                 dense_budget_mb: int | None = None, dtype: str = "float32",
                 doc_range: tuple[int, int | None] | None = None):
        if dtype not in ("float32", "float64"):
            raise ValueError(
                f"dtype must be float32 or float64, got {dtype!r}")
        self.index_dir = index_dir
        self.pruning = pruning
        self.similarity = similarity
        #: score type of every leaf and node (float32 serving, float64 gate)
        self._st = np.dtype(dtype).type
        #: [lo, hi) of a shard, None for the whole index
        self._range = None if doc_range is None else (
            int(doc_range[0]),
            np.iinfo(np.int64).max if doc_range[1] is None
            else int(doc_range[1]),
        )
        # warm-path memory budget (SCALE.md "Warm-path memory budget"):
        # the collector's dense structures need maxDoc <= budget/16
        # (16 B/doc), and the term cache holds at most half the budget
        # between queries
        if dense_budget_mb is None:
            dense_budget_mb = self._DENSE_BUDGET_MB_DEFAULT
        self.dense_budget_bytes = dense_budget_mb << 20
        self._DENSE_MAX_DOC = max(1, self.dense_budget_bytes // 16)
        with open(os.path.join(index_dir, "_manifest.json")) as f:
            m = json.load(f)
        self.params = m["params"]
        self.n_buckets = int(self.params["n_buckets"])
        from ..analysis.analyzer import AnalyzerOptions

        #: the index's recorded analyzer chain — query atoms analyze
        #: through the SAME chain (QueryParser field-analyzer rule)
        self.analyzer_opts = AnalyzerOptions.from_manifest(
            self.params.get("analyzer")
        )
        from ..index.builder import read_all_field_stats

        self.fstats = read_all_field_stats(index_dir)
        fs = self.fstats.get(
            "text", {"doc_count": 0, "sum_total_term_freq": 0, "max_doc": 0}
        )
        self.doc_count = int(fs["doc_count"] or 0)
        self.sum_ttf = int(fs["sum_total_term_freq"] or 0)
        self.max_doc = int(fs["max_doc"] or 0)
        #: the scoring model over one field's stats; `sim` is the text
        #: field's, keyword fields get theirs from `_field_sim`
        self._make_sim = functools.partial(
            make_similarity, similarity, k1=self.params.get("k1", 1.2),
            b=self.params.get("b", 0.75), mu=mu, lmjm_lambda=lmjm_lambda,
        )
        self.sim = self._make_sim(self.doc_count, self.sum_ttf)
        self._field_sims = {"text": self.sim}
        #: the collector and its dense tables assume float32 scores that
        #: are positive at every posting
        self._prunable = self.sim.prunable and self._st is np.float32
        self._postings_ds = pads.dataset(
            os.path.join(index_dir, "postings"), format="parquet",
            partitioning="hive",
        )
        #: the term cache: one entry per (field, term), least recently
        #: used first, `_cache_bytes` their summed `counted` bytes
        self._terms: OrderedDict[tuple, _TermPostings] = OrderedDict()
        self._cache_bytes = 0
        #: per-query memo of `_eval` results and ephemeral dense tables
        self._eval_memo: dict = {}
        from ..index.deletes import read_deleted

        #: tombstoned docIDs, masked at collection like liveDocs (scores
        #: and stats unchanged until compaction — the reference's
        #: pre-merge delete semantics)
        self._deleted = read_deleted(index_dir)
        if self._st is np.float64:
            # exact doc lengths (docmap `dl`) of the searcher's range,
            # sorted by doc_id, plus a sentinel for docs past the last
            # one (outside the range, so masked anyway)
            import pyarrow.compute as pc

            lo, hi = self._range or (0, np.iinfo(np.int64).max)
            tbl = pads.dataset(
                os.path.join(index_dir, "docmap"), format="parquet",
                partitioning="hive",
            ).to_table(columns=["doc_id", "dl"],
                       filter=(pc.field("doc_id") >= lo)
                       & (pc.field("doc_id") < hi))
            ids = tbl.column("doc_id").to_numpy()
            order = np.argsort(ids)
            self._dl_ids = ids[order]
            self._dl = np.append(
                tbl.column("dl").to_numpy().astype(np.float64)[order], 1.0)

    # ------------------------------------------------------------ fetch
    def _tp(self, term: str, field: str = "text") -> _TermPostings:
        return self._terms[(field, term)]

    def _load_terms(self, pairs: list[tuple[str, str]]) -> None:
        """Fetch posting blocks for (field, term) pairs not yet cached —
        ONE bucket-pruned, predicate-pushed scan for all of them."""
        missing = [p for p in set(pairs) if p not in self._terms]
        if not missing:
            return
        buckets = sorted(
            {term_bucket(t, self.n_buckets) for _, t in missing}
        )
        import pyarrow.compute as pc

        filt = (
            pc.field("bucket").isin(buckets)
            & pc.field("term").isin(sorted({t for _, t in missing}))
            & pc.field("field").isin(sorted({f for f, _ in missing}))
        )
        rows = self._postings_ds.to_table(filter=filt).to_pylist()
        by_key: dict[tuple[str, str], list[dict]] = {p: [] for p in missing}
        for r in rows:
            key = (r["field"], r["term"])
            if key in by_key:
                by_key[key].append(r)
        for (f, t) in missing:
            tp = self._terms[(f, t)] = _TermPostings(t, by_key[(f, t)],
                                                     self._range)
            self._cache_bytes += tp.counted

    def _end_query(self, keys) -> None:
        """After a query: drop its memo, move its terms' entries to the
        MRU end with their growth added to the cache total, and evict
        least-recently-used entries until the total is within half the
        budget (never mid-query, so `_tp` always hits)."""
        self._eval_memo = {}
        for key in keys:
            self._terms.move_to_end(key)
            tp = self._terms[key]
            if tp.nbytes != tp.counted:
                self._cache_bytes += tp.nbytes - tp.counted
                tp.counted = tp.nbytes
        while self._cache_bytes > self.dense_budget_bytes // 2:
            self._cache_bytes -= self._terms.popitem(last=False)[1].counted

    # ---------------------------------------------------------- scoring
    def _field_sim(self, field: str):
        """The searcher's model over a keyword field's own collection
        stats (index/FieldInfos.java — stats are per field)."""
        got = self._field_sims.get(field)
        if got is None:
            fs = self.fstats.get(field, {})
            got = self._field_sims[field] = self._make_sim(
                fs.get("doc_count"), fs.get("sum_total_term_freq")
            )
        return got

    def _leaf(self, clauses, freq, norms, docs, sim=None) -> np.ndarray:
        """Scores of one leaf weighed over `clauses` at `docs`: float32
        from the norm bytes, or in gate mode double from the exact docmap
        `dl` (``norms=None``: an omitNorms keyword field)."""
        sim = sim or self.sim
        if self._st is np.float32:
            return sim.score(sim.weight(clauses),
                             freq.astype(np.float32, copy=False), norms)
        dl = (None if norms is None
              else self._dl[np.searchsorted(self._dl_ids, docs)])
        return sim.score64(sim.weight64(clauses), freq, dl)

    def _term_full(self, term: str, ranked: bool = False):
        """(docs, scores) of the term's whole list; ranked=True adds
        `order`, the list's (score desc, docID asc) permutation that a
        warm collector cursor walks, built on first use."""
        # full-list scores are a pure function of the searcher's fixed
        # global stats — kept on the term's entry (4 B/posting, +8 B for
        # the order)
        tp = self._tp(term)
        if tp.scores is None:
            docs, tfs, norms = tp.decode_all()
            tp.scores = self._leaf([tp.clause], tfs, norms, docs)
            tp.nbytes += tp.scores.nbytes
        if not ranked:
            return tp.postings[0], tp.scores
        if tp.order is None:
            # docs ascend, so a stable sort on -score breaks ties by
            # docID; kept intp (an int32 index array gathers ~4x slower)
            tp.order = np.argsort(-tp.scores, kind="stable")
            tp.nbytes += tp.order.nbytes
        return tp.postings[0], tp.scores, tp.order

    def _term_lookup(self, term: str, candidates: np.ndarray
                     ) -> tuple[np.ndarray, np.ndarray]:
        """Scores of `candidates` (sorted) that this term matches, decoding
        only blocks whose doc range intersects the candidates."""
        tp = self._tp(term)
        if not tp.blocks or candidates.size == 0:
            return np.empty(0, np.int64), np.empty(0, np.float32)
        idxs = tp.blocks_at(candidates)
        if idxs.size * 4 >= len(tp.blocks) * 3:
            # nearly all blocks relevant: the cached full concatenation
            # beats re-concatenating a per-query block subset (the
            # membership mask below filters the extra docs anyway)
            idxs = np.arange(len(tp.blocks))
        docs, tfs, norms = tp.decode_blocks(idxs)
        if docs.size == 0:
            return np.empty(0, np.int64), np.empty(0, np.float32)
        mask = _sorted_isin(docs, candidates)
        return docs[mask], self._leaf([tp.clause], tfs[mask], norms[mask],
                                      docs[mask])

    # ---------------------------------------------------------- rewrite
    @functools.cached_property
    def _terms_ds(self):
        """Lazy pyarrow dataset over the term dictionary — multi-term
        rewrites push range predicates into this scan instead of ever
        materializing the dictionary in Python (VERDICT r1 scale fix:
        at 10^12-turn scale the dictionary alone would OOM the serving
        process)."""
        return pads.dataset(
            os.path.join(self.index_dir, "term_stats"), format="parquet"
        )

    def rewrite(self, node):
        return rewrite(node, self._terms_ds)

    # ------------------------------------------------------------- eval
    def _collect_terms(self, node) -> list[tuple[str, str]]:
        """(field, term) pairs whose postings the query needs."""
        if node is None:
            return []
        kind = node[0]
        if kind == "term":
            return [("text", node[1])]
        if kind == "fterm":
            return [(node[1], node[2])]
        if kind in ("const_or", "synonym"):
            return [("text", t) for t in node[1]]
        if kind == "phrase":
            return [("text", t) for t, _ in node[1]]
        from .spans import SPAN_KINDS

        if kind in SPAN_KINDS:
            from .spans import span_terms

            return [("text", t) for t in span_terms(node)]
        if kind in ("matchnone", "tsrange"):
            return []
        if kind in ("andnot", "reqopt", "reqfilter"):
            return self._collect_terms(node[1]) + self._collect_terms(node[2])
        if kind in ("boost", "filter0"):
            return self._collect_terms(node[1])
        out = []
        for c in (node[2] if kind == "msm_or" else node[1]):
            out.extend(self._collect_terms(c))
        return out

    def _cost_of(self, node) -> int:
        """Upper-bound match count of a term/and/or/msm_or tree (the
        Weight.cost() analogue, search/Weight.java) — the collector's
        empty-AND and selective-AND tests.  A term counts the postings
        of its blocks in the searcher's range (all of them unranged), so
        a shard with no block of a conjunct answers [] at once."""
        kind = node[0]
        if kind == "term":
            return int(self._tp(node[1]).offs[-1])
        if kind == "and":
            return min(self._cost_of(c) for c in node[1])
        children = node[2] if kind == "msm_or" else node[1]
        return sum(self._cost_of(c) for c in children)

    def _eval_phrase(self, clauses, slop: int = 0
                     ) -> tuple[np.ndarray, np.ndarray]:
        """PhraseScorer semantics:
        - exact (slop=0): freq = number of phrase start positions
          (search/ExactPhraseScorer.java), computed fully vectorized by
          intersecting (candidate, adjusted-position) keys;
        - sloppy: freq = sum of 1/(1+matchLength) over the reference's
          greedy window enumeration (query/sloppy.py,
          search/SloppyPhraseScorer.java:90-131).
        idf = SUM of per-clause idfs (BM25Similarity.idfExplain over the
        termStats array); score = weight * freq / (freq + cache[norm]).

        Positions are decoded ONLY for blocks whose doc range intersects
        the surviving candidate set: candidates come first from a
        cost-ordered docs-only intersection (rarest clause leads,
        ConjunctionDISI discipline), then each clause decodes just the
        blocks covering those docs."""
        empty = (np.empty(0, np.int64), np.empty(0, np.float32))
        tps = [self._tp(t) for t, _ in clauses]
        if any(not tp.blocks for tp in tps):
            return empty
        # 1) candidate docs: docs-only intersection, cheapest df leads,
        #    non-lead clauses decode only blocks overlapping candidates
        order = np.argsort([tp.n_docs for tp in tps], kind="stable")
        cand = tps[order[0]].decode_all()[0]
        for oi in order[1:]:
            if cand.size == 0:
                return empty
            tp = tps[oi]
            docs = tp.decode_blocks(tp.blocks_at(cand))[0]
            cand = cand[_sorted_isin(cand, docs)]
        if cand.size == 0:
            return empty
        # 2) positions for candidates only (per-clause block pruning)
        datas = []  # (poslists aligned to cand, rel)
        norms0 = None
        for (term, rel), tp in zip(clauses, tps):
            docs, _, norms, pos = tp.decode_positions_blocks(
                tp.blocks_at(cand))
            sel = np.flatnonzero(_sorted_isin(docs, cand))
            datas.append(([pos[j] for j in sel], rel))
            if norms0 is None:
                norms0 = norms[sel]
        # 3) phrase freq per candidate
        if slop == 0:
            # vectorized: key = candidate_index * 2^32 + start position;
            # the phrase matches where all clauses share a start key
            keys: np.ndarray | None = None
            for poslists, rel in datas:
                counts = [p.size for p in poslists]
                flat = (
                    np.concatenate(poslists) if poslists
                    else np.empty(0, np.int64)
                ) - rel
                ci = np.repeat(np.arange(cand.size, dtype=np.int64), counts)
                ok = flat >= 0
                k = ci[ok] * (np.int64(1) << 32) + flat[ok]
                keys = k if keys is None else np.intersect1d(
                    keys, k, assume_unique=True
                )
                if keys.size == 0:
                    break
            freqs = (
                np.bincount((keys >> 32).astype(np.int64),
                            minlength=cand.size).astype(np.float32)
                if keys is not None and keys.size
                else np.zeros(cand.size, dtype=np.float32)
            )
        else:
            from .sloppy import repeat_groups, sloppy_freq

            rels = [rel for _, rel in datas]
            groups = repeat_groups([t for t, _ in clauses])
            freqs = np.zeros(cand.size, dtype=np.float32)
            for ci in range(cand.size):
                freqs[ci] = sloppy_freq(
                    [pl[ci] - rel for (pl, rel) in datas], rels, slop,
                    groups,
                )
        mask = freqs > 0
        cand, freqs, norms0 = cand[mask], freqs[mask], norms0[mask]
        if cand.size == 0:
            return empty
        # weight over clauses (duplicates included, like termStats[])
        return cand, self._leaf([tp.clause for tp in tps], freqs, norms0,
                                cand)

    def _eval(self, node) -> tuple[np.ndarray, np.ndarray]:
        # per-search memo: composite subtrees are evaluated once even
        # when referenced by both the candidate pass and the scoring
        # pass of an enclosing AND (results are immutable arrays)
        got = self._eval_memo.get(id(node))
        if got is None:
            got = self._eval_memo[id(node)] = self._eval_inner(node)
        return got

    def _fterm_scores(self, field: str, term: str
                      ) -> tuple[np.ndarray, np.ndarray]:
        """Keyword-field TermQuery: the model over the FIELD's
        collection stats, omitNorms scoring (StringField norms == null)."""
        tp = self._tp(term, field)
        docs, tfs, _ = tp.decode_all()
        return docs, self._leaf([tp.clause], tfs, None, docs,
                                self._field_sim(field))

    def _ts_docs(self, node) -> np.ndarray:
        """Sorted docIDs whose `ts` lies in the range — the
        PointRangeQuery analogue: the predicate pushes into the docmap
        parquet scan (column-pruned to doc_id/ts, row groups pruned by
        ts min/max stats — the BKD-tree role)."""
        import pyarrow.compute as pc

        _, lo, hi, il, ih = node
        filt = pc.field("ts").is_valid()
        if lo is not None:
            lov = np.datetime64(lo)
            filt = filt & (
                pc.field("ts") >= lov if il else pc.field("ts") > lov
            )
        if hi is not None:
            hiv = np.datetime64(hi)
            filt = filt & (
                pc.field("ts") <= hiv if ih else pc.field("ts") < hiv
            )
        tbl = self._docmap_ds.to_table(columns=["doc_id"], filter=filt)
        return np.sort(tbl.column("doc_id").to_numpy())

    @functools.cached_property
    def _docmap_ds(self):
        return pads.dataset(os.path.join(self.index_dir, "docmap"),
                            format="parquet", partitioning="hive")

    def _span_required_docs(self, clause) -> np.ndarray:
        """Docs that can possibly match a span clause (the two-phase
        approximation): term -> its postings; or -> union; near ->
        intersection over clauses; first -> child; not -> include."""
        kind = clause[0]
        if kind == "sterm":
            tp = self._tp(clause[1])
            return tp.decode_all()[0] if tp.blocks else np.empty(0, np.int64)
        if kind == "sor":
            parts = [
                self._tp(t).decode_all()[0]
                for t in clause[1] if self._tp(t).blocks
            ]
            if not parts:
                return np.empty(0, np.int64)
            return (
                parts[0] if len(parts) == 1
                else np.unique(np.concatenate(parts))
            )
        if kind == "span_near":
            subs = [self._span_required_docs(c) for c in clause[1]]
            order = np.argsort([d.size for d in subs], kind="stable")
            cand = subs[order[0]]
            for oi in order[1:]:
                if cand.size == 0:
                    break
                cand = cand[_sorted_isin(cand, subs[oi])]
            return cand
        if kind in ("span_first", "span_not", "span_range"):
            return self._span_required_docs(clause[1])
        if kind in ("span_containing", "span_within"):
            # ConjunctionSpans(big, little): both sides must match the doc
            big = self._span_required_docs(clause[1])
            little = self._span_required_docs(clause[2])
            if big.size > little.size:
                big, little = little, big
            return big[_sorted_isin(big, little)]
        raise ValueError(kind)

    def _span_term_data(self, all_terms, cand):
        """Per-term candidate alignment for span evaluation, computed
        ONCE with vectorized searchsorted: term -> (present bool[cand],
        row int[cand] into pos/norms, pos lists, norms)."""
        term_data = {}
        for t in all_terms:
            tp = self._tp(t)
            if not tp.blocks:
                continue
            docs, _, norms, pos = tp.decode_positions_blocks(
                tp.blocks_at(cand))
            if docs.size == 0:
                continue
            row = np.searchsorted(docs, cand)
            row[row == docs.size] = docs.size - 1
            present = docs[row] == cand
            term_data[t] = (present, row, pos, norms)
        return term_data

    def _eval_span(self, node) -> tuple[np.ndarray, np.ndarray]:
        """Span-query evaluation (SpanNear ordered/unordered, SpanOr,
        SpanFirst, SpanNot, SpanContaining/Within/PositionRange —
        composable/nested): match enumeration per query/spans.py (the
        NearSpans* spec); freq is the float32 sum of 1/(1+width) over the
        top clause's spans (SpanScorer.java:90-110); BM25 weight uses the
        summed idf of the DEDUPLICATED scoring terms
        (SpanWeight.buildSimWeight — a top-level SpanNot weights
        include+exclude terms, a nested one only include).

        Every shape runs the CSR batch kernels of query/spans_batch.py
        (the vectorized restatement of doc_spans) — no per-doc Python
        in any span path."""
        from .spans import span_terms
        from .spans_batch import (
            batch_doc_spans, batch_span_freqs, from_positions,
        )
        from .spans_batch import empty as empty_batch

        empty = (np.empty(0, np.int64), np.empty(0, np.float32))
        all_terms = sorted(set(span_terms(node)))
        cand = self._span_required_docs(node)
        if cand.size == 0:
            return empty
        term_data = self._span_term_data(all_terms, cand)
        # norm byte per candidate: the doc's norm, from any present term
        normsb = np.zeros(cand.size, dtype=np.uint8)
        havenorm = np.zeros(cand.size, dtype=bool)
        for t in all_terms:
            got = term_data.get(t)
            if got is None:
                continue
            present, row, _, norms = got
            take = present & ~havenorm
            normsb[take] = norms[row[take]]
            havenorm |= present
        n = cand.size
        bs_cache: dict[str, object] = {}

        def term_batch(t):
            bs = bs_cache.get(t)
            if bs is None:
                got = term_data.get(t)
                if got is None:
                    bs = empty_batch(n)
                else:
                    present, row, pos, _ = got
                    bs = from_positions(
                        [pos[r] if p else None for p, r in
                         zip(present.tolist(), row.tolist())], n
                    )
                bs_cache[t] = bs
            return bs

        freqs = batch_span_freqs(batch_doc_spans(node, n, term_batch))
        mask = freqs > 0
        cand, freqs, normsb = cand[mask], freqs[mask], normsb[mask]
        if cand.size == 0:
            return empty
        return cand, self._leaf(
            [self._tp(t).clause
             for t in sorted(set(span_terms(node, scoring=True, top=True)))],
            freqs, normsb, cand)

    def _synonym_eval(self, terms: list[str]
                      ) -> tuple[np.ndarray, np.ndarray]:
        """SynonymQuery (search/SynonymQuery.java): score the terms as
        ONE pseudo-term — per doc, freq = SUM of the synonyms' freqs
        (SynonymScorer), weight from pseudo stats docFreq = max,
        totalTermFreq = sum; same doc => same norm byte, so norms come
        from whichever synonym saw the doc."""
        tps = [self._tp(t) for t in terms]
        if not any(tp.blocks for tp in tps):
            return np.empty(0, np.int64), np.empty(0, np.float32)
        # the pseudo-term's stats cover every synonym, also one with no
        # blocks in a shard's range
        df = max(tp.n_docs for tp in tps)
        ttf = sum(tp.ttf for tp in tps)
        parts = [tp.decode_all() for tp in tps if tp.blocks]
        # the integer freq sums are exact in float32 and float64 alike
        docs_u, freq = self._sum_parts([p[:2] for p in parts])
        norms = np.empty(docs_u.size, dtype=np.uint8)
        norms[np.searchsorted(docs_u, np.concatenate(
            [p[0] for p in parts]))] = np.concatenate([p[2] for p in parts])
        return docs_u, self._leaf([(df, ttf)], freq, norms, docs_u)

    def _eval_inner(self, node) -> tuple[np.ndarray, np.ndarray]:
        kind = node[0]
        if kind == "term":
            return self._term_full(node[1])
        if kind == "synonym":
            return self._synonym_eval(node[1])
        from .spans import SPAN_KINDS

        if kind in SPAN_KINDS:
            return self._eval_span(node)
        if kind == "fterm":
            return self._fterm_scores(node[1], node[2])
        if kind == "tsrange":
            # PointRangeQuery is constant-score (1.0) as a scoring clause
            docs = self._ts_docs(node)
            return docs, np.ones(docs.size, dtype=self._st)
        if kind == "reqfilter":
            # Occur.FILTER: must match, contributes no score
            # (BooleanQuery.java:184-205 needsScores=false clauses)
            pd_, ps = self._eval(node[1])
            if pd_.size == 0:
                return pd_, ps
            keep = _sorted_isin(pd_, self._eval(node[2])[0])
            return pd_[keep], ps[keep]
        if kind == "filter0":
            # only-FILTER query: matching docs, all scores 0
            docs = self._eval(node[1])[0]
            return docs, np.zeros(docs.size, dtype=np.float32)
        if kind == "matchnone":
            return np.empty(0, np.int64), np.empty(0, np.float32)
        if kind == "const_or":
            # MultiTermQueryConstantScoreWrapper: every matching doc
            # scores the boost (1.0 here; boost applies via the boost node)
            parts = [self._tp(t).decode_all()[0] for t in node[1]]
            docs = (
                np.unique(np.concatenate(parts)) if parts
                else np.empty(0, np.int64)
            )
            return docs, np.ones(docs.size, dtype=np.float32)
        if kind == "boost":
            docs, scores = self._eval(node[1])
            return docs, (scores.astype(self._st, copy=False)
                          * self._st(node[2])).astype(self._st)
        if kind == "phrase":
            return self._eval_phrase(node[1], node[2] if len(node) > 2 else 0)
        if kind == "msm_or":
            # MinShouldMatchSumScorer: doc matches when >= n SHOULD
            # clauses match; score = double sum of matching clause scores
            # (search/MinShouldMatchSumScorer.java, BooleanQuery.java:77-96)
            n = node[1]
            parts = [self._eval(c) for c in node[2]]
            return self._sum_parts(parts, min_match=n)
        if kind == "dismax":
            # DisjunctionMaxScorer.score (DisjunctionMaxScorer.java:
            # 49-61): union of disjunct docs, score = max + tie *
            # (sum - max) — clause-order double sum + double max, then
            # the float32 cast, mirroring the or-node discipline so
            # local == distributed bit-for-bit
            return self._sum_parts([self._eval(c) for c in node[1]],
                                   tie=np.float64(node[2]))
        if kind == "andnot":
            docs, scores = self._eval(node[1])
            if docs.size == 0:
                return docs, scores
            keep = ~_sorted_isin(docs, self._eval(node[2])[0])
            return docs[keep], scores[keep]
        if kind == "reqopt":
            # ReqOptSumScorer: required docs, + optional score where
            # present (the optional part cut to the required docs, so the
            # union is the required set)
            rd, rs = self._eval(node[1])
            if rd.size == 0:
                return rd, rs
            od, os_ = self._eval(node[2])
            m = _sorted_isin(od, rd)
            return self._sum_parts([(rd, rs), (od[m], os_[m])])
        children = node[1]
        if kind == "and":
            # leapfrog (ConjunctionDISI): the cheapest df leads, and
            # each later clause is looked up only at the surviving
            # candidates, decoding just the blocks that hold them
            def df_of(n):
                if n[0] == "term":
                    return self._tp(n[1]).n_docs
                return self.max_doc + 1  # composite: evaluate late

            ordered = sorted(range(len(children)), key=lambda i: df_of(children[i]))
            # intersection pass; per-child contributions computed along
            # the way are kept and FILTERED to the final candidates in
            # the scoring pass instead of being recomputed (the scores
            # of a (term, doc) pair are deterministic, so reuse is exact)
            pass1: dict[int, tuple[np.ndarray, np.ndarray]] = {}
            lead_i = ordered[0]
            lead = children[lead_i]
            if lead[0] == "term":
                cand = self._tp(lead[1]).decode_all()[0]
            else:
                cand, cs0 = self._eval(lead)
                pass1[lead_i] = (cand, cs0)
            for i in ordered[1:]:
                ch = children[i]
                if cand.size == 0:
                    break
                if ch[0] == "term":
                    cd, cs = self._term_lookup(ch[1], cand)
                else:  # composite: full evaluation, cut to candidates
                    cd, cs = self._eval(ch)
                    m = _sorted_isin(cd, cand)
                    cd, cs = cd[m], cs[m]
                pass1[i] = (cd, cs)
                cand = cd
            if cand.size == 0:
                return cand, np.empty(0, np.float32)
            # exact scores in clause order (ConjunctionScorer double
            # sum): every child but a term lead has pass-1 scores, each
            # part cut down to the final candidates (cand ⊆ cd)
            parts = []
            for i, ch in enumerate(children):
                cd, cs = pass1.get(i) or self._term_lookup(ch[1], cand)
                if cd.size != cand.size:
                    m = _sorted_isin(cd, cand)
                    cd, cs = cd[m], cs[m]
                parts.append((cd, cs))
            return self._sum_parts(parts)
        if kind == "or":
            # DisjunctionSumScorer: the sorted union of the children's
            # lists (`_sum_parts`) costs O(sum(df) log) — a mask-first
            # gather would pay n_children * |union|, which loses for
            # skewed ORs
            parts = [self._eval(c) for c in children]
            return self._sum_parts(parts)
        raise ValueError(kind)

    #: default warm-path memory budget (MB) — overridable per instance
    #: (LocalSearcher(dense_budget_mb=...)).  Half of it bounds the
    #: term cache between queries (`_end_query`); budget/16 bytes per
    #: doc bounds the collector's dense structures (set in `__init__`;
    #: 4 B score table + 1 B mask + 1 B TA seen bitmap + tree masks and
    #: slack — see SCALE.md "Warm-path memory budget"); the default
    #: 128 MB keeps the historical 2^23-doc shard bound.  Beyond the
    #: bound the exhaustive evaluator answers multi-leaf trees —
    #: correctness never depends on the budget.
    _DENSE_BUDGET_MB_DEFAULT = 128

    #: a term's dense score table is CACHED when df * 64 >= max_doc
    #: (sparser terms get an ephemeral table per query — a cheap
    #: df-sized scatter — so the memory budget stays on the hot terms
    #: where the table is actually reused)
    _DENSE_CACHE_FRAC = 64

    def _term_dense(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        """(mask bool[n], scores float32[n]) dense table for one term —
        the BooleanScorer bucket table hoisted into a per-term CACHE so
        a warm query pays zero scatter.  score != 0 exactly at postings
        (BM25 and classic scores are strictly positive for any present
        posting: idf > 0, freq >= 1, norm > 0 for dl >= 1), so the mask
        is derived, not stored separately on disk."""
        tp = self._tp(term)
        got = tp.dense or self._eval_memo.get(("dtbl", term))
        if got is not None:
            return got
        n = self.max_doc + 1
        docs, scores = self._term_full(term)
        tbl = np.zeros(n, dtype=np.float32)
        tbl[docs] = scores
        out = (tbl != np.float32(0.0), tbl)
        if docs.size * self._DENSE_CACHE_FRAC >= n:
            # a hot term's table lives on its entry only while the cache
            # total plus this query's uncounted growth leaves room for it
            # (else it is rebuilt on reuse), so a wide query's tables
            # never hold more than half the budget
            if self._cache_bytes + 5 * n + sum(
                    e.nbytes - e.counted for e in self._terms.values()
            ) <= self.dense_budget_bytes // 2:
                tp.dense = out
                tp.nbytes += out[0].nbytes + tbl.nbytes
        else:
            self._eval_memo[("dtbl", term)] = out  # this query only
        return out

    def _dense_mask(self, node) -> np.ndarray:
        """Boolean match mask of an and/or/msm_or tree of TERM leaves —
        masks combine with full-array bool ops BEFORE any scoring, so an
        AND prunes the collector's scoring domain to its intersection."""
        kind = node[0]
        key = ("dmask", id(node))
        if key in self._eval_memo:
            return self._eval_memo[key]
        if kind == "term":
            out = self._term_dense(node[1])[0]
        else:
            children = node[2] if kind == "msm_or" else node[1]
            masks = [self._dense_mask(c) for c in children]
            if kind == "msm_or":
                cnt = masks[0].astype(np.int16)
                for m in masks[1:]:
                    cnt += m
                out = cnt >= node[1]
            else:
                out = masks[0].copy()
                for m in masks[1:]:
                    (out.__iand__ if kind == "and" else out.__ior__)(m)
        self._eval_memo[key] = out
        return out

    def _dense_scores_at(self, node, docs: np.ndarray) -> np.ndarray:
        """float32 scores of the tree at the given docs: per-clause
        table gathers accumulated in clause order in float64, float32
        cast at every composite node boundary — bit-identical to the
        sparse combiners (absent terms contribute an exact 0.0, which
        never perturbs a float64 partial sum).  and/msm nodes zero
        their value at docs failing their own mask (a partially-matched
        AND contributes nothing to an enclosing OR, exactly like the
        sparse evaluator's candidate filtering)."""
        kind = node[0]
        if kind == "term":
            return self._term_dense(node[1])[1][docs]
        children = node[2] if kind == "msm_or" else node[1]
        acc = np.zeros(docs.size, dtype=np.float64)
        for c in children:
            acc += self._dense_scores_at(c, docs)
        out = acc.astype(np.float32)
        if kind in ("and", "msm_or"):
            out *= self._dense_mask(node)[docs]
        return out

    def _sum_parts(self, parts, min_match: int | None = None,
                   tie: float | None = None
                   ) -> tuple[np.ndarray, np.ndarray]:
        """The one clause-score sum of every scoring node: the sorted
        union of child (docs, scores) parts, each doc's scores added to
        0.0 in clause order in double and cast once to the searcher's
        score type (DisjunctionSumScorer, ConjunctionScorer,
        ReqOptSumScorer).  Docs are unique within a part and the parts
        are concatenated in clause order, so `np.bincount` over the
        union's inverse adds in exactly that order.  `min_match` keeps
        docs matched by at least that many parts (MinShouldMatchSumScorer);
        `tie` scores max + tie * (sum - max) (DisjunctionMaxScorer)."""
        parts = [p for p in parts if p[0].size]
        if not parts:
            return np.empty(0, np.int64), np.empty(0, np.float32)
        docs, inv = np.unique(np.concatenate([p[0] for p in parts]),
                              return_inverse=True)
        vals = np.concatenate([p[1].astype(np.float64) for p in parts])
        total = np.bincount(inv, vals, docs.size)
        if tie is not None:
            mx = np.full(docs.size, -np.inf)
            np.maximum.at(mx, inv, vals)
            total = mx + (total - mx) * tie
        if min_match is not None:
            keep = np.bincount(inv, minlength=docs.size) >= min_match
            return docs[keep], total[keep].astype(self._st)
        return docs, total.astype(self._st)

    # ------------------------------------------------------ collector
    def _mostly_undecoded(self, terms: list[str]) -> bool:
        """Cold: no block decoded (a fresh shard's one-block term set
        included, where the half rule alone reads 0 < 0), or under half
        of them."""
        total = sum(len(self._tp(t).blocks) for t in terms)
        cached = sum(self._tp(t).n_decoded for t in terms)
        return cached == 0 or cached < total // 2

    def _collect(self, node, k: int, after=None):
        """Exact top-k of a term/and/or/msm_or tree of term leaves by
        the threshold algorithm (TopScoreDocCollector's early exit;
        threshold pruning as in "Distributed Similarity Joins over Top-K
        Rankings", EDBT 2020), one cursor per distinct leaf term:
        - warm lists walk in (score desc, docID asc) order, a batch per
          round; new docs pass the tree's dense mask and are scored by
          clause-order gathers (`_dense_scores_at`);
        - cold lists of one term or a flat OR of distinct terms walk
          blocks in descending ``block_bound`` order, the highest-bound
          cursor one block per round (block-max); new docs are scored by
          `_sum_parts` over the terms' lookups, which decode only the
          blocks that hold them.
        An unseen doc scores at most the sum of the cursors' next
        bounds (times each term's leaf count), so collection stops once
        theta, the k-th best collectable score (live, past `after`; one
        bounded pool), strictly beats it (+1e-6 float guard).  A warm
        single term arrives in rank order: its first k live entries are
        the page.  None (the exhaustive evaluator answers) for other
        shapes, cold trees, and bounds that do not bite: a cold walk
        whose 32-block probe shows theta skipping under a quarter of the
        blocks, or a warm tree with no proof by half its postings."""
        leaves = _leaf_terms(node)
        if leaves is None:
            return None
        if k == 0:
            return []
        costs = ([self._cost_of(c) for c in node[1]] if node[0] == "and"
                 else None)
        if costs is not None and min(costs) == 0:
            # a required conjunct matches nothing (absent term): the
            # intersection is provably empty
            return []
        terms = list(dict.fromkeys(leaves))  # distinct, clause order
        one = node[0] == "term"
        n = self.max_doc + 1
        if not one and n > self._DENSE_MAX_DOC:
            return None  # the seen bitmap and dense tables are budgeted
        flat = one or (node[0] == "or"
                       and all(c[0] == "term" for c in node[1]))
        cold = self._mostly_undecoded(terms)
        if cold and (not flat or len(terms) < len(leaves)):
            # cold tree: the leapfrog decodes only candidate blocks
            return None
        if one and not cold:
            # a warm single term arrives in rank order: the page is its
            # first k live entries (no bound, seen bitmap or mask)
            docs, scores, order = self._term_full(terms[0], ranked=True)
            hits: list[tuple[int, float]] = []
            pos, step = 0, k + 64
            while pos < order.size and len(hits) < k:
                sel = order[pos:pos + step]
                pos, step = pos + sel.size, 2 * step
                d, sc = docs[sel], scores[sel]
                keep = _live(d, sc, after, self._deleted, self._range)
                hits += zip(d[keep].tolist(), sc[keep].tolist())
            return hits[:k]
        mask = None if flat else self._dense_mask(node)
        if costs is not None:
            # SELECTIVE conjunction: the result is a subset of the
            # cheapest conjunct's matches, so an exact dense-gather over
            # those candidates costs O(min_cost) — while TA consumes a
            # prefix of EVERY leaf's score-descending list (up to half
            # their total length) before its bound can prove anything.
            # Crossover measured at sf0.1 (r3 bench regression
            # and3_1/and3_3: 0.4ms candidate vs 1.3-2.0ms TA;
            # and2_4/mixed_8 where min_cost ~ total stay TA-won).
            lead = node[1][int(np.argmin(costs))]
            if (lead[0] == "term" and min(costs) * 8
                    <= sum(self._tp(t).offs[-1] for t in terms)):
                cand = self._tp(lead[1]).decode_all()[0]
                cand = cand[mask[cand]]
                return _topk_hits(cand, self._dense_scores_at(node, cand),
                                  k, after, self._deleted, self._range)
        cursors = ([_BlockCursor(self._tp(t), self.sim) for t in terms]
                   if cold else
                   [_ListCursor(*self._term_full(t, ranked=True))
                    for t in terms])
        mult = [leaves.count(t) for t in terms]
        total = sum(c.size for c in cursors)
        seen = None if one else np.zeros(n, dtype=bool)
        kept_d: list[np.ndarray] = []
        kept_s: list[np.ndarray] = []
        # theta's pool holds the k best collectable scores: bounded, so
        # a round costs O(batch + k), not O(kept) (unbounded, it took
        # 1.3 s of np.partition on a cold df=172k term at sf0.1)
        pool = np.empty(0, dtype=np.float32)
        theta = -np.inf
        probed = False
        while True:
            bounds = [c.bound() for c in cursors]
            done = sum(c.pos for c in cursors)
            if done >= total or pool.size >= k and theta > sum(
                    m * b for m, b in zip(mult, bounds)) * (1.0 + 1e-6):
                break
            if cold and not probed and done >= 32:
                # bounds not biting (flat per-block bounds: theta can
                # skip < 1/4 of the blocks after a 32-block probe): the
                # batched full decode + one vectorized score pass beats
                # per-block python for the rest
                probed = True
                rest = sum(bounds)
                skippable = sum(np.count_nonzero(c.ubs + (rest - b) < theta)
                                for c, b in zip(cursors, bounds))
                if skippable * 4 < total:
                    return None
            if not cold and done * 2 >= total:
                return None  # no early proof by half-way
            movers = [c for c in cursors if c.pos < c.size]
            if cold:
                movers = [max(movers, key=lambda c: c.bound())]
            fresh = []
            for c in movers:
                d, s = c.take()
                if seen is not None:
                    d = d[~seen[d]]
                    seen[d] = True
                fresh.append((d, s))
            cand = np.concatenate([d for d, _ in fresh])
            if one:
                cs = np.concatenate([s for _, s in fresh])
            else:
                if mask is not None:
                    cand = cand[mask[cand]]  # tree match before scoring
                cand = np.sort(cand)
                # cold: every candidate comes from one of the terms'
                # decoded blocks, so the union of their lookups is the
                # candidate set and `_sum_parts` scores it in place
                cs = (self._sum_parts([self._term_lookup(t, cand)
                                       for t in terms])[1] if cold
                      else self._dense_scores_at(node, cand))
            keep = _live(cand, cs, after, self._deleted, self._range)
            kept_d.append(cand[keep])
            kept_s.append(cs[keep])
            pool = np.concatenate([pool, cs[keep]])
            if pool.size > k:
                pool = np.partition(pool, -k)[-k:]
            if pool.size >= k:
                theta = float(pool.min())
        if not kept_d:
            return []
        return _topk_hits(np.concatenate(kept_d), np.concatenate(kept_s), k)

    # ------------------------------------------------------------- api
    def explain(self, query, doc_id: int) -> dict:
        """Score explanation for one document — the
        IndexSearcher.explain / Explanation surface
        (search/IndexSearcher.java:670-700, similarities/
        BM25Similarity.java explainScore): a nested dict with the node's
        value, match flag and per-component details; term leaves expose
        the BM25 inputs (df, idf, tf, norm byte, avgdl).  The value at
        every node is computed by the REAL evaluation path, so
        explain(q, d)['value'] equals the score search(q) returns for d."""
        node = parse_query(query, opts=self.analyzer_opts) if isinstance(query, str) else query
        node = self.rewrite(node)
        if node is None or node[0] == "matchnone":
            return {"match": False, "value": None,
                    "description": "MatchNoDocsQuery"}
        keys = self._collect_terms(node)
        self._load_terms(keys)
        try:
            return self._explain_node(node, int(doc_id))
        finally:
            self._end_query(keys)

    def _node_value(self, node, doc: int):
        docs, scores = self._eval(node)
        i = int(np.searchsorted(docs, doc))
        if i < docs.size and docs[i] == doc:
            return float(scores[i])
        return None

    def _explain_node(self, node, doc: int) -> dict:
        kind = node[0]
        val = self._node_value(node, doc)
        out: dict = {"match": val is not None, "value": val}
        if kind == "term":
            tp = self._tp(node[1])
            out["description"] = f"weight(text:{node[1]}) [{self.sim.name}]"
            detail = {"docFreq": tp.n_docs, "docCount": self.doc_count,
                      **self.sim.explain(tp.clause)}
            docs, tfs, norms = tp.decode_all()
            i = int(np.searchsorted(docs, doc))
            if i < docs.size and docs[i] == doc:
                detail["freq"] = int(tfs[i])
                detail["norm_byte"] = int(norms[i])
                detail["norm_decoded"] = float(NORM_TABLE[norms[i]])
            out["details"] = [detail]
            return out
        if kind == "fterm":
            tp = self._tp(node[2], node[1])
            sim = self._field_sim(node[1])
            out["description"] = (
                f"weight({node[1]}:{node[2]}) [{sim.name}, omitNorms "
                "StringField]"
            )
            out["details"] = [{"docFreq": tp.n_docs,
                               "docCount": sim.doc_count,
                               **sim.explain(tp.clause, omit_norms=True)}]
            return out
        labels = {
            "and": "sum of (MUST):", "or": "sum of (SHOULD):",
            "msm_or": "sum of matching SHOULD (minShouldMatch):",
            "andnot": "MUST_NOT-filtered:", "reqopt": "required+optional:",
            "reqfilter": "FILTER-restricted:", "filter0": "FILTER only:",
            "boost": "boost product:", "phrase": "phrase(sum idf):",
            "const_or": "ConstantScore(expanded terms):",
            "tsrange": "PointRangeQuery(ts):",
        }
        out["description"] = labels.get(kind, kind)
        if kind in ("and", "or"):
            out["details"] = [self._explain_node(c, doc) for c in node[1]]
        elif kind == "msm_or":
            out["minShouldMatch"] = node[1]
            out["details"] = [self._explain_node(c, doc) for c in node[2]]
        elif kind in ("andnot", "reqopt", "reqfilter"):
            out["details"] = [self._explain_node(node[1], doc),
                              self._explain_node(node[2], doc)]
        elif kind == "boost":
            out["boost"] = float(node[2])
            out["details"] = [self._explain_node(node[1], doc)]
        elif kind == "filter0":
            out["details"] = [self._explain_node(node[1], doc)]
        elif kind == "phrase":
            out["clauses"] = [list(c) for c in node[1]]
            if len(node) > 2:
                out["slop"] = node[2]
        return out

    def search_after(self, query, after: tuple[int, float],
                     k: int = 10) -> list[tuple[int, float]]:
        """Keyset pagination (IndexSearcher.searchAfter,
        search/IndexSearcher.java:411-446): the next page strictly after
        cursor `after` = (doc_id, score) in (score desc, docID asc)
        order — keep docs with score < after.score, or equal score and
        docID > after.doc.  The cursor threads into collection (pruning
        theta and top-k selection), so a page fetch decodes only
        competitive blocks instead of materializing the full ranking."""
        return self.search(query, k=k, after=after)

    def search(self, query, k: int | None = 10, after=None
               ) -> list[tuple[int, float]]:
        """Top-k hits as (doc_id, float32 score); k=None returns ALL
        matches in (score desc, docID asc) order (the searchAfter base).
        `after` = (doc_id, score) cursor restricts hits to those strictly
        after it in rank order.  A negative k raises ValueError."""
        if k is not None and k < 0:
            raise ValueError(f"k must be >= 0 or None, got {k}")
        node = parse_query(query, opts=self.analyzer_opts) if isinstance(query, str) else query
        node = self.rewrite(node)
        if node is None or node[0] == "matchnone":
            return []
        keys = self._collect_terms(node)
        self._load_terms(keys)
        try:
            if (self.pruning and k is not None and self._prunable
                    and node[0] in ("term", "and", "or", "msm_or")):
                hits = self._collect(node, k, after=after)
                if hits is not None:
                    return hits
            docs, scores = self._eval(node)
            return _topk_hits(docs, scores, k, after, self._deleted,
                              self._range)
        finally:
            self._end_query(keys)


def rewrite(node, terms_ds):
    """Fixpoint-free single-pass rewrite (IndexSearcher.rewrite
    analogue) shared by LocalSearcher and DistributedSearcher: expand
    multi-term nodes with a pushed-down pyarrow scan of the term
    dictionary dataset `terms_ds` (multiterm.expand_from_dataset —
    Python-regex and OSA semantics, like the oracle) into constant-score
    unions (MultiTermQueryConstantScoreWrapper); raises TooManyClauses
    past 1024 expanded terms (BooleanQuery.java:43)."""
    from .multiterm import MULTI_TERM_KINDS, expand_from_dataset

    if node is None:
        return None
    kind = node[0]
    if kind in MULTI_TERM_KINDS:
        terms = expand_from_dataset(node, terms_ds, field="text")
        return ("const_or", terms) if terms else ("matchnone",)
    if kind == "span_multi":
        # SpanMultiTermQueryWrapper: expand the wrapped multi-term
        # query against the dictionary into a SpanOr of term spans
        # (spans/SpanMultiTermQueryWrapper.java SpanRewriteMethod);
        # an empty expansion is a SpanOr of nothing (matches no doc)
        return ("sor", expand_from_dataset(node[1], terms_ds, field="text"))
    if kind == "span_near":
        return ("span_near", [rewrite(c, terms_ds) for c in node[1]],
                node[2], node[3])
    if kind in ("span_first", "span_range"):
        return (kind, rewrite(node[1], terms_ds)) + tuple(node[2:])
    if kind in ("span_not", "span_containing", "span_within"):
        return (kind, rewrite(node[1], terms_ds),
                rewrite(node[2], terms_ds)) + tuple(node[3:])
    if kind == "synonym":
        # SynonymQuery.Builder sorts + dedupes its terms
        # (search/SynonymQuery.java constructor); one term left
        # degenerates to a plain TermQuery
        terms = sorted(set(node[1]))
        return ("term", terms[0]) if len(terms) == 1 else \
            ("synonym", terms)
    if kind in ("and", "or"):
        return (kind, [rewrite(c, terms_ds) for c in node[1]])
    if kind == "dismax":
        return ("dismax", [rewrite(c, terms_ds) for c in node[1]],
                node[2])
    if kind == "msm_or":
        return ("msm_or", node[1],
                [rewrite(c, terms_ds) for c in node[2]])
    if kind in ("andnot", "reqopt", "reqfilter"):
        return (kind, rewrite(node[1], terms_ds),
                rewrite(node[2], terms_ds))
    if kind == "boost":
        return ("boost", rewrite(node[1], terms_ds), node[2])
    if kind == "filter0":
        return ("filter0", rewrite(node[1], terms_ds))
    return node


def _sorted_isin(values: np.ndarray, sorted_unique: np.ndarray) -> np.ndarray:
    """Membership of `values` in a SORTED-UNIQUE array — O(n log m)
    searchsorted, avoiding np.isin's internal sort of both inputs (our
    posting doc arrays are always sorted and unique)."""
    if sorted_unique.size == 0:
        return np.zeros(values.size, dtype=bool)
    idx = np.searchsorted(sorted_unique, values)
    idx[idx == sorted_unique.size] = sorted_unique.size - 1
    return sorted_unique[idx] == values


def _live(docs: np.ndarray, scores: np.ndarray, after,
          deleted: np.ndarray, doc_range=None) -> np.ndarray:
    """Collectable docs: not tombstoned (liveDocs), inside the shard's
    [lo, hi) `doc_range` when there is one, and strictly after the
    (doc_id, score) `after` cursor in (score desc, docID asc) order
    (searchAfter pages compete only past the cursor,
    search/IndexSearcher.java:411-446)."""
    keep = np.ones(docs.size, dtype=bool)
    if deleted.size:
        keep &= ~_sorted_isin(docs, deleted)
    if doc_range is not None:
        keep &= (docs >= doc_range[0]) & (docs < doc_range[1])
    if after is not None:
        a_doc, a_score = int(after[0]), scores.dtype.type(after[1])
        keep &= (scores < a_score) | ((scores == a_score) & (docs > a_doc))
    return keep


def _leaf_terms(node) -> list[str] | None:
    """Term names at the leaves of a term/and/or/msm_or tree, in clause
    order with repeats; None when the tree holds any other kind."""
    kind = node[0]
    if kind == "term":
        return [node[1]]
    if kind not in ("and", "or", "msm_or"):
        return None
    out: list[str] = []
    for c in node[2] if kind == "msm_or" else node[1]:
        got = _leaf_terms(c)
        if got is None:
            return None
        out += got
    return out


class _Cursor:
    """A collector cursor over one term: `order` walks `ubs` (a bound
    per entry) in descending order; no entry after `pos` scores more
    than ``bound()``."""

    __slots__ = ("ubs", "order", "pos", "size")

    def bound(self) -> float:
        if self.pos >= self.size:
            return 0.0
        return float(self.ubs[self.order[self.pos]])


class _ListCursor(_Cursor):
    """Warm: the term's scored list in (score desc, docID asc) order,
    1024 docs per take (a warm tree scores its candidates itself, so no
    per-list scores are gathered)."""

    __slots__ = ("docs",)

    def __init__(self, docs, scores, order):
        self.docs, self.ubs, self.order = docs, scores, order
        self.pos, self.size = 0, order.size

    def take(self):
        sel = self.order[self.pos:self.pos + 1024]
        self.pos += sel.size
        return self.docs[sel], None


class _BlockCursor(_Cursor):
    """Cold: the term's posting blocks in descending ``block_bound``
    order, one block decoded and scored per take."""

    __slots__ = ("tp", "sim", "w")

    def __init__(self, tp: _TermPostings, sim):
        self.tp, self.sim = tp, sim
        self.w = sim.weight([tp.clause])
        self.ubs = sim.block_bound(self.w, tp.max_tf, tp.min_ntab)
        self.order = np.argsort(-self.ubs, kind="stable")
        self.pos, self.size = 0, len(tp.blocks)

    def take(self):
        docs, tfs, norms = self.tp.decode(int(self.order[self.pos]))
        self.pos += 1
        return docs, self.sim.score(self.w, tfs.astype(np.float32), norms)


def _topk_hits(docs: np.ndarray, scores: np.ndarray,
               k: int | None, after=None, deleted: np.ndarray | None = None,
               doc_range=None) -> list[tuple[int, float]]:
    """(score desc, docID asc) top-k without a full sort: partition on
    the k-th score, lexsort only the surviving candidates (incl. ties at
    the threshold so the docID tie-break is exact —
    HitQueue.java:76-81).  `after`, `deleted` and `doc_range` mask docs
    before selection (`_live`: searchAfter cursor, liveDocs, shard)."""
    if docs.size and (after is not None or doc_range is not None
                      or deleted is not None and deleted.size):
        keep = _live(docs, scores, after,
                     deleted if deleted is not None else docs[:0], doc_range)
        docs, scores = docs[keep], scores[keep]
    if docs.size == 0:
        return []
    if k is not None and 0 < k < docs.size:
        kth = np.partition(scores, docs.size - k)[docs.size - k]
        keep = np.flatnonzero(scores >= kth)
        docs, scores = docs[keep], scores[keep]
    order = np.lexsort((docs, -scores.astype(np.float64)))[:k]
    return [(int(docs[i]), float(scores[i])) for i in order]
