"""Distributed query executor: the boolean/BM25 plan as DataFrame ops.

This is the cluster path (Solr's distributed GET_TOP_IDS phase, SURVEY.md
§3.2 step 5): every index partition scores its postings locally, then the
global top-k is a TakeOrderedAndProject merge — never a full sort
(TopDocs.merge semantics, search/TopDocs.java:90-114).

Every query has the same plan shape:
- leaves, each tagged with a clause index `cidx`: every text-term leaf
  comes from ONE bucket-pruned, term-pushed postings scan and ONE
  Arrow-batched decode + score mapInPandas (float32 per-term scores,
  term stats read on the driver and captured in the kernel closure);
  phrase, span, keyword-field, ts-range and synonym leaves keep their
  own subplans; all emit rows (doc_id, cidx, score) into one union,
- ONE groupBy(doc_id) collecting the per-doc map m: cidx -> score,
- the boolean tree, compiled once on the driver into ONE Spark SQL
  expression over m (null = no match): AND / OR / minShouldMatch /
  dismax as one clause-order fold over the children, andnot / filter /
  reqopt / boost as null-aware arithmetic — the score type cast at every
  node and double sums in clause order, so scores equal the oracle's,
- the deletes anti-join, then top-k: orderBy(score desc, doc_id
  asc).limit(k)  [per-partition heaps + driver merge under AQE — the
  TopScoreDocCollector/TopDocs.merge shape].

Scores are float32 end-to-end and rank-identical to the LocalSearcher and
the numpy oracle (dtype="float32", the serving default).  dtype="float64"
is the GATE mode: per-term scores computed in double precision from the
exact decoded tf and the exact doc length (docmap `dl`, not the quantized
norm byte) in the operation order of an ANSI-SQL twin (DuckDB), which
the gate queries compare after ROUND(score, 4) — the same compiled
expression, a DuckDB-checkable scoring surface.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os

import numpy as np
import pandas as pd
import pyarrow.dataset as pads
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from ..index.builder import term_bucket
from ..index.codec import decode_block
from .engine import rewrite
from .parser import parse_query
from .similarities import make_similarity


class DistributedSearcher:
    """`similarity`, `mu` and `lmjm_lambda` mirror LocalSearcher: one
    Similarity object (query/similarities.py) scores every leaf.  In
    serving mode (dtype="float32") it keeps the reference's float
    discipline over the quantized norm byte, rank-identical to
    LocalSearcher; in gate mode (dtype="float64") the model's all-double
    rendering with the exact docmap doc length follows an ANSI-SQL
    twin's operation order; phrase, span, synonym and keyword leaves
    (numpy ``score64``) match it after the gates' ROUND(score, 4)."""

    def __init__(self, spark: SparkSession, index_dir: str,
                 dtype: str = "float32", similarity: str = "bm25",
                 mu: float = 2000.0, lmjm_lambda: float = 0.1):
        assert dtype in ("float32", "float64")
        self.spark = spark
        self.index_dir = index_dir
        self.dtype = dtype
        self.similarity = similarity
        #: Spark SQL type of the score column in every plan node
        self._st = "float" if dtype == "float32" else "double"
        with open(os.path.join(index_dir, "_manifest.json")) as f:
            self.params = json.load(f)["params"]
        self.n_buckets = int(self.params["n_buckets"])
        from ..analysis.analyzer import AnalyzerOptions

        #: the index's recorded analyzer chain (query atoms analyze
        #: through the same chain as indexing)
        self.analyzer_opts = AnalyzerOptions.from_manifest(
            self.params.get("analyzer")
        )
        from ..index.builder import read_field_stats

        fs = read_field_stats(index_dir)
        self.doc_count = int(fs["doc_count"] or 0)
        self.sum_ttf = int(fs["sum_total_term_freq"] or 0)
        #: the scoring model over one field's stats; `sim` is the text
        #: field's, keyword-field leaves build theirs in `_fterm_plan`
        self._make_sim = functools.partial(
            make_similarity, similarity, k1=self.params.get("k1", 1.2),
            b=self.params.get("b", 0.75), mu=mu, lmjm_lambda=lmjm_lambda,
        )
        self.sim = self._make_sim(self.doc_count, self.sum_ttf)
        # point-in-time relations, read once like the field stats above
        self._postings = spark.read.parquet(
            os.path.join(index_dir, "postings")
        )
        self._docmap = spark.read.parquet(os.path.join(index_dir, "docmap"))
        self._terms_ds = pads.dataset(
            os.path.join(index_dir, "term_stats"), format="parquet"
        )

    # ------------------------------------------------------------ plan
    def _stats(self, terms, field: str = "text") -> dict:
        """{term: (doc_freq, total_term_freq)} for the given terms of one
        field, read on the driver — a pyarrow scan of term_stats with
        the (field, term) predicate pushed down (the table is (field,
        term)-sorted, so row-group statistics prune it), bounded by the
        query's own terms; no Spark job."""
        terms = sorted(set(terms))
        if not terms:
            return {}
        tbl = self._terms_ds.to_table(
            columns=["term", "doc_freq", "total_term_freq"],
            filter=(pads.field("field") == field)
            & pads.field("term").isin(terms),
        )
        return {
            t: (int(d), int(f)) for t, d, f in zip(
                *(tbl.column(c).to_pylist() for c in tbl.column_names)
            )
        }

    #: broadcast the tombstone set only while its on-disk footprint is
    #: small; a BroadcastExchange still collects the build side into the
    #: driver/executor JVMs (hard caps ~8 GB / 512M rows), so a
    #: heavily-curated corpus with billions of tombstones must take the
    #: shuffle anti-join instead.  64 MB of parquet ≈ low tens of
    #: millions of int64 doc_ids — comfortably broadcastable.
    _DELETES_BROADCAST_MAX_BYTES = 64 * 1024 * 1024

    def _live(self, plan: DataFrame) -> DataFrame:
        """Mask tombstoned docs (liveDocs at collection time): an
        anti-join against the deletes parquet read DIRECTLY as a
        DataFrame — the tombstone set never materializes as Python
        objects on the driver (VERDICT r2 item 4; Lucene50LiveDocsFormat
        keeps liveDocs as per-segment files, our analogue is the
        append-only deletes/ table).  The broadcast hint is applied only
        while the deletes footprint is under
        ``_DELETES_BROADCAST_MAX_BYTES``; beyond that the join falls
        back to a plain shuffle left_anti, which scales to billions of
        tombstones.  Scores/stats stay unchanged until compaction,
        exactly the reference's pre-merge delete semantics."""
        dels = glob.glob(
            os.path.join(self.index_dir, "deletes", "del-*.parquet")
        )
        if not dels:
            return plan
        del_df = self.spark.read.parquet(*dels).select("doc_id").distinct()
        total_bytes = sum(os.path.getsize(p) for p in dels)
        if total_bytes <= self._DELETES_BROADCAST_MAX_BYTES:
            del_df = F.broadcast(del_df)
        return plan.join(del_df, "doc_id", "left_anti")

    def _pruned_postings(self, terms: list[str], cols: list[str],
                         field: str = "text") -> DataFrame:
        """Posting-block scan for the given terms of one field: bucket
        partition pruning + field/term predicate pushdown, column-pruned
        to `cols`.  The predicate is SQL text: one JVM call however
        many terms a multi-term expansion brings."""
        buckets = sorted({term_bucket(t, self.n_buckets) for t in terms})
        return self._postings.where(
            f"bucket IN ({', '.join(map(str, buckets))}) "
            f"AND field = {_sql_str(field)} "
            f"AND term IN ({', '.join(map(_sql_str, terms))})"
        ).select(*cols)

    def _decoded_tf_df(self, terms: list[str]) -> DataFrame:
        """DF(term, doc_id, tf int) decoded from posting blocks."""
        post = self._pruned_postings(
            terms, ["term", "kind", "first_doc", "block_id", "doc_count",
                    "payload"],
        )

        def dec(batches):
            for pdf in batches:
                outs = []
                for row in pdf.itertuples(index=False):
                    docs, tfs = decode_block(
                        dict(kind=row.kind, payload=row.payload,
                             doc_count=row.doc_count, first_doc=row.first_doc,
                             block_id=row.block_id)
                    )
                    outs.append(pd.DataFrame(
                        {"term": row.term, "doc_id": docs,
                         "tf": tfs.astype("int32")}
                    ))
                if outs:
                    yield pd.concat(outs, ignore_index=True)

        return post.mapInPandas(dec, "term string, doc_id long, tf int")

    def _decoded_tf_norm_df(self, terms: list[str]) -> DataFrame:
        """DF(term, doc_id, tf int, norm int) — like _decoded_tf_df but
        carrying the norm byte (for kernels that score summed freqs)."""
        post = self._pruned_postings(
            terms, ["term", "kind", "first_doc", "block_id", "doc_count",
                    "payload", "norms_payload"],
        )

        def dec(batches):
            for pdf in batches:
                outs = []
                for row in pdf.itertuples(index=False):
                    docs, tfs = decode_block(
                        dict(kind=row.kind, payload=row.payload,
                             doc_count=row.doc_count,
                             first_doc=row.first_doc,
                             block_id=row.block_id)
                    )
                    norms = np.frombuffer(row.norms_payload, dtype=np.uint8)
                    outs.append(pd.DataFrame(
                        {"term": row.term, "doc_id": docs,
                         "tf": tfs.astype("int32"),
                         "norm": norms.astype("int32")}
                    ))
                if outs:
                    yield pd.concat(outs, ignore_index=True)

        return post.mapInPandas(
            dec, "term string, doc_id long, tf int, norm int"
        )

    def _synonym_plan(self, terms: list[str], i: int) -> DataFrame | None:
        """SynonymQuery plan (search/SynonymQuery.java): one pruned
        decode of the synonym terms, groupBy(doc_id) summing freqs
        (SynonymScorer — same doc => same norm byte, F.first is safe),
        then ONE pseudo-term scoring pass with docFreq = max over
        terms, totalTermFreq = sum (:134-147), through `_freq_scorer`
        in both modes.  None when no term exists."""
        terms = sorted(set(terms))
        stats = self._stats(terms)
        if not stats:
            return None
        df_max = max(s[0] for s in stats.values())
        ttf_sum = sum(s[1] for s in stats.values())
        agg = (
            self._decoded_tf_norm_df(terms)
            .groupBy("doc_id")
            .agg(F.sum("tf").alias("tf"), F.first("norm").alias("norm"))
        )
        if self.dtype == "float64":
            agg = agg.join(self._docmap.select("doc_id", "dl"), "doc_id")
        st = self._st
        # pseudo single-clause weight: df = max, ttf = sum
        score = self._freq_scorer([(df_max, ttf_sum)])

        def score_syn(batches):
            for pdf in batches:
                sc = score(pdf["tf"].to_numpy(), pdf)
                yield pd.DataFrame(
                    {"doc_id": pdf["doc_id"].to_numpy(), "score": sc}
                )

        return (
            agg.mapInPandas(score_syn, f"doc_id long, score {st}")
            .withColumn("cidx", F.lit(i))
        )

    def _scored_terms_df_double(self, cidx_of: dict) -> DataFrame:
        """Gate-mode term leaves: DF(doc_id, cidx, score double) scored
        in double precision from exact tf/df/dl (docmap doc length, not
        the quantized norm byte) in an ANSI-SQL twin's operation order;
        the formula is the Similarity's ``gate_col``.  The per-term
        stats and clause indexes enter the plan as literal map
        columns."""
        terms = sorted(cidx_of)
        stats = self._stats(terms)

        def by_term(value) -> Column:
            """Literal map {t: value(t)} looked up at the row's term."""
            return F.create_map(*[
                c for t in terms for c in (F.lit(t), value(t))
            ])[F.col("term")]

        def stat(j: int) -> Column:
            return by_term(
                lambda t: F.lit(stats.get(t, (0, 0))[j]).cast("long")
            )

        tp = self._decoded_tf_df(terms).select(
            "doc_id", "tf",
            stat(0).alias("doc_freq"), stat(1).alias("total_term_freq"),
            F.explode(by_term(
                lambda t: F.array(*map(F.lit, cidx_of[t]))
            )).alias("cidx"),
        )
        score = self.sim.gate_col()
        return (
            tp.join(self._docmap.select("doc_id", "dl"), "doc_id")
            .select("doc_id", "cidx", score.alias("score"))
        )

    def _scored_terms_df(self, cidx_of: dict) -> DataFrame:
        """DF(doc_id, cidx, score) for every text-term leaf in ONE
        partition-pruned scan + decode pass (score dtype per mode):
        `cidx_of` maps each term to the clause indexes of its leaves,
        and a term's scored postings are emitted once per index."""
        if self.dtype == "float64":
            return self._scored_terms_df_double(cidx_of)
        terms = sorted(cidx_of)
        dfs = self._stats(terms)
        post = self._pruned_postings(
            terms, ["term", "salt", "block_id", "kind", "first_doc",
                    "doc_count", "payload", "norms_payload"],
        )
        sim = self.sim

        def score_blocks(batches):
            weights: dict = {}
            for pdf in batches:
                outs = []
                for row in pdf.itertuples(index=False):
                    docs, tfs = decode_block(
                        dict(
                            kind=row.kind,
                            payload=row.payload,
                            doc_count=row.doc_count,
                            first_doc=row.first_doc,
                            block_id=row.block_id,
                        )
                    )
                    norms = np.frombuffer(row.norms_payload, dtype=np.uint8)
                    w = weights.get(row.term)
                    if w is None:
                        w = weights[row.term] = sim.weight(
                            [dfs.get(row.term, (0, 0))]
                        )
                    sc = sim.score(w, tfs.astype(np.float32), norms)
                    outs.extend(
                        pd.DataFrame(
                            {"doc_id": docs, "cidx": np.int32(i), "score": sc}
                        )
                        for i in cidx_of[row.term]
                    )
                if outs:
                    yield pd.concat(outs, ignore_index=True)

        return post.mapInPandas(
            score_blocks, "doc_id long, cidx int, score float"
        )

    def _fterm_plan(self, field: str, value: str, i: int) -> DataFrame:
        """Keyword-field TermQuery plan: decode the (field, value)
        posting list (bucket-pruned scan) and attach the constant
        omitNorms score — tf is always 1 for StringField values, so the
        model over the FIELD's stats gives one per-query literal."""
        docs = self._decoded_tf_df_for_field(field, value)
        from ..index.builder import read_field_stats

        fs = read_field_stats(self.index_dir, field)
        sim = self._make_sim(fs["doc_count"], fs["sum_total_term_freq"])
        clause = [self._stats([value], field).get(value, (0, 0))]
        one = np.ones(1, dtype=np.float32)
        sc = float(
            sim.score(sim.weight(clause), one, None)[0]
            if self.dtype == "float32"
            else sim.score64(sim.weight64(clause), one, None)[0]
        )
        return docs.select(
            "doc_id",
            F.lit(sc).cast(self._st).alias("score"),
            F.lit(i).alias("cidx"),
        )

    def _decoded_tf_df_for_field(self, field: str, value: str) -> DataFrame:
        post = self._pruned_postings(
            [value], ["term", "kind", "first_doc", "block_id", "doc_count",
                      "payload"], field=field,
        )

        def dec(batches):
            for pdf in batches:
                outs = []
                for row in pdf.itertuples(index=False):
                    docs, _ = decode_block(
                        dict(kind=row.kind, payload=row.payload,
                             doc_count=row.doc_count, first_doc=row.first_doc,
                             block_id=row.block_id)
                    )
                    outs.append(pd.DataFrame({"doc_id": docs}))
                if outs:
                    yield pd.concat(outs, ignore_index=True)

        return post.mapInPandas(dec, "doc_id long")

    def _phrase_positions_df(self, terms: list[str]) -> DataFrame:
        """DF(term, doc_id, norm int, pos array<long>): decoded positions
        for the phrase terms, one partition-pruned scan."""
        post = self._pruned_postings(
            terms, ["term", "kind", "first_doc", "block_id", "doc_count",
                    "payload", "norms_payload", "pos_payload"],
        )

        def dec(batches):
            from ..index.codec import decode_positions

            for pdf in batches:
                outs = []
                for row in pdf.itertuples(index=False):
                    if row.pos_payload is None:
                        raise ValueError(
                            f"term {row.term!r}: index has no positions "
                            "(build with BuildConfig(positions=True))"
                        )
                    docs, tfs = decode_block(
                        dict(kind=row.kind, payload=row.payload,
                             doc_count=row.doc_count, first_doc=row.first_doc,
                             block_id=row.block_id)
                    )
                    norms = np.frombuffer(row.norms_payload, dtype=np.uint8)
                    outs.append(pd.DataFrame(
                        {"term": row.term, "doc_id": docs,
                         "norm": norms.astype("int32"),
                         "pos": decode_positions(row.pos_payload, tfs)}
                    ))
                if outs:
                    yield pd.concat(outs, ignore_index=True)

        return post.mapInPandas(
            dec, "term string, doc_id long, norm int, pos array<long>"
        )

    def _freq_scorer(self, clauses):
        """freq -> score of one phrase/span/synonym weight over an Arrow
        batch `pdf`: `clauses` are the weight's (doc_freq,
        total_term_freq) pairs (duplicates kept for phrases,
        deduplicated for spans — the termStats[] handed to
        Similarity.computeWeight / SpanWeight.buildSimWeight).  Serving
        mode scores from the batch's norm byte, gate mode from its exact
        docmap `dl`."""
        sim = self.sim
        if self.dtype == "float32":
            w = sim.weight(clauses)
            return lambda freqs, pdf: sim.score(
                w, freqs.astype(np.float32),
                pdf["norm"].to_numpy().astype(np.uint8),
            )
        w = sim.weight64(clauses)
        return lambda freqs, pdf: sim.score64(w, freqs, pdf["dl"].to_numpy())

    def _phrase_plan(self, clauses, slop: int, i: int) -> DataFrame:
        """Distributed Exact/SloppyPhraseScorer (VERDICT r1 item 2 — the
        proven DF plan folded in from the gate): decode positions for the
        phrase terms in one pruned scan, inner-join clauses on doc_id (so
        only docs containing EVERY term reach Python), then an
        Arrow-batched kernel computes the phrase freq (start-position
        intersection / sloppy.py greedy windows) and scores it with the
        weight over every clause (`_freq_scorer`) — float32 in serving
        mode, double + exact dl in gate mode (semantics per
        search/ExactPhraseScorer.java and SloppyPhraseScorer.java)."""
        terms = [t for t, _ in clauses]
        pos_df = self._phrase_positions_df(sorted(set(terms)))
        joined = None
        for j, (t, _rel) in enumerate(clauses):
            sel = [F.col("doc_id"), F.col("pos").alias(f"p{j}")]
            if j == 0:
                sel.append("norm")
            cdf = pos_df.filter(F.col("term") == t).select(*sel)
            joined = cdf if joined is None else joined.join(cdf, "doc_id")
        dfs = self._stats(terms)
        if self.dtype == "float64":
            joined = joined.join(self._docmap.select("doc_id", "dl"),
                                 "doc_id")
        rels = [rel for _, rel in clauses]
        n_cl = len(clauses)
        st = self._st
        score = self._freq_scorer([dfs.get(t, (0, 0)) for t in terms])

        from .sloppy import repeat_groups

        groups = repeat_groups(terms)

        def _exact_freqs_batch(cols, n) -> np.ndarray:
            """Vectorized ExactPhraseScorer counts for a whole Arrow
            batch (the spans_batch.py CSR discipline — no per-row
            Python): encode every (row, offset-adjusted position) as
            row*M + pos and intersect the n_cl encoded arrays ONCE
            globally.  Keys are unique per clause and rows never
            collide, so the global sorted intersection equals the
            per-row start-position intersection; counting survivors
            per row via bincount yields the phrase freqs."""
            shift = max(rels)  # keep adjusted positions >= 0
            enc = []
            for j in range(n_cl):
                lens = np.fromiter(
                    (len(a) for a in cols[j]), dtype=np.int64, count=n
                )
                flat = (np.concatenate(cols[j])
                        if lens.sum() else np.empty(0, np.int64))
                row = np.repeat(np.arange(n, dtype=np.int64), lens)
                enc.append((row, np.asarray(flat, dtype=np.int64)
                            - rels[j] + shift))
            m = 1 + max(
                (int(p.max()) for _r, p in enc if p.size), default=0
            )
            base = enc[0][0] * m + enc[0][1]
            for row, pos in enc[1:]:
                if base.size == 0:
                    break
                base = np.intersect1d(base, row * m + pos,
                                      assume_unique=True)
            freqs = np.zeros(n, dtype=np.float32)
            if base.size:
                # a start position is valid only when the FIRST clause
                # position is >= 0, i.e. encoded pos part >= shift
                ok = base[(base % m) >= shift]
                if ok.size:
                    cnt = np.bincount(ok // m, minlength=n)
                    freqs[:] = cnt.astype(np.float32)
            return freqs

        def score_phrase(batches):
            from .sloppy import sloppy_freq

            for pdf in batches:
                n = len(pdf)
                cols = [pdf[f"p{j}"].to_numpy() for j in range(n_cl)]
                if slop == 0:
                    freqs = _exact_freqs_batch(cols, n)
                else:
                    # sloppy stays per-candidate: SloppyPhraseScorer's
                    # greedy window walk (heap + repeat-group collision
                    # resolution) is order-dependent per doc; the loop
                    # is bounded by docs containing EVERY phrase term
                    freqs = np.zeros(n, dtype=np.float32)
                    for r in range(n):
                        arrs = [
                            np.asarray(cols[j][r], dtype=np.int64)
                            - rels[j]
                            for j in range(n_cl)
                        ]
                        freqs[r] = sloppy_freq(arrs, rels, slop, groups)
                keep = freqs > 0
                sc = score(freqs, pdf)
                out = pd.DataFrame(
                    {"doc_id": pdf["doc_id"].to_numpy()[keep],
                     "score": sc[keep]}
                )
                out["cidx"] = i
                yield out

        return joined.mapInPandas(
            score_phrase, f"doc_id long, score {st}, cidx int"
        )

    def _span_cand_df(self, clause, pos_df: DataFrame) -> DataFrame:
        """DF(doc_id) of docs that can match a span clause — the
        two-phase doc-level approximation: term -> its posting docs,
        or -> union, near -> conjunction (left_semi join),
        containing/within -> ConjunctionSpans(big, little),
        first/range/not -> the match/include side.  `pos_df` is the
        positions-FREE doc decode (candidates never pay position
        decoding; only the final per-doc aggregation does)."""
        kind = clause[0]
        if kind == "sterm":
            return pos_df.filter(F.col("term") == clause[1]).select("doc_id")
        if kind == "sor":
            return (
                pos_df.filter(F.col("term").isin(list(clause[1])))
                .select("doc_id")
                .distinct()
            )
        if kind == "span_near":
            out = None
            for c in clause[1]:
                cd = self._span_cand_df(c, pos_df)
                out = cd if out is None else out.join(cd, "doc_id", "left_semi")
            return out
        if kind in ("span_first", "span_not", "span_range"):
            return self._span_cand_df(clause[1], pos_df)
        if kind in ("span_containing", "span_within"):
            return self._span_cand_df(clause[1], pos_df).join(
                self._span_cand_df(clause[2], pos_df), "doc_id", "left_semi"
            )
        raise ValueError(kind)

    def _span_plan(self, node, i: int) -> DataFrame:
        """Distributed span execution (SpanWeight.java /
        NearSpansOrdered.java:88-118 / SpanScorer.java:90-110 — VERDICT
        r2 item 1): ONE pruned position scan for every span term, a
        doc-level candidate conjunction/union per the clause tree, then
        an Arrow-batched kernel enumerates matches per doc with the
        shared span spec (query/spans.py semantics, batch CSR kernels
        from query/spans_batch.py — no per-doc Python) and scores the
        float32 freq = sum 1/(1+width).  The kernel runs on executors
        over only the candidate docs — no driver-side evaluation."""
        from .spans import span_terms

        all_terms = sorted(set(span_terms(node)))
        pos_df = self._phrase_positions_df(all_terms)
        cand = self._span_cand_df(node, self._decoded_tf_df(all_terms))
        agg = (
            pos_df.join(cand, "doc_id", "left_semi")
            .groupBy("doc_id")
            .agg(
                F.collect_list(F.struct("term", "pos")).alias("tp"),
                F.min("norm").alias("norm"),
            )
        )
        if self.dtype == "float64":
            agg = agg.join(self._docmap.select("doc_id", "dl"), "doc_id")
        # scoring weight over the DEDUPLICATED scoring terms
        # (SpanWeight.buildSimWeight term map)
        sterms = sorted(set(span_terms(node, scoring=True, top=True)))
        dfs = self._stats(sterms)
        st = self._st
        score = self._freq_scorer([dfs.get(t, (0, 0)) for t in sterms])

        def score_spans(batches):
            from .spans_batch import (
                batch_doc_spans, batch_span_freqs, empty, from_positions,
            )

            for pdf in batches:
                n = len(pdf)
                tps = pdf["tp"].tolist()
                # CSR per term (one cheap structural pass), then the
                # vectorized batch kernels — no per-doc enumeration
                per_term: dict[str, list] = {t: [None] * n
                                             for t in all_terms}
                for r in range(n):
                    for e in tps[r]:
                        lst = per_term.get(e["term"])
                        if lst is not None:
                            lst[r] = np.asarray(e["pos"], dtype=np.int64)
                bs_cache = {
                    t: from_positions(pl, n) for t, pl in per_term.items()
                }

                def term_batch(t, _c=bs_cache, _n=n):
                    bs = _c.get(t)
                    return bs if bs is not None else empty(_n)

                freqs = batch_span_freqs(
                    batch_doc_spans(node, n, term_batch)
                )
                keep = freqs > 0
                sc = score(freqs, pdf)
                out = pd.DataFrame(
                    {"doc_id": pdf["doc_id"].to_numpy()[keep],
                     "score": sc[keep]}
                )
                out["cidx"] = i
                yield out

        return agg.mapInPandas(
            score_spans, f"doc_id long, score {st}, cidx int"
        )

    def _tsrange_plan(self, node, i: int) -> DataFrame:
        """PointRangeQuery analogue: the ts predicate pushes into the
        docmap parquet scan (constant score 1.0 as a scoring clause)."""
        _, lo, hi, il, ih = node
        ts = F.col("ts")
        cond = ts.isNotNull()
        if lo is not None:
            lov = F.lit(lo).cast("timestamp")
            cond = cond & (ts >= lov if il else ts > lov)
        if hi is not None:
            hiv = F.lit(hi).cast("timestamp")
            cond = cond & (ts <= hiv if ih else ts < hiv)
        return self._docmap.filter(cond).select(
            "doc_id", F.lit(i).alias("cidx"),
            F.lit(1.0).cast(self._st).alias("score"),
        )

    def _plan(self, node) -> DataFrame | None:
        """DF(doc_id, score) of every doc the rewritten query matches
        (score typed per self.dtype), in the one plan shape of the
        module docstring: leaves scored once into (doc_id, cidx, score)
        rows, ONE groupBy(doc_id) into the per-doc map m: cidx -> score,
        and the boolean tree compiled into ONE Spark SQL expression over
        m (built as text: one JVM call, not one per Column operation).
        None when the query has no leaf that can match."""
        st = self._st
        if node is None or node[0] == "matchnone":
            return None
        from .spans import SPAN_KINDS

        absent = f"CAST(NULL AS {st})"
        cidx = itertools.count()
        cidx_of: dict[str, list[int]] = {}  # text-term leaves
        subplans: list[DataFrame] = []  # every other leaf

        def term(t: str) -> int:
            i = next(cidx)
            cidx_of.setdefault(t, []).append(i)
            return i

        def subplan(make) -> str:
            i = next(cidx)
            df = make(i)
            if df is None:
                return absent
            subplans.append(df)
            return f"m[{i}]"

        def comp(n) -> str:
            kind = n[0]
            if kind == "term":
                return f"m[{term(n[1])}]"
            if kind == "const_or":
                # constant-score union (MultiTermQueryConstantScoreWrapper);
                # one index per expanded term keeps map keys unique
                ids = [term(t) for t in n[1]]
                return (f"CASE WHEN exists(map_keys(m), c -> c BETWEEN "
                        f"{ids[0]} AND {ids[-1]}) THEN CAST(1 AS {st}) END")
            if kind == "matchnone":
                return absent
            if kind in SPAN_KINDS:
                return subplan(lambda i: self._span_plan(n, i))
            if kind == "phrase":
                return subplan(lambda i: self._phrase_plan(
                    n[1], n[2] if len(n) > 2 else 0, i))
            if kind == "synonym":
                return subplan(lambda i: self._synonym_plan(list(n[1]), i))
            if kind == "fterm":
                return subplan(lambda i: self._fterm_plan(n[1], n[2], i))
            if kind == "tsrange":
                return subplan(lambda i: self._tsrange_plan(n, i))
            if kind == "boost":
                return f"CAST({comp(n[1])} * {_double(n[2])} AS {st})"
            if kind in ("andnot", "reqfilter", "reqopt"):
                pos, other = comp(n[1]), comp(n[2])
                if kind == "andnot":
                    return f"CASE WHEN {other} IS NULL THEN {pos} END"
                if kind == "reqfilter":
                    return f"CASE WHEN {other} IS NOT NULL THEN {pos} END"
                return (f"CAST(CAST({pos} AS DOUBLE) + coalesce("
                        f"CAST({other} AS DOUBLE), 0D) AS {st})")
            if kind == "filter0":
                return (f"CASE WHEN {comp(n[1])} IS NOT NULL "
                        f"THEN CAST(0 AS {st}) END")
            if kind == "msm_or":
                # MinShouldMatchSumScorer: >= n SHOULD clauses match
                return _fold([comp(c) for c in n[2]], st,
                             f"CASE WHEN a.n >= {int(n[1])} THEN a.s END")
            if kind == "dismax":
                # DisjunctionMaxScorer: max + tie * (sum - max)
                return _fold([comp(c) for c in n[1]], st,
                             f"a.mx + (a.s - a.mx) * {_double(n[2])}")
            if kind == "and":
                return _fold([comp(c) for c in n[1]], st,
                             f"CASE WHEN a.n = {len(n[1])} THEN a.s END")
            if kind == "or":
                return _fold([comp(c) for c in n[1]], st, "a.s")
            raise ValueError(kind)

        score = comp(node)
        if cidx_of:
            subplans.insert(0, self._scored_terms_df(cidx_of))
        if not subplans:
            return None
        return (
            functools.reduce(DataFrame.unionByName, subplans)
            .groupBy("doc_id")
            .agg(F.map_from_entries(
                F.collect_list(F.struct("cidx", "score"))).alias("m"))
            .select("doc_id", F.expr(score).alias("score"))
            .filter(F.col("score").isNotNull())
        )

    # ---------------------------------------------------------- rewrite
    def rewrite(self, node):
        """The shared rewrite (engine.rewrite): multi-term nodes expand
        with a pushed-down pyarrow scan of the term dictionary in this
        process, with no Spark job."""
        return rewrite(node, self._terms_ds)

    # ------------------------------------------------------------- api
    def _hits(self, query, live: bool = True) -> DataFrame:
        """DF(doc_id, score) of every doc a query string or tree
        matches, through parse -> rewrite -> `_plan`; `live` masks
        tombstoned docs."""
        node = (parse_query(query, opts=self.analyzer_opts)
                if isinstance(query, str) else query)
        plan = self._plan(self.rewrite(node))
        if plan is None:
            return self.spark.createDataFrame(
                [], f"doc_id long, score {self._st}"
            )
        return self._live(plan) if live else plan

    def search_df(self, query, k: int = 10, after=None) -> DataFrame:
        """Top-k as a DataFrame(doc_id long, score float) — composable
        with join-back to the source table (stored-fields fetch).
        `after` = (doc_id, score) keyset cursor: only docs strictly
        after it in (score desc, docID asc) order are returned (the
        distributed searchAfter — TopDocs.merge honors the cursor on
        every shard before the final merge).  A negative k raises
        ValueError before any Spark work."""
        if k < 0:
            raise ValueError(f"k must be >= 0, got {k}")
        plan = self._hits(query)
        if after is not None:
            a_doc, a_score = int(after[0]), float(after[1])
            s_lit = F.lit(a_score).cast(self._st)
            plan = plan.filter(
                (F.col("score") < s_lit)
                | ((F.col("score") == s_lit) & (F.col("doc_id") > a_doc))
            )
        return plan.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def search(self, query, k: int = 10) -> list[tuple[int, float]]:
        return [
            (int(r["doc_id"]), float(r["score"]))
            for r in self.search_df(query, k).collect()
        ]

    def matching_docs_df(self, query) -> DataFrame:
        """ALL matching docIDs, no ranking — the needsScores=false /
        FILTER path (BooleanQuery.java:184-205; Solr fq).  Returns
        DataFrame(doc_id long)."""
        return self._hits(query).select("doc_id")

    def search_conversations(self, query, k: int = 10,
                             mode: str = "max") -> DataFrame:
        """Parent/child block join: roll turn-level BM25 hits up to their
        conversations (ToParentBlockJoinQuery with ScoreMode.Max/Total,
        lucene/join/.../ToParentBlockJoinQuery.java) —
        groupBy(conv_id).agg(max|sum|avg(turn score)).  Returns
        DataFrame(conv_id, score float, n_hits) top-k by (score desc,
        conv_id asc)."""
        agg = {"max": F.max, "sum": F.sum, "avg": F.avg}[mode]
        return (
            self._hits(query)
            .join(self._docmap.select("doc_id", "conv_id"), "doc_id")
            .groupBy("conv_id")
            .agg(
                agg(F.col("score").cast("double")).cast(self._st).alias("score"),
                F.count("*").alias("n_hits"),
            )
            .orderBy(F.desc("score"), F.asc("conv_id"))
            .limit(k)
        )

    def collapse_df(self, query, field: str, k: int = 10,
                    expand_k: int = 0) -> DataFrame:
        """Field collapsing + expand (solr/core/.../search/
        CollapsingQParserPlugin.java group-head selection,
        handler/component/ExpandComponent.java): keep ONE top-scoring
        doc per `field` group among the query's matches (head =
        (score desc, docID asc) min, the plugin's default max-score
        head), rank surviving heads by score, and with expand_k > 0
        also return up to expand_k non-head members per surviving
        group.  Returns DataFrame(group, doc_id, score, rank) where
        rank 1 is the collapsed head and 2..expand_k+1 the expansion.

        Skew discipline: a window partitioned by the group field alone
        would funnel ALL matches of a low-cardinality field (role has
        3 values) into as many tasks — a 100-TB bottleneck.  Instead
        the top-(1+expand_k) survivors are taken per (group, input
        partition) first (hash-distributed across ALL tasks — the
        per-segment head selection the reference does per leaf reader),
        and only the tiny per-partition survivor set (<= groups *
        partitions * (1+expand_k) rows) goes through the final
        per-group window — the TopDocs.merge shape applied to
        collapsing."""
        from pyspark.sql import Window

        plan = self._hits(query)
        docmap = self._docmap.select(
            "doc_id", F.col(field).cast("string").alias("group")
        )
        keep_n = 1 + max(0, expand_k)
        w_part = Window.partitionBy("group", "_pid").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        survivors = (
            plan.join(docmap, "doc_id")
            .withColumn("_pid", F.spark_partition_id())
            .withColumn("_prk", F.row_number().over(w_part))
            .filter(F.col("_prk") <= keep_n)
            .drop("_pid", "_prk")
        )
        w = Window.partitionBy("group").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        ranked = (
            survivors
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= keep_n)
        )
        heads = (
            ranked.filter(F.col("rank") == 1)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .select("group")
        )
        return (
            ranked.join(F.broadcast(heads), "group", "left_semi")
            .select("group", "doc_id", "score", "rank")
            .orderBy(F.asc("group"), F.asc("rank"))
        )

    def search_elevated_df(self, query, elevated_ids: list[int],
                           k: int = 10) -> DataFrame:
        """Query elevation (solr/core/.../handler/component/
        QueryElevationComponent.java): the configured doc ids rank
        ABOVE every organic hit, in configured order — the editorial
        "sponsored result" pin.  Elevated docs keep their organic score
        when they match the query and 0 otherwise (forceElevation:
        pinned even when not matching); organic results follow in
        (score desc, docID asc) order with the elevated ids excluded,
        k rows total.  One extra broadcast join over the normal plan —
        the elevation set is configuration-sized."""
        st = self._st
        organic = self._hits(query)
        elev = self.spark.createDataFrame(
            [(int(d), i) for i, d in enumerate(elevated_ids)],
            "doc_id long, _pos int",
        )
        # elevation never resurrects tombstoned docs: the reference's
        # QueryElevationComponent only pins LIVE docs (the elevated id
        # set is intersected with liveDocs at collection), so the
        # configured ids go through the same deletes anti-join as
        # organic hits — a config-sized input, so the join is free
        elev = self._live(elev)
        elev_rows = (
            elev.join(organic, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("score"), F.lit(0.0)).cast(st)
                .alias("score"),
                F.lit(True).alias("elevated"), "_pos",
            )
        )
        org_rows = (
            organic.join(F.broadcast(elev.select("doc_id")), "doc_id",
                         "left_anti")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .select("doc_id", "score", F.lit(False).alias("elevated"),
                    F.lit(2**31 - 1).alias("_pos"))
        )
        return (
            elev_rows.unionByName(org_rows)
            .orderBy(F.desc("elevated"), F.asc("_pos"),
                     F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .drop("_pos")
        )

    def search_boosted_df(self, query, boost_expr: str,
                          cols: tuple[str, ...] = ("dl",),
                          k: int = 10) -> DataFrame:
        """Function-boosted search (Solr's `{!boost b=func(field)}` —
        search/BoostQParserPlugin.java wrapping a FunctionScoreQuery /
        BoostedQuery over a ValueSource): final score = relevance
        score × `boost_expr`, a SQL expression over the stored-field
        columns in `cols` (our docmap IS the DocValues store; the
        column-pruned doc_id join is the access path).  The canonical
        use is recency/quality boosting.  Evaluated entirely JVM-side
        (Catalyst expression), then the usual top-k."""
        st = self._st
        return (
            self._hits(query)
            .join(self._docmap.select("doc_id", *cols), "doc_id")
            .withColumn(
                "score",
                (F.col("score").cast("double")
                 * F.expr(boost_expr).cast("double")).cast(st),
            )
            .select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def rescore_df(self, query, rescore_query=None, weight: float = 1.0,
                   n: int = 50, k: int = 10, rescore_expr: str | None = None,
                   cols: tuple[str, ...] = ("dl",),
                   mode: str = "add") -> DataFrame:
        """Second-pass rescoring (search/QueryRescorer.java:51-140 /
        Rescorer.java; the Solr LTR rescorer role): take the
        first-pass top-`n` hits, score them with a SECOND query or a
        stored-field expression, and combine.

        - `rescore_query`: QueryRescorer's sugar combine (:165-177) —
          score = firstPassScore + weight * secondPassScore when the
          second query matches the hit, else firstPassScore unchanged.
        - `rescore_expr` (SQL over docmap columns in `cols` — the LTR
          model-score seam): mode 'add' -> first + weight*expr,
          'multiply' -> first * expr, 'replace' -> weight*expr.

        Re-sorted by (score desc, docID asc) and truncated to `k`,
        exactly the reference's post-combine comparator (:113-127).
        Two-phase at scale: the first pass is the normal pruned top-n
        (driver holds n rows), the second query's plan is evaluated
        restricted to those n docs via a broadcast join — the second
        pass never scans beyond the rescored candidate set's postings."""
        st = self._st
        first = self.search_df(query, n).select(
            "doc_id", F.col("score").cast("double").alias("s1")
        )
        if rescore_expr is not None:
            dm = self._docmap.select("doc_id", *cols)
            joined = first.join(dm, "doc_id").withColumn(
                "s2", F.expr(rescore_expr).cast("double")
            )
            if mode == "replace":
                comb = F.lit(float(weight)) * F.col("s2")
            elif mode == "multiply":
                comb = F.col("s1") * F.col("s2")
            else:
                comb = F.col("s1") + F.lit(float(weight)) * F.col("s2")
        else:
            second = self._hits(rescore_query, live=False).select(
                "doc_id", F.col("score").cast("double").alias("s2")
            )
            # first-pass set is n rows — broadcast so the second pass
            # is a map-side probe, no shuffle of the second plan
            joined = F.broadcast(first).join(second, "doc_id", "left")
            comb = (F.col("s1")
                    + F.lit(float(weight)) * F.coalesce("s2", F.lit(0.0)))
        return (
            joined.select("doc_id", comb.cast(st).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def fetch_topk_with_source(self, query, transcripts: DataFrame, k: int = 10
                               ) -> DataFrame:
        """Two-phase fetch (Solr GET_FIELDS): broadcast-join the tiny top-k
        back to docmap + source table for stored fields."""
        top = self.search_df(query, k)
        ids = self._docmap.join(F.broadcast(top), "doc_id")
        return (
            transcripts.join(
                F.broadcast(ids.select("doc_id", "score", "conv_id", "turn_idx")),
                ["conv_id", "turn_idx"],
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )


def _sql_str(s: str) -> str:
    """Spark SQL string literal for `s`."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _double(x) -> str:
    """Spark SQL DOUBLE literal equal to the Python float `x` (repr
    round-trips, and Spark parses it to the same IEEE double)."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def _fold(children: list[str], st: str, finish: str) -> str:
    """Spark SQL for one clause-order pass over a node's child scores
    (null = the child does not match).  The accumulator `a` carries `s`,
    the double sum of the present children in clause order (null while
    none is), `n`, their count, and `mx`, their max; `finish` maps it to
    the node's score (null = no match), cast to `st`.  Every child
    expression appears once, so a nested tree compiles to an expression
    linear in the query's size."""
    kids = ", ".join(f"CAST({c} AS DOUBLE)" for c in children)
    return (
        f"CAST(aggregate(array({kids}), named_struct('s', CAST(NULL AS "
        "DOUBLE), 'n', 0, 'mx', CAST(NULL AS DOUBLE)), (a, x) -> CASE WHEN "
        "x IS NULL THEN a ELSE named_struct('s', coalesce(a.s, 0D) + x, "
        "'n', a.n + 1, 'mx', greatest(a.mx, x)) END, "
        f"a -> {finish}) AS {st})"
    )
