"""MoreLikeThis — similar-document queries from a source text.

Reference semantics (lucene/queries/src/java/org/apache/lucene/queries/
mlt/MoreLikeThis.java): re-analyze the source document; keep terms with
tf >= minTermFreq (default 2) and docFreq >= minDocFreq (default 5);
score each term tf * idf with the CLASSIC idf
(MoreLikeThis.java `similarity = new ClassicSimilarity()`;
idf = ln((docCount+1)/(docFreq+1)) + 1, TFIDFSimilarity.idf); keep the
top maxQueryTerms (default 25) by score; the query is a BooleanQuery of
SHOULD TermQuery clauses (boost-by-score is OFF by default —
MoreLikeThis.java `boost = false`), and the source document is excluded
from the results (the Solr MLT handler discipline).

Spark-first: the df lookup is a bucket-pruned term_stats scan over only
the source doc's distinct terms; the final query runs through the
regular DistributedSearcher plan.
"""

from __future__ import annotations

import math
from collections import Counter

from ..analysis.analyzer import analyze_detailed


def interesting_terms(text: str, dfs: dict[str, int], doc_count: int,
                      min_term_freq: int = 2, min_doc_freq: int = 5,
                      max_query_terms: int = 25
                      ) -> list[tuple[str, float]]:
    """(term, tf*idf score) of the top interesting terms of `text`,
    score desc / term asc (deterministic boundary ties)."""
    terms, _ = analyze_detailed(text)
    counts = Counter(terms)
    out = []
    for t, tf in counts.items():
        if tf < min_term_freq:
            continue
        df = int(dfs.get(t, 0))
        if df < min_doc_freq:
            continue
        idf = math.log((doc_count + 1.0) / (df + 1.0)) + 1.0
        out.append((t, tf * idf))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:max_query_terms]


def mlt_query_node(text: str, dfs: dict[str, int], doc_count: int,
                   **kw):
    """The MoreLikeThis boolean tree: SHOULD TermQuery per interesting
    term (clauses in term order, so the gate's SQL twin sums the same
    set; boost-by-score is off per the reference default)."""
    top = interesting_terms(text, dfs, doc_count, **kw)
    if not top:
        return ("matchnone",)
    terms = sorted(t for t, _ in top)
    if len(terms) == 1:
        return ("term", terms[0])
    return ("or", [("term", t) for t in terms])


def more_like_this_df(searcher, text: str, exclude_doc: int | None = None,
                      k: int = 10, **kw):
    """Top-k similar docs as DataFrame(doc_id, score) through a
    DistributedSearcher: term selection driver-side from a pruned stats
    lookup, then the standard distributed boolean plan; the source doc
    is excluded before the final top-k."""
    import pyspark.sql.functions as F

    terms, _ = analyze_detailed(text)
    cand = sorted({t for t, c in Counter(terms).items()
                   if c >= kw.get("min_term_freq", 2)})
    dfs = {t: df for t, (df, _) in searcher._stats(cand).items()}
    node = mlt_query_node(text, dfs, searcher.doc_count, **kw)
    if node[0] == "matchnone":
        return searcher.spark.createDataFrame(
            [], f"doc_id long, score {searcher._st}"
        )
    out = searcher.search_df(node, k + (1 if exclude_doc is not None else 0))
    if exclude_doc is not None:
        out = (
            out.filter(F.col("doc_id") != int(exclude_doc))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )
    return out


def more_like_this_local(searcher, text: str,
                         exclude_doc: int | None = None, k: int = 10,
                         **kw) -> list[tuple[int, float]]:
    """Serving-path MLT through a LocalSearcher (pushed dictionary scan
    for the df lookup)."""
    import pyarrow.compute as pc

    terms, _ = analyze_detailed(text)
    cand = sorted({t for t, c in Counter(terms).items()
                   if c >= kw.get("min_term_freq", 2)})
    if cand:
        tbl = searcher._terms_ds.to_table(
            columns=["term", "doc_freq"],
            filter=(pc.field("field") == "text")
            & pc.field("term").isin(cand),
        )
        dfs = dict(zip(tbl["term"].to_pylist(),
                       tbl["doc_freq"].to_pylist()))
    else:
        dfs = {}
    node = mlt_query_node(text, dfs, searcher.doc_count, **kw)
    hits = searcher.search(node, k + (1 if exclude_doc is not None else 0))
    if exclude_doc is not None:
        hits = [h for h in hits if h[0] != exclude_doc][:k]
    return hits
