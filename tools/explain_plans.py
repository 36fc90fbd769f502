"""Capture physical plans for the headline operators into BENCH/PLANS.md
— evidence that filters push down, columns prune, small sides broadcast,
and top-k compiles to TakeOrderedAndProject (never a full sort).

Run: python tools/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(sf_dir: str) -> None:
    import __spark_entry__ as E
    from lucene_solr_spark.session import get_spark

    spark = get_spark("explain", cores=8, shuffle_partitions=8)
    qs = E.queries()
    picks = [
        ("bm25_and", "boolean AND: Range of S shard ids -> ONE "
                     "MapInPandas (a LocalSearcher per doc range runs the "
                     "whole query) -> TakeOrderedAndProject merge"),
        ("field_filter_bm25",
         "text BM25 + keyword/ts FILTER clauses: the same shard plan; "
         "filters evaluate inside each shard's LocalSearcher"),
        ("phrase_query",
         "distributed phrase: the same shard plan; each shard decodes "
         "positions only for its range's candidate blocks"),
        ("bm25_msm", "minShouldMatch: the same shard plan, no shuffle"),
        ("span_near_membership",
         "distributed span: the same shard plan; the span spec runs "
         "on executors over each range's candidates"),
        ("tfidf_term_topk",
         "ClassicSimilarity over the same index: the similarity is a "
         "shard argument, identical plan shape (r3)"),
        ("dedup_embedding_cosine",
         "embedding near-dup: LSH bucket self-join, never all-pairs (r3)"),
        ("stream_rollup", "partial+final hash aggregation (map_reduce)"),
        ("stream_hash_join_fetch", "broadcast lookup join (FetchStream)"),
        ("stream_rank", "top-k = TakeOrderedAndProject, no full sort"),
        ("stream_group_topk", "window rank pushdown"),
        ("stream_subfacet",
         "nested facet: two grouped aggs + broadcast semi-join + window"),
        ("dedup_lsh_pairs", "MinHash banding + bucket self-join"),
        ("ann_lsh_topk",
         "ANN at rest: PartitionFilters on the stored LSH bucket"),
        ("text_features", "whole-stage codegen text ops, no Python UDF"),
        ("dfr_term_topk",
         "SimilarityBase family over the same index: another "
         "shard argument, identical plan shape (r4)"),
        ("facet_range_events",
         "range facet: bucket id as arithmetic projection, one hash "
         "agg, range predicate pushed to the scan (r4)"),
        ("ml_features_igain",
         "IGain feature selection: full-field postings decode + doc-"
         "label join + one groupBy(term), entropy in JVM exprs (r4)"),
        ("stream_outer_hash_join",
         "OuterHashJoinStream: broadcast left-outer hash join (r4)"),
        ("collapse_expand",
         "field collapsing: every shard's live matches joined to the "
         "docmap, one window agg, heads kept via broadcast semi-join"),
        ("graph_gather_nodes",
         "gatherNodes hop: frontier join + grouped ancestors (r4)"),
        ("synonym_topk",
         "SynonymQuery: the same shard plan; each shard sums the "
         "synonyms' freqs into one pseudo-term (r4)"),
        ("dismax_topk",
         "DisjunctionMax: the same shard plan as every query — one "
         "Python map over the shard Range, no shuffle"),
        ("rescore_topk",
         "QueryRescorer: one shard pass scores the second query at "
         "each shard's first-pass top-n, then the global top-n and "
         "top-k — no join"),
        ("facet_pivot_counts",
         "facet.pivot: one layered agg per LEVEL, broadcast semi-join "
         "to surviving parents, window rank within tuple (r5)"),
        ("analyzer_chain_topk",
         "configured analyzer chain index: identical shard plan "
         "— stemming/synonyms live in the build kernels (r5)"),
        ("classify_perceptron",
         "perceptron classify: pruned postings decode joined to "
         "broadcast vocabulary weights + one groupBy(doc_id) (r5)"),
    ]
    out = ["# BENCH/PLANS.md — physical plans of headline operators", "",
           "Generated by tools/explain_plans.py (sf=%s).  What to look for:"
           % sf_dir,
           "`PushedFilters`/`ReadSchema` on scans (pushdown + pruning),",
           "`BroadcastHashJoin` on small sides, `TakeOrderedAndProject`",
           "for top-k, `HashAggregate` partial/final pairs, and",
           "`WholeStageCodegen` spans around built-in expressions.", ""]
    for name, why in picks:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out += [f"## {name}", "", f"_{why}_", "", "```",
                buf.getvalue().strip(), "```", ""]
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/PLANS.md", "w") as f:
        f.write("\n".join(out) + "\n")
    print("wrote BENCH/PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01")
