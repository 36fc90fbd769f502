"""Distributed query executor: doc-partitioned shards of LocalSearcher
plus a top-k merge.

This is the cluster path of Solr's distributed search (the GET_TOP_IDS
phase, SURVEY.md §3.2 step 5).  Every query runs as ONE Spark job:

- the coordinating process parses and rewrites the query once
  (engine.rewrite, a pushed-down pyarrow scan of the term dictionary,
  no Spark job) and ships the tree to the shards;
- ``spark.range(S)`` feeds ONE ``mapInPandas``, S =
  ``defaultParallelism``: task i opens a `LocalSearcher` on the doc
  range [i * step, (i + 1) * step) of [0, max_doc] (the last range is
  open-ended), reads the index directory itself with pyarrow, and runs
  the whole tree through ``search`` — the same evaluator, collector and
  tombstone mask as serving, with global term and field stats, so an
  in-range doc scores exactly as on an unsharded searcher;
- each shard returns its top-k, and the coordinator merges the S lists
  with ``orderBy(score desc, doc_id asc).limit(k)`` (TopDocs.merge,
  search/TopDocs.java:90-114): no shuffle and no join.

A query sees the index as committed when its shards run, like a
reopened LocalSearcher: appends, deletes and compactions published
before then are visible, and tombstoned docs never leave a shard.

Scores are float32 and rank-identical to LocalSearcher and the numpy
oracle (dtype="float32", the serving default).  dtype="float64" is the
GATE mode: the shards score in double precision from the exact doc
length (docmap `dl`, not the quantized norm byte) in the operation
order of an ANSI-SQL twin (DuckDB), which the gate queries compare after
ROUND(score, 4).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow.dataset as pads
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .engine import rewrite
from .parser import parse_query


class DistributedSearcher:
    """`similarity`, `mu` and `lmjm_lambda` mirror LocalSearcher, and so
    does `dtype`: "float32" serving mode, rank-identical to
    LocalSearcher, or "float64" gate mode (the shards' LocalSearchers
    score all-double over the exact docmap doc length)."""

    def __init__(self, spark: SparkSession, index_dir: str,
                 dtype: str = "float32", similarity: str = "bm25",
                 mu: float = 2000.0, lmjm_lambda: float = 0.1):
        if dtype not in ("float32", "float64"):
            raise ValueError(
                f"dtype must be float32 or float64, got {dtype!r}")
        self.spark = spark
        self.index_dir = index_dir
        self.dtype = dtype
        self.similarity = similarity
        #: Spark SQL type of the score column
        self._st = "float" if dtype == "float32" else "double"
        #: what every shard's LocalSearcher is opened with
        self._shard_kw = dict(similarity=similarity, mu=mu,
                              lmjm_lambda=lmjm_lambda, dtype=dtype)
        with open(os.path.join(index_dir, "_manifest.json")) as f:
            self.params = json.load(f)["params"]
        from ..analysis.analyzer import AnalyzerOptions

        #: the index's recorded analyzer chain (query atoms analyze
        #: through the same chain as indexing)
        self.analyzer_opts = AnalyzerOptions.from_manifest(
            self.params.get("analyzer")
        )
        from ..index.builder import read_field_stats

        self.doc_count = int(read_field_stats(index_dir)["doc_count"] or 0)
        self._terms_ds = pads.dataset(
            os.path.join(index_dir, "term_stats"), format="parquet"
        )

    @property
    def _docmap(self) -> DataFrame:
        """The docmap (stored fields) as committed now, like the shards'
        view of the index."""
        return self.spark.read.parquet(os.path.join(self.index_dir, "docmap"))

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

    # ----------------------------------------------------------- shards
    def _on_shards(self, run, schema: str) -> DataFrame:
        """ONE mapInPandas over S = defaultParallelism even doc ranges of
        [0, max_doc]: task i opens a LocalSearcher on its range and
        yields ``run(searcher)``, a pandas frame of `schema`.  The last
        range is open-ended, so every doc of the index a shard opens has
        exactly one shard."""
        from ..index.builder import read_field_stats

        n = self.spark.sparkContext.defaultParallelism
        ranges = shard_ranges(
            int(read_field_stats(self.index_dir)["max_doc"] or 0), n)
        index_dir, kw = self.index_dir, self._shard_kw

        def shards(batches):
            from .engine import LocalSearcher

            for pdf in batches:
                for i in pdf["id"].tolist():
                    yield run(LocalSearcher(index_dir, doc_range=ranges[i],
                                            **kw))

        return self.spark.range(n, numPartitions=n).mapInPandas(
            shards, schema)

    def rewrite(self, node):
        """The shared rewrite (engine.rewrite): multi-term nodes expand
        with a pushed-down pyarrow scan of the term dictionary in this
        process, with no Spark job."""
        return rewrite(node, self._terms_ds)

    def _node(self, query):
        """A query string or tree parsed and rewritten here, once; None
        when it matches nothing."""
        node = self.rewrite(parse_query(query, opts=self.analyzer_opts)
                            if isinstance(query, str) else query)
        return None if node is None or node[0] == "matchnone" else node

    def _hits(self, query, k: int | None = None, after=None) -> DataFrame:
        """DF(doc_id, score) of each shard's top-k live hits past the
        `after` cursor (k=None: all of its live matches)."""
        node = self._node(query)
        schema = f"doc_id long, score {self._st}"
        if node is None:
            return self.spark.createDataFrame([], schema)
        dt = np.dtype(self.dtype)

        def top(searcher) -> pd.DataFrame:
            hits = searcher.search(node, k, after=after)
            return pd.DataFrame({
                "doc_id": np.array([d for d, _ in hits], dtype=np.int64),
                "score": np.array([s for _, s in hits], dtype=dt),
            })

        return self._on_shards(top, schema)

    # ------------------------------------------------------------- api
    def search_df(self, query, k: int = 10, after=None) -> DataFrame:
        """Top-k as a DataFrame(doc_id long, score float) — composable
        with join-back to the source table (stored-fields fetch).
        `after` = (doc_id, score) keyset cursor: only docs strictly
        after it in (score desc, docID asc) order are returned (the
        distributed searchAfter — every shard honors the cursor before
        the merge).  A negative k raises ValueError before any Spark
        work."""
        if k < 0:
            raise ValueError(f"k must be >= 0, got {k}")
        return (self._hits(query, k, after)
                .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))

    def search(self, query, k: int = 10) -> list[tuple[int, float]]:
        return [
            (int(r["doc_id"]), float(r["score"]))
            for r in self.search_df(query, k).collect()
        ]

    def matching_docs_df(self, query) -> DataFrame:
        """ALL matching live docIDs, no ranking — the needsScores=false /
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
        from ..index.deletes import read_deleted

        st = self._st
        organic = self._hits(query)
        # elevation never resurrects tombstoned docs: the reference's
        # QueryElevationComponent only pins LIVE docs (the elevated id
        # set is intersected with liveDocs at collection); the deletes
        # scan is restricted to the configured ids
        ids = [int(d) for d in elevated_ids]
        dead = set(read_deleted(self.index_dir, among=ids).tolist())
        elev = self.spark.createDataFrame(
            [(d, i) for i, d in enumerate(ids) if d not in dead],
            "doc_id long, _pos int",
        )
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
        A second query runs in the same shard pass as the first, with no
        join: each shard combines its own top-n with the second query's
        scores at those docs, and the driver keeps the global top-n by
        (first-pass score desc, docID asc) — a subset of the union of
        the shards' top-n lists — then ranks by the combined score."""
        st = self._st
        if rescore_expr is None:
            return (self._rescored(query, rescore_query, weight, n)
                    .orderBy(F.desc("s1"), F.asc("doc_id")).limit(n)
                    .select("doc_id", "score")
                    .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))
        first = self.search_df(query, n).select(
            "doc_id", F.col("score").cast("double").alias("s1")
        )
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
        return (
            joined.select("doc_id", comb.cast(st).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def _rescored(self, query, rescore_query, weight: float, n: int
                  ) -> DataFrame:
        """DF(doc_id, s1, score) of each shard's first-pass top-n: `s1`
        the first query's score, `score` = s1 + weight * the second
        query's score where it matches the doc (QueryRescorer.combine,
        double sum, one cast)."""
        first, second = self._node(query), self._node(rescore_query)
        schema = f"doc_id long, s1 {self._st}, score {self._st}"
        if first is None:
            return self.spark.createDataFrame([], schema)
        dt, w = np.dtype(self.dtype), np.float64(weight)

        def top(searcher) -> pd.DataFrame:
            hits = searcher.search(first, n)
            s2 = (dict(searcher.search(second, None))
                  if hits and second is not None else {})
            return pd.DataFrame({
                "doc_id": np.array([d for d, _ in hits], dtype=np.int64),
                "s1": np.array([s for _, s in hits], dtype=dt),
                "score": np.array([np.float64(s) + w * s2.get(d, 0.0)
                                   for d, s in hits], dtype=np.float64
                                  ).astype(dt),
            })

        return self._on_shards(top, schema)

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


def shard_ranges(max_doc: int, n: int) -> list[tuple[int, int | None]]:
    """`n` even doc ranges [lo, hi) over [0, max_doc]; the last one is
    open-ended (hi None)."""
    step = max_doc // n + 1
    return [(i * step, None if i == n - 1 else (i + 1) * step)
            for i in range(n)]
