"""Index-backed text classifiers — the lucene/classification module.

- ``knn_classify_df`` — KNearestNeighborClassifier
  (classification/KNearestNeighborClassifier.java:126-232): build a
  MoreLikeThis query from the input text, take the top-k neighbors,
  and score each class by the normalized-boost vote
  score(c) = sum_{doc in c} (score_doc / maxScore) / k
  (classCounts × classBoosts/count / k collapses to that sum);
  assignClass = the max row.
- ``perceptron_train`` / ``perceptron_classify_df`` —
  BooleanPerceptronClassifier
  (classification/BooleanPerceptronClassifier.java:59-221): per-term
  long weights initialized to totalTermFreq, threshold defaulting to
  sumDocFreq(text)/2; training walks the labeled docs in stable doc
  order, assigns class by sum(tf * weight) >= threshold, and on a
  misclassification adds modifier*tf (modifier = correct − assigned ∈
  {−1, +1}) to every doc term's weight; weight READS go through the
  FST snapshot that refreshes only at batch boundaries (the
  reference's batchSize/updateFST discipline, :137-146,170-186).
  assignClass score = 1 − exp(−|threshold − output| / threshold)
  (:219).  All-integer weight arithmetic, so the SQL twin is
  bit-exact.
- ``naive_bayes_classify_df`` — SimpleNaiveBayesClassifier
  (SimpleNaiveBayesClassifier.java:151-276): per class c,
  score(c) = ln(df(c)) - ln(N)                       [log prior]
           + sum_w ln((hits(w,c) + 1) / (avgU*df(c) + N))
  over the analyzed input tokens w (duplicates kept), with
  hits(w,c) = docs containing w AND class c, N = docs carrying the
  class field, avgU = sumDocFreq(text)/docCount(text) (:240-249
  getTextTermFreqForClass).

Spark-first: the class field is a keyword field of THIS index, so
every statistic is index-derived — hits(w,c) comes from one
DistributedSearcher shard pass over the input's distinct tokens (live
docs only, like the reference's IndexSearcher counts), joined to the
docmap class column and grouped by (term, class) (one shuffle bounded
by tokens × classes);
priors and avgU are two scalar aggregates on term_stats.  Scoring is
a class×token grid built with a cross join of two tiny frames (absent
(w,c) pairs still contribute the +1-smoothed ln(1/den), exactly the
reference), entirely JVM-side."""
from __future__ import annotations

import math
import os

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def knn_classify_df(engine, text: str, k: int = 10,
                    class_field: str = "role",
                    **mlt_kwargs) -> DataFrame:
    """DataFrame(class string, score double) sorted score DESC, class
    ASC; `engine` is a DistributedSearcher."""
    from ..query.mlt import more_like_this_df

    top = more_like_this_df(engine, text, k=k, **mlt_kwargs)
    docmap = engine.spark.read.parquet(
        os.path.join(engine.index_dir, "docmap")
    ).select("doc_id", F.col(class_field).cast("string").alias("class"))
    joined = top.join(docmap, "doc_id").select(
        "class", F.col("score").cast("double").alias("score")
    )
    mx = joined.agg(F.max("score").alias("m"))
    return (
        joined.crossJoin(F.broadcast(mx))
        .groupBy("class")
        .agg((F.sum(F.col("score") / F.col("m")) / F.lit(float(k)))
             .alias("score"))
        .orderBy(F.desc("score"), F.asc("class"))
    )


def naive_bayes_classify_df(spark: SparkSession, index_dir: str,
                            text: str, class_field: str = "role"
                            ) -> DataFrame:
    """DataFrame(class string, score double) sorted score DESC, class
    ASC (assignClass = first row)."""
    from ..analysis import analyze_query_terms
    from ..index.builder import read_field_stats
    from ..query.distributed import DistributedSearcher

    tokens = analyze_query_terms(text)
    if not tokens:
        return spark.createDataFrame([], "class string, score double")
    ds = DistributedSearcher(spark, index_dir)
    stats = spark.read.parquet(os.path.join(index_dir, "term_stats"))
    # classes + priors from the keyword field's term stats
    classes = (
        stats.filter(F.col("field") == class_field)
        .select(F.col("term").alias("class"),
                F.col("doc_freq").alias("df_c"))
    )
    fs_c = read_field_stats(index_dir, class_field)
    n_with_class = float(fs_c["doc_count"] or 0)
    # avgU = sumDocFreq(text)/docCount(text)
    fs_t = read_field_stats(index_dir, "text")
    sum_df = (
        stats.filter(F.col("field") == "text")
        .agg(F.sum("doc_freq")).collect()[0][0]
    )
    avg_u = float(sum_df) / float(fs_t["doc_count"] or 1)
    # hits(w, c): each shard's live (token, doc) pairs -> class join
    distinct = sorted(set(tokens))

    def token_docs(searcher):
        return pd.DataFrame(
            [(t, d) for t in distinct
             for d, _ in searcher.search(("term", t), None)],
            columns=["term", "doc_id"],
        )

    hits = (
        ds._on_shards(token_docs, "term string, doc_id long")
        .join(
            spark.read.parquet(os.path.join(index_dir, "docmap"))
            .select("doc_id",
                    F.col(class_field).cast("string").alias("class")),
            "doc_id",
        )
        .groupBy("term", "class")
        .agg(F.count("*").alias("hits"))
    )
    # token multiset (duplicates kept, :215 "for each word")
    mult: dict[str, int] = {}
    for t in tokens:
        mult[t] = mult.get(t, 0) + 1
    tok_df = spark.createDataFrame(
        [(t, m) for t, m in sorted(mult.items())], "term string, mult int"
    )
    grid = classes.crossJoin(F.broadcast(tok_df)).join(
        hits, ["term", "class"], "left"
    ).withColumn("hits", F.coalesce(F.col("hits"), F.lit(0)))
    den = F.col("df_c").cast("double") * F.lit(avg_u) + F.lit(n_with_class)
    word_ll = F.col("mult").cast("double") * F.log(
        (F.col("hits").cast("double") + F.lit(1.0)) / den
    )
    return (
        grid.groupBy("class", "df_c")
        .agg(F.sum(word_ll).alias("ll"))
        .select(
            "class",
            (F.log(F.col("df_c").cast("double"))
             - F.lit(math.log(n_with_class))
             + F.col("ll")).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("class"))
    )


def perceptron_train(spark: SparkSession, index_dir: str,
                     class_field: str = "role",
                     positive_value: str = "assistant",
                     batch_size: int = 1,
                     threshold: float | None = None,
                     field: str = "text"):
    """Train the boolean perceptron
    (BooleanPerceptronClassifier.java:110-186) and return
    (weights DataFrame(term string, weight long), threshold float).

    The reference's correct class is Boolean.valueOf(classField); this
    schema's boolean outcome is (class_field == positive_value) — the
    one documented adaptation.  Doc order is doc_id ASC (the
    constant-score WildcardQuery(classField:*) hit order).  The weight
    fold is sequential by construction (each update depends on every
    prior doc), so — like the reference, which trains inside one JVM
    heap — it folds over the LABELED docs' term vectors (a collect
    bounded by the training set, the thing one bounds at 100 TB by
    passing a label sample); initial weights and term vectors come
    from pruned distributed scans, and classification (the expensive
    side at corpus scale) is fully distributed in
    perceptron_classify_df."""
    from .ml import _decoded_docs_df

    stats = spark.read.parquet(os.path.join(index_dir, "term_stats"))
    init_rows = (
        stats.filter(F.col("field") == field)
        .select("term", "total_term_freq", "doc_freq").collect()
    )
    weights = {r["term"]: int(r["total_term_freq"]) for r in init_rows}
    if threshold is None or threshold == 0.0:
        # sumDocFreq/2 auto-threshold (:92-101)
        threshold = float(sum(int(r["doc_freq"]) for r in init_rows)) / 2.0
    labels = {
        int(r["doc_id"]): (r[class_field] == positive_value)
        for r in spark.read.parquet(os.path.join(index_dir, "docmap"))
        .select("doc_id", class_field).collect()
    }
    # (doc_id -> [(term, tf)]) from one full-field postings decode
    rows = (
        _decoded_docs_df(spark, index_dir, field)
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("term", "tf")).alias("tv"))
        .collect()
    )
    tv = {int(r["doc_id"]): [(x["term"], int(x["tf"])) for x in r["tv"]]
          for r in rows}
    snapshot = dict(weights)
    batch_count = 0
    for doc_id in sorted(labels):
        terms = tv.get(doc_id, [])
        output = sum(tf * snapshot.get(t, 0) for t, tf in terms)
        assigned = output >= threshold
        correct = labels[doc_id]
        modifier = int(correct) - int(assigned)
        if modifier != 0:
            for t, tf in terms:
                prev = snapshot.get(t)
                weights[t] = 0 if prev is None else prev + modifier * tf
            if batch_count % batch_size == 0:
                snapshot = dict(weights)
        batch_count += 1
    wdf = spark.createDataFrame(
        sorted(weights.items()), "term string, weight long"
    )
    return wdf, float(threshold)


def perceptron_classify_df(spark: SparkSession, index_dir: str,
                           weights_df: DataFrame, threshold: float,
                           field: str = "text") -> DataFrame:
    """Classify EVERY indexed doc with the trained weights:
    DataFrame(doc_id, assigned boolean, score double) where assigned =
    sum(tf * weight) >= threshold and score = 1 − exp(−|threshold −
    output|/threshold) (assignClass, :198-221).  One pruned postings
    decode joined to the broadcast vocabulary-sized weights, one
    groupBy(doc_id) — fully distributed, no sequential state."""
    from .ml import _decoded_docs_df

    docs = spark.read.parquet(os.path.join(index_dir, "docmap")).select(
        "doc_id"
    )
    out = (
        _decoded_docs_df(spark, index_dir, field)
        .join(F.broadcast(weights_df), "term")
        .groupBy("doc_id")
        .agg(F.sum(F.col("tf").cast("long") * F.col("weight"))
             .alias("output"))
    )
    th = F.lit(float(threshold))
    return (
        docs.join(out, "doc_id", "left")
        .withColumn("output", F.coalesce("output", F.lit(0)))
        .select(
            "doc_id",
            (F.col("output").cast("double") >= th).alias("assigned"),
            (F.lit(1.0)
             - F.exp(-F.abs(th - F.col("output").cast("double")) / th))
            .alias("score"),
        )
    )
