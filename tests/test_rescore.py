"""Second-pass rescoring (query/distributed.py rescore_df — the
QueryRescorer.java:51-140 discipline): combine semantics vs an
independent numpy replay from the oracle, tie-break preservation, and
the expression (LTR-seam) modes."""

import re

import numpy as np
import pytest

from lucene_solr_spark.query.parser import parse_query

pytestmark = pytest.mark.spark

FIRST = "retry OR deploy OR cache"


@pytest.fixture(scope="module")
def ds(spark, index_dir):
    from lucene_solr_spark.query.distributed import DistributedSearcher

    return DistributedSearcher(spark, index_dir)


def _replay(oracle, first_q, second_q, weight, n, k):
    """QueryRescorer replay: oracle top-n, + weight*second where the
    second query matches, re-sorted (score desc, docID asc)."""
    first = oracle.search(parse_query(first_q), n)
    second = dict(zip(*[list(x) for x in (lambda d, s: (d, s))(
        *oracle._eval(parse_query(second_q)))]))
    combined = [
        (d, np.float32(np.float64(s)
                       + weight * np.float64(second.get(d, 0.0))))
        for d, s in first
    ]
    combined.sort(key=lambda x: (-x[1], x[0]))
    return combined[:k]


def test_rescore_matches_oracle_replay(ds, oracle):
    got = [(r["doc_id"], np.float32(r["score"]))
           for r in ds.rescore_df(FIRST, "batch", weight=2.0, n=25,
                                  k=10).collect()]
    want = [(d, np.float32(s))
            for d, s in _replay(oracle, FIRST, "batch", 2.0, 25, 10)]
    assert got == want and len(got) > 0


def test_rescore_query_is_one_shard_pass(spark, ds):
    """The query rescorer is the shard pass plus the driver's top-n and
    top-k: one Python map over the shard Range, no join (the second
    query is scored inside the shards at their top-n docs), and one
    Spark job."""
    df = ds.rescore_df(FIRST, "batch", weight=2.0, n=25, k=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"MapInPandas", plan)) == 1, plan
    assert not re.search(r"\w*Join\b", plan), plan
    sc = spark.sparkContext
    sc.setJobGroup("rescore-plan", "rescore-plan")
    try:
        assert df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("rescore-plan")) == 1


def test_rescore_nonmatching_second_keeps_first_pass(ds):
    """combine(first, secondPassMatches=false, _) = firstPassScore —
    an absent second query leaves the first-pass ranking intact."""
    base = [(r["doc_id"], np.float32(r["score"]))
            for r in ds.search_df(FIRST, 10).collect()]
    got = [(r["doc_id"], np.float32(r["score"]))
           for r in ds.rescore_df(FIRST, "zzzabsentterm", weight=9.0,
                                  n=10, k=10).collect()]
    assert got == base


def test_rescore_expr_modes(ds):
    """LTR-seam expression rescoring over stored fields: replace /
    add / multiply modes all rank by the combined score."""
    n = 20
    first = {r["doc_id"]: r["score"]
             for r in ds.search_df(FIRST, n).collect()}
    dl = {r["doc_id"]: r["dl"] for r in ds.spark.read.parquet(
        ds.index_dir + "/docmap").select("doc_id", "dl").collect()}
    for mode, f in [
        ("add", lambda s, d: s + 0.5 * (1.0 / (1.0 + d))),
        ("multiply", lambda s, d: s * (1.0 / (1.0 + d))),
        ("replace", lambda s, d: 0.5 * (1.0 / (1.0 + d))),
    ]:
        got = [(r["doc_id"], np.float32(r["score"]))
               for r in ds.rescore_df(
                   FIRST, rescore_expr="1.0 / (1.0 + dl)", weight=0.5,
                   n=n, k=10, mode=mode).collect()]
        want = sorted(
            ((d, np.float32(f(np.float64(s), np.float64(dl[d]))))
             for d, s in first.items()),
            key=lambda x: (-x[1], x[0]),
        )[:10]
        assert got == want, mode
