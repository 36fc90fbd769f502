"""The LocalSearcher top-k collector (`LocalSearcher._collect`): warm
and cold lists × every tree shape it serves × deleted docs and
searchAfter cursors give the same pages as the exhaustive evaluator
(`pruning=False`) and the numpy oracle, float32 bits included."""

import numpy as np
import pytest

from lucene_solr_spark.query.parser import parse_query

pytestmark = pytest.mark.spark

#: one query per shape the collector takes; cold lists serve only the
#: single term and the flat OR of distinct terms, other cold trees go to
#: the exhaustive evaluator
SHAPES = {
    "term": "hot",
    "or": "hot OR mid OR low",
    "and": "hot AND mid",
    "msm": "(hot mid low)@2",
    "nested": "(hot AND mid) OR low OR rare",
}


def _text(i: int) -> str:
    """Score spread: a few high-tf short docs up front, doc length
    growing with docID, and terms of falling df; lists are long enough
    (20k docs) that a page of 300 needs more than one collector round."""
    words = ["hot"] * (5 if i < 12 else 1)
    if i % 3 == 0:
        words += ["mid"] * (3 if i % 7 == 0 else 1)
    if i % 11 == 0:
        words.append("low")
    if i % 97 == 0:
        words.append("rare")
    return " ".join(words + [f"w{i % 500}"] * (4 + i // 1000))


@pytest.fixture(scope="module")
def coll_setup(spark, tmp_path_factory):
    from lucene_solr_spark.index.builder import BuildConfig, build_index
    from lucene_solr_spark.index.deletes import delete_docs
    from lucene_solr_spark.oracle import LuceneOracle

    n = 20000
    rows = [(f"c{i:05d}", 0, _text(i)) for i in range(n)]
    d = str(tmp_path_factory.mktemp("collector") / "idx")
    build_index(spark, spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string"
    ), d, BuildConfig(n_buckets=2))
    oracle = LuceneOracle().build([(i, r[2]) for i, r in enumerate(rows)])
    # tombstone part of every query's head, and a spread of the rest
    victims = [0, 3, 7, 21, 42] + list(range(5, n, 13))
    delete_docs(d, victims)
    oracle.delete(victims)
    return d, oracle


@pytest.mark.parametrize("k", [10, 300])
@pytest.mark.parametrize("page", ["deletes", "after"])
@pytest.mark.parametrize("warmth", ["warm", "cold"])
@pytest.mark.parametrize("shape", list(SHAPES))
def test_collector_matrix(coll_setup, monkeypatch, shape, warmth, page,
                          k):
    from lucene_solr_spark.query.engine import LocalSearcher

    d, oracle = coll_setup
    q = SHAPES[shape]
    answered = []
    collect = LocalSearcher._collect

    def spy(self, node, k, after=None):
        got = collect(self, node, k, after)
        answered.append(got is not None)
        return got

    monkeypatch.setattr(LocalSearcher, "_collect", spy)
    full = oracle.search(parse_query(q), 10**9)
    exhaustive = LocalSearcher(d, pruning=False)
    assert exhaustive.search(q, k=None) == full
    s = LocalSearcher(d)
    if warmth == "warm":
        s.search(q, k=None)  # decodes every list
    if page == "after":
        cursor, want = full[k - 1], full[k:2 * k]
        got = s.search_after(q, cursor, k)
        assert exhaustive.search_after(q, cursor, k) == want
    else:
        want = full[:k]
        got = s.search(q, k)
        assert exhaustive.search(q, k) == want
    assert len(want) == k
    assert [(x, np.float32(y)) for x, y in got] == [
        (x, np.float32(y)) for x, y in want
    ]
    # the collector itself answered every page it is meant to serve
    assert answered[-1] == (warmth == "warm" or shape in ("term", "or"))


def test_negative_k_rejected(spark, index_dir):
    """k < 0 is an error in every top-k entry point, before any
    Spark job; k=0 is an empty page."""
    from lucene_solr_spark.query.distributed import DistributedSearcher
    from lucene_solr_spark.query.engine import LocalSearcher

    s = LocalSearcher(index_dir)
    for fn in (lambda: s.search("retry", k=-1),
               lambda: s.search_after("retry", (0, 1.0), k=-1)):
        with pytest.raises(ValueError):
            fn()
    assert s.search("retry", k=0) == []
    ds = DistributedSearcher(spark, index_dir)
    sc = spark.sparkContext
    sc.setJobGroup("negative-k", "negative k")
    try:
        with pytest.raises(ValueError):
            ds.search_df("retry", k=-1)
        with pytest.raises(ValueError):
            ds.search("retry", k=-1)
        assert list(sc.statusTracker().getJobIdsForGroup("negative-k")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
