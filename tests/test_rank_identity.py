"""Cross-implementation rank identity (TestBoolean2-style, TestBoolean2.
java:257,402): engine top-k docIDs and float32 scores must equal the
numpy oracle on the full reference query set — for both the local
executor (pruning on AND off) and the distributed DataFrame executor."""

import numpy as np
import pytest

from lucene_solr_spark.query.parser import parse_query

pytestmark = pytest.mark.spark

K = 10


def _assert_identical(name, got, want):
    assert len(got) == len(want), f"{name}: hit count {len(got)} != {len(want)}"
    for i, ((gd, gs), (wd, ws)) in enumerate(zip(got, want)):
        assert gd == wd, f"{name}[{i}]: doc {gd} != {wd}"
        assert np.float32(gs) == np.float32(ws), f"{name}[{i}]: score {gs} != {ws}"


@pytest.fixture(scope="module")
def local_searcher(index_dir):
    from lucene_solr_spark.query.engine import LocalSearcher

    return LocalSearcher(index_dir, pruning=True)


@pytest.fixture(scope="module")
def local_searcher_nopruning(index_dir):
    from lucene_solr_spark.query.engine import LocalSearcher

    return LocalSearcher(index_dir, pruning=False)


def test_local_rank_identity_full_query_set(local_searcher, oracle, query_set):
    for name, qtext in query_set:
        node = parse_query(qtext)
        want = oracle.search(node, K) if node is not None else []
        got = local_searcher.search(qtext, K)
        _assert_identical(name, got, want)


def test_local_pruning_equals_exhaustive(local_searcher, local_searcher_nopruning,
                                         query_set):
    for name, qtext in query_set:
        a = local_searcher.search(qtext, K)
        b = local_searcher_nopruning.search(qtext, K)
        _assert_identical(f"pruning:{name}", a, b)


def test_pruning_off_never_collects(index_dir, query_set, monkeypatch):
    """pruning=False is the exhaustive evaluator and nothing else, so
    the pruning-on/off comparisons above never compare the collector
    with itself; pruning=True does take the collector."""
    from lucene_solr_spark.query.engine import LocalSearcher

    collect = LocalSearcher._collect
    entered = []

    def guarded(self, node, k, after=None):
        assert self.pruning, "pruning=False entered the top-k collector"
        entered.append(node[0])
        return collect(self, node, k, after)

    monkeypatch.setattr(LocalSearcher, "_collect", guarded)
    off, on = (LocalSearcher(index_dir, pruning=p) for p in (False, True))
    for _, qtext in query_set:
        page = off.search(qtext, K)
        if page:
            off.search_after(qtext, page[-1], K)
        on.search(qtext, K)
    assert entered


def test_distributed_rank_identity_sample(spark, index_dir, oracle, query_set):
    from lucene_solr_spark.query.distributed import DistributedSearcher

    ds = DistributedSearcher(spark, index_dir)
    # distributed path is slower per query — cover every query class
    sample = [q for q in query_set if q[0].endswith(("_0", "_1"))]
    for name, qtext in sample:
        node = parse_query(qtext)
        want = oracle.search(node, K) if node is not None else []
        got = ds.search(qtext, K)
        _assert_identical(f"dist:{name}", got, want)


def test_distributed_span_rank_identity(spark, index_dir, local_searcher):
    """Span queries execute through the DistributedSearcher DataFrame
    plan (VERDICT r2 item 1) rank-identically to the local serving path
    — every span shape, including the new contain/within/range ones."""
    from lucene_solr_spark.query.distributed import DistributedSearcher

    ds = DistributedSearcher(spark, index_dir)
    near_rd = ("span_near", [("sterm", "retry"), ("sterm", "deploy")], 3,
               True)
    nodes = [
        near_rd,
        ("span_near", [("sterm", "deploy"), ("sterm", "retry")], 2, False),
        ("span_near", [("sor", ["retry", "cache"]), ("sterm", "deploy")],
         2, True),
        ("span_first", near_rd, 8),
        ("span_not", near_rd, ("sterm", "pipeline"), 1, 2),
        ("span_near", [near_rd, ("sterm", "pipeline")], 5, True),
        ("span_containing", near_rd, ("sterm", "retry")),
        # SpanMultiTermQueryWrapper through the distributed rewrite
        ("span_near", [("span_multi", ("prefix", "re")),
                       ("sterm", "deploy")], 3, True),
        ("span_within",
         ("span_near", [("sterm", "cache"), ("sterm", "miss")], 8, False),
         ("sterm", "cache")),
        ("span_range", near_rd, 1, 12),
    ]
    n_nonempty = 0
    for node in nodes:
        want = local_searcher.search(node, K)
        got = ds.search(node, K)
        n_nonempty += bool(want)
        _assert_identical(f"dist-span:{node[0]}", got, want)
    assert n_nonempty >= 6


def test_classic_similarity_distributed_matches_local(spark, index_dir):
    """ClassicSimilarity float32 serving mode: DistributedSearcher ==
    LocalSearcher across term/boolean/phrase/span shapes."""
    import numpy as np

    from lucene_solr_spark.query.distributed import DistributedSearcher
    from lucene_solr_spark.query.engine import LocalSearcher

    ls = LocalSearcher(index_dir, similarity="classic")
    ds = DistributedSearcher(spark, index_dir, similarity="classic")
    near = ("span_near", [("sterm", "retry"), ("sterm", "deploy")], 3,
            True)
    n_nonempty = 0
    for q in ["retry", "retry AND deploy", "retry OR cache",
              '"retry deploy"~2', near]:
        a = [(d, np.float32(s)) for d, s in ls.search(q, 10)]
        b = [(d, np.float32(s)) for d, s in ds.search(q, 10)]
        n_nonempty += bool(a)
        assert a == b, q
    assert n_nonempty >= 3


def test_classic_similarity_rank_identity(index_dir, oracle):
    """ClassicSimilarity (TF-IDF) as a query-time Similarity over the
    same index: engine scores equal an independent float32 twin built
    straight from the oracle's postings — score = float32(sqrt(tf) *
    idf) * byte315ToFloat(norm), idf = ln((docCount+1)/(docFreq+1))+1
    (ClassicSimilarity.java:50-79, TFIDFSimilarity.java:98-110); boolean
    nodes sum in double exactly like BM25."""
    import numpy as np

    from lucene_solr_spark.oracle.smallfloat import byte315_to_float
    from lucene_solr_spark.query.engine import LocalSearcher

    s = LocalSearcher(index_dir, similarity="classic")
    s_np = LocalSearcher(index_dir, pruning=False, similarity="classic")
    cnorm = byte315_to_float(np.arange(256, dtype=np.uint8))

    def classic_term(term):
        docs, tfs = oracle.postings.get(term, (np.empty(0, np.int64),
                                               np.empty(0, np.int64)))
        if docs.size == 0:
            return docs, np.empty(0, np.float32)
        idf = np.float32(
            np.log((oracle.doc_count + 1) / float(docs.size + 1)) + 1.0
        )
        raw = (np.sqrt(tfs.astype(np.float32), dtype=np.float32)
               * idf).astype(np.float32)
        return docs, (raw * cnorm[oracle.norm_bytes[docs]]).astype(
            np.float32
        )

    def topk(docs, scores, k=10):
        order = np.lexsort((docs, -scores.astype(np.float64)))[:k]
        return [(int(docs[i]), np.float32(scores[i])) for i in order]

    # single terms: engine (pruned and exhaustive) == twin
    for t in ("retry", "deploy", "cache", "pipeline"):
        want = topk(*classic_term(t))
        assert [(d, np.float32(x)) for d, x in s.search(t, 10)] == want, t
        assert [(d, np.float32(x)) for d, x in s_np.search(t, 10)] == want, t
    # boolean AND: double-sum over term twins on the intersection
    da, sa = classic_term("retry")
    db, sb = classic_term("deploy")
    inter = np.intersect1d(da, db, assume_unique=True)
    ia = np.searchsorted(da, inter)
    ib = np.searchsorted(db, inter)
    summed = (sa[ia].astype(np.float64) + sb[ib].astype(np.float64)).astype(
        np.float32
    )
    assert [(d, np.float32(x)) for d, x in s.search("retry AND deploy", 10)
            ] == topk(inter, summed)


def test_various_k(local_searcher, oracle, query_set):
    node = parse_query(query_set[0][1])
    for k in (1, 3, 25, 100, 10_000):
        _assert_identical(
            f"k={k}", local_searcher.search(query_set[0][1], k),
            oracle.search(node, k),
        )


def test_lmd_similarity_rank_identity(index_dir, oracle):
    """LMDirichletSimilarity as a third query-time Similarity over the
    same index: engine scores equal an independent float32 twin built
    straight from the oracle's postings — per term
    score = max(0, float32(ln(1 + tf/(mu*pc)) + ln(mu/(docLen+mu))))
    with pc = float32((ttf+1)/(sumTtf+1)) and docLen decoded from the
    SimilarityBase norm byte (1/(f*f), entry 0 patched)
    (LMDirichletSimilarity.java:66-71, SimilarityBase.java:220-227,
    LMSimilarity.DefaultCollectionModel); boolean nodes sum the clipped
    per-term float32 scores in double exactly like BM25."""
    import numpy as np

    from lucene_solr_spark.oracle.smallfloat import byte315_to_float
    from lucene_solr_spark.query.engine import LocalSearcher

    s = LocalSearcher(index_dir, similarity="lmd")
    mu = 2000.0
    f = byte315_to_float(np.arange(256, dtype=np.uint8))
    with np.errstate(divide="ignore"):
        tbl = (np.float32(1.0) / (f * f)).astype(np.float32)
    tbl[0] = np.float32(1.0) / tbl[255]
    sum_ttf = sum(int(p[1].sum()) for p in oracle.postings.values())

    def lmd_term(term):
        docs, tfs = oracle.postings[term]
        pc = np.float32(
            np.float32(int(tfs.sum()) + 1.0) / np.float32(sum_ttf + 1.0)
        )
        dl = tbl[oracle.norm_bytes[docs]].astype(np.float64)
        sc = (
            np.log1p(tfs.astype(np.float64) / (mu * float(pc)))
            + np.log(mu / (dl + mu))
        ).astype(np.float32)
        return docs, np.maximum(sc, np.float32(0.0))

    def topk(docs, scores, k=10):
        order = np.lexsort((docs, -scores.astype(np.float64)))[:k]
        return [(int(docs[i]), np.float32(scores[i])) for i in order]

    for t in ("retry", "deploy", "cache", "pipeline"):
        want = topk(*lmd_term(t))
        assert [(d, np.float32(x)) for d, x in s.search(t, 10)] == want, t
    # boolean AND: double-sum of the clipped float32 term scores
    da, sa = lmd_term("retry")
    db, sb = lmd_term("deploy")
    inter = np.intersect1d(da, db, assume_unique=True)
    ia = np.searchsorted(da, inter)
    ib = np.searchsorted(db, inter)
    summed = (sa[ia].astype(np.float64) + sb[ib].astype(np.float64)).astype(
        np.float32
    )
    assert [(d, np.float32(x)) for d, x in s.search("retry AND deploy", 10)
            ] == topk(inter, summed)


def test_lmd_similarity_distributed_matches_local(spark, index_dir):
    """LMD float32 serving mode: DistributedSearcher == LocalSearcher
    across term/boolean/phrase/span shapes (the pc/docLen float
    discipline must survive the executor kernels)."""
    import numpy as np

    from lucene_solr_spark.query.distributed import DistributedSearcher
    from lucene_solr_spark.query.engine import LocalSearcher

    ls = LocalSearcher(index_dir, similarity="lmd")
    ds = DistributedSearcher(spark, index_dir, similarity="lmd")
    near = ("span_near", [("sterm", "retry"), ("sterm", "deploy")], 3,
            True)
    n_nonempty = 0
    for q in ["retry", "retry AND deploy", "retry OR cache",
              '"retry deploy"~2', near]:
        a = [(d, np.float32(s)) for d, s in ls.search(q, 10)]
        b = [(d, np.float32(s)) for d, s in ds.search(q, 10)]
        n_nonempty += bool(a)
        assert a == b, q
    assert n_nonempty >= 3


def test_dense_budget_knob(index_dir, oracle, query_set):
    """The warm-path memory budget is a real bound, not a comment: a
    budget too small for the corpus (0 MB) puts _DENSE_MAX_DOC below it,
    so every multi-leaf tree falls to the exhaustive evaluator — the OR
    and msm_or sums included — with results unchanged, and the term
    cache, dense tables included, evicts LRU beyond its half-budget
    share."""
    from lucene_solr_spark.query.engine import LocalSearcher

    # budget/16 bytes per doc
    assert LocalSearcher(index_dir, dense_budget_mb=1)._DENSE_MAX_DOC == (
        1 << 20) // 16
    big = LocalSearcher(index_dir)
    assert big._DENSE_MAX_DOC == (128 << 20) // 16
    tiny = LocalSearcher(index_dir, dense_budget_mb=0)
    assert tiny._DENSE_MAX_DOC < tiny.max_doc + 1
    sums = []
    sum_parts = tiny._sum_parts

    def spy(parts, min_match=None):
        sums.append(min_match)
        return sum_parts(parts, min_match)

    tiny._sum_parts = spy
    for name, qtext in query_set:
        node = parse_query(qtext)
        want = oracle.search(node, K) if node is not None else []
        _assert_identical(f"tinybudget:{name}", tiny.search(qtext, K), want)
    # an msm_or tree node, every match ranked
    terms = sorted(oracle.postings, key=lambda t: -oracle.postings[t][0].size)
    msm = ("msm_or", 2, [("term", t) for t in terms[:2] + terms[8:10]])
    want = oracle.search(msm, tiny.max_doc + 1)
    assert want
    _assert_identical("tinybudget:msm_or", tiny.search(msm, None), want)
    # the sums ran, for ORs and for the msm_or
    assert None in sums and 2 in sums
    # LRU eviction: a share of about one dense table, and several hot
    # terms' tables built — the cache must never exceed that share
    s = LocalSearcher(index_dir)
    n = s.max_doc + 1
    s.dense_budget_bytes = 2 * 5 * n
    hot = sorted(
        ((t, len(p[0])) for t, p in oracle.postings.items()),
        key=lambda x: -x[1],
    )[:4]
    for t, df in hot:
        if df * s._DENSE_CACHE_FRAC >= n:
            s._load_terms([("text", t)])
            s._term_dense(t)
            s._end_query([("text", t)])
            assert s._cache_bytes <= s.dense_budget_bytes // 2
            assert sum(tp.dense is not None for tp in s._terms.values()) <= 1
    # within one query too: with room for one table beside the hot
    # entries, one table joins its entry and the others are dropped
    keys = [("text", t) for t, df in hot if df * s._DENSE_CACHE_FRAC >= n]
    assert len(keys) >= 2
    s = LocalSearcher(index_dir)
    s._load_terms(keys)
    for _, t in keys:
        s._term_full(t, ranked=True)
    s._end_query(keys)
    s.dense_budget_bytes = 2 * (s._cache_bytes + 5 * n + 5 * n // 2)
    for _, t in keys:
        mask, tbl = s._term_dense(t)
        docs, scores = s._term_full(t)
        assert np.array_equal(np.flatnonzero(mask), docs)
        assert np.array_equal(tbl[docs], scores)
    held = sum(_entry_bytes(tp) for tp in s._terms.values())
    assert held <= s.dense_budget_bytes // 2
    assert sum(tp.dense is not None for tp in s._terms.values()) == 1
    s._end_query(keys)
    assert s._cache_bytes == held


def test_exhaustive_evaluator_builds_no_dense_structure(index_dir, query_set,
                                                        monkeypatch):
    """The exhaustive evaluator runs one algorithm per node kind and
    leaves dense per-doc tables and masks to the collector: a warm
    pruning=False searcher, on its second pass over the query set,
    holds no term's dense table and memoizes no table or mask; a fresh
    shard searcher (a DistributedSearcher task) per AND and mixed query
    builds a dense table or mask only inside the collector."""
    from lucene_solr_spark.query.distributed import shard_ranges
    from lucene_solr_spark.query.engine import LocalSearcher

    memo_keys: list = []
    end_query = LocalSearcher._end_query

    def spy_end_query(self, keys):
        memo_keys.extend(k for k in self._eval_memo if isinstance(k, tuple))
        return end_query(self, keys)

    monkeypatch.setattr(LocalSearcher, "_end_query", spy_end_query)
    warm = LocalSearcher(index_dir, pruning=False)
    for _, q in query_set:
        warm.search(q, K)
    for name, q in query_set:
        memo_keys.clear()
        warm.search(q, K)
        assert not memo_keys, name
        assert all(tp.dense is None for tp in warm._terms.values()), name

    depth = [0]  # > 0 while the collector runs
    outside: list = []
    collect = LocalSearcher._collect

    def spy_collect(self, *a, **kw):
        depth[0] += 1
        try:
            return collect(self, *a, **kw)
        finally:
            depth[0] -= 1

    def spy_dense(fn):
        def spy(self, *a):
            if not depth[0]:
                outside.append((fn.__name__, a[0]))
            return fn(self, *a)
        return spy

    monkeypatch.setattr(LocalSearcher, "_collect", spy_collect)
    for name in ("_term_dense", "_dense_mask", "_dense_scores_at"):
        monkeypatch.setattr(LocalSearcher, name,
                            spy_dense(getattr(LocalSearcher, name)))
    ranges = shard_ranges(warm.max_doc, 4)
    n_and = 0
    for name, q in query_set:
        if not name.startswith(("and", "mixed", "stop_1", "stop_2")):
            continue
        n_and += 1
        for r in ranges:
            LocalSearcher(index_dir, doc_range=r).search(q, K)
            assert not outside, (name, r, outside)
    assert n_and >= 25


def _entry_bytes(tp) -> int:
    """Recount of every payload and array a term-cache entry holds."""
    arrays = [tp.first_doc, tp.last_doc, tp.max_tf, tp.min_ntab, tp.offs,
              tp.scores, tp.order, *(tp.postings or ()), *(tp.dense or ()),
              *(a for got in tp._decoded.values() for a in got)]
    return sum(len(b[k]) for b in tp.blocks
               for k in ("payload", "norms_payload", "pos_payload")
               if b.get(k)) + sum(a.nbytes for a in arrays if a is not None)


def test_term_cache_byte_budget(index_dir, oracle):
    """One byte budget over every per-term structure: sweeping every
    text term plus ANDs and ORs of neighbours, a searcher whose budget
    evicts between queries keeps its accounted cache total within half
    the budget, equal to a recount of what its entries hold, after
    every search and explain; its pages equal an unbudgeted searcher's
    and the oracle's, also for a term larger than the whole budget."""
    from lucene_solr_spark.query.engine import LocalSearcher

    terms = sorted(oracle.postings,
                   key=lambda t: (-oracle.postings[t][0].size, t))
    queries = [("term", t) for t in terms]
    for a, b in zip(terms, terms[1:]):
        queries += [("and", [("term", a), ("term", b)]),
                    ("or", [("term", a), ("term", b)])]
    free = LocalSearcher(index_dir)
    want = [free.search(q, K) for q in queries]
    probe = LocalSearcher(index_dir)
    probe.search(queries[0], K)
    s = LocalSearcher(index_dir)
    # the top term's entry after its own query is larger than the budget
    s.dense_budget_bytes = probe._tp(terms[0]).nbytes - 1

    def within_budget(q):
        assert s._cache_bytes <= s.dense_budget_bytes // 2, q
        assert s._cache_bytes == sum(
            _entry_bytes(tp) for tp in s._terms.values()), q

    for q, page in zip(queries, want):
        _assert_identical(f"budget:{q}", page, oracle.search(q, K))
        got = s.search(q, K)
        _assert_identical(f"budget:{q}", got, page)
        within_budget(q)
        if got:
            assert s.explain(q, got[0][0])["value"] == got[0][1], q
            within_budget(q)
        if q == queries[0]:
            assert not s._terms  # evicted after its query
    assert len(s._terms) < len(terms)  # entries were evicted


def test_lmjm_similarity_rank_identity(index_dir, oracle):
    """LMJelinekMercerSimilarity (LMJelinekMercerSimilarity.java:54-59)
    as a fourth query-time Similarity: engine scores (pruning on AND
    off — lmjm scores are strictly positive so every fast path stays
    enabled) equal an independent float32 twin from the oracle's
    postings: score = float32(ln(1 + ((1-lambda)*tf/docLen) /
    (lambda*pc))), pc = float32((ttf+1)/(sumTtf+1)), docLen from the
    SimilarityBase norm byte."""
    import numpy as np

    from lucene_solr_spark.oracle.smallfloat import NORM_TABLE
    from lucene_solr_spark.query.engine import LocalSearcher

    s = LocalSearcher(index_dir, similarity="lmjm")
    s_np = LocalSearcher(index_dir, pruning=False, similarity="lmjm")
    lam = 0.1
    sum_ttf = sum(int(p[1].sum()) for p in oracle.postings.values())

    def lmjm_term(term):
        docs, tfs = oracle.postings[term]
        pc = np.float32(
            np.float32(int(tfs.sum()) + 1.0) / np.float32(sum_ttf + 1.0)
        )
        dl = NORM_TABLE[oracle.norm_bytes[docs]].astype(np.float64)
        return docs, np.log1p(
            ((1.0 - lam) * tfs.astype(np.float64) / dl) / (lam * float(pc))
        ).astype(np.float32)

    def topk(docs, scores, k=10):
        order = np.lexsort((docs, -scores.astype(np.float64)))[:k]
        return [(int(docs[i]), np.float32(scores[i])) for i in order]

    for t in ("retry", "deploy", "cache", "pipeline"):
        want = topk(*lmjm_term(t))
        assert [(d, np.float32(x)) for d, x in s.search(t, 10)] == want, t
        assert [(d, np.float32(x)) for d, x in s_np.search(t, 10)] == want, t
    da, sa = lmjm_term("retry")
    db, sb = lmjm_term("deploy")
    inter = np.intersect1d(da, db, assume_unique=True)
    ia = np.searchsorted(da, inter)
    ib = np.searchsorted(db, inter)
    summed = (sa[ia].astype(np.float64) + sb[ib].astype(np.float64)).astype(
        np.float32
    )
    for searcher in (s, s_np):
        assert [(d, np.float32(x))
                for d, x in searcher.search("retry AND deploy", 10)
                ] == topk(inter, summed)
    # pruning == exhaustive across a query sample (fast paths stay on)
    for q in ("retry OR cache", "retry AND deploy AND cache",
              "(retry deploy cache)@2", "deploy"):
        a = [(d, np.float32(x)) for d, x in s.search(q, 10)]
        b = [(d, np.float32(x)) for d, x in s_np.search(q, 10)]
        assert a == b, q


def test_lmjm_similarity_distributed_matches_local(spark, index_dir):
    """LMJM float32 serving mode: DistributedSearcher == LocalSearcher
    across term/boolean/phrase/span/keyword-field shapes."""
    import numpy as np

    from lucene_solr_spark.query.distributed import DistributedSearcher
    from lucene_solr_spark.query.engine import LocalSearcher

    ls = LocalSearcher(index_dir, similarity="lmjm")
    ds = DistributedSearcher(spark, index_dir, similarity="lmjm")
    near = ("span_near", [("sterm", "retry"), ("sterm", "deploy")], 3,
            True)
    n_nonempty = 0
    for q in ["retry", "retry AND deploy", "retry OR cache",
              '"retry deploy"~2', near, "retry AND role:assistant"]:
        a = [(d, np.float32(s)) for d, s in ls.search(q, 10)]
        b = [(d, np.float32(s)) for d, s in ds.search(q, 10)]
        n_nonempty += bool(a)
        assert a == b, q
    assert n_nonempty >= 4


def test_simbase_similarities_rank_identity(index_dir, oracle):
    """SimilarityBase family (dfr/ib/dfi/ax/bool, similarities.py) as
    query-time Similarities: engine single-term scores equal an
    INDEPENDENT float32 twin transliterated here straight from the
    reference formulas over the oracle's postings — DFRSimilarity
    I(n)L2 (BasicModelIn.java:33-37, AfterEffectL.java:32-34,
    NormalizationH2.java:52-54), IB LL-D2 (DistributionLL.java:33-35,
    LambdaDF.java:31-34), DFI ChiSquared (DFISimilarity.java:53-64),
    AxiomaticF2EXP s=0.25 k=0.35 (AxiomaticF2EXP.java:58-88), and
    BooleanSimilarity (score = boost).  docLen decodes from the
    SimilarityBase norm byte (1/f^2); AND nodes sum per-clause float32
    scores (MultiSimScorer) then double-sum across clauses like every
    other similarity."""
    import math

    import numpy as np

    from lucene_solr_spark.oracle.smallfloat import NORM_TABLE
    from lucene_solr_spark.query.engine import LocalSearcher

    N = oracle.doc_count
    sttf = oracle.sum_total_term_freq
    avgdl = np.float32(sttf / float(N))
    ln2 = math.log(2.0)

    def tfn_h2(freq, dl):
        inner = (np.float32(1.0) + (avgdl / dl).astype(np.float32)
                 ).astype(np.float32)
        return (freq.astype(np.float64)
                * (np.log(inner.astype(np.float64)) / ln2)
                ).astype(np.float32)

    def twin(sim, term):
        docs, tfs = oracle.postings[term]
        df = docs.size
        ttf = int(tfs.sum())
        freq = tfs.astype(np.float32)
        dl = NORM_TABLE[oracle.norm_bytes[docs]]
        if sim == "bool":
            return docs, np.ones(freq.size, dtype=np.float32)
        if sim == "dfi":
            expected = ((np.float32(ttf + 1) * dl).astype(np.float32)
                        / np.float32(sttf + 1)).astype(np.float32)
            d = (freq - expected).astype(np.float32)
            s = (np.log((d * d / expected + np.float32(1.0)
                         ).astype(np.float64)) / ln2).astype(np.float32)
            return docs, np.where(freq <= expected, np.float32(0.0), s)
        if sim == "ax":
            s_, k_ = np.float32(0.25), 0.35
            denom = ((freq + s_).astype(np.float32)
                     + ((s_ * dl).astype(np.float32) / avgdl
                        ).astype(np.float32)).astype(np.float32)
            idf = np.float32(math.pow((N + 1.0) / df, k_))
            return docs, ((freq / denom).astype(np.float32) * idf
                          ).astype(np.float32)
        tfn = tfn_h2(freq, dl)
        if sim == "dfr":
            i_n = np.float32(math.log((N + 1) / (df + 0.5)) / ln2)
            basic = (tfn * i_n).astype(np.float32)
            ae = (np.float32(1.0) / (tfn + np.float32(1.0))
                  ).astype(np.float32)
            return docs, (basic * ae).astype(np.float32)
        lam = np.float32(np.float32(df + 1.0) / np.float32(N + 1.0))
        x = (lam / (tfn + lam)).astype(np.float32)
        return docs, (-np.log(x.astype(np.float64))).astype(np.float32)

    def topk(docs, scores, k=10):
        # 0-score matches are still hits (dfi can score a present
        # posting 0) — rank them, don't drop them, like _topk_hits
        order = np.lexsort((docs, -scores.astype(np.float64)))[:k]
        return [(int(docs[i]), np.float32(scores[i])) for i in order]

    for sim in ("dfr", "ib", "dfi", "ax", "bool"):
        s = LocalSearcher(index_dir, similarity=sim)
        for t in ("retry", "deploy", "cache"):
            want = topk(*twin(sim, t))
            got = [(d, np.float32(x)) for d, x in s.search(t, 10)]
            assert got == want, (sim, t)
        # AND: intersect, per-clause float32 scores double-summed
        da, sa = twin(sim, "retry")
        db, sb = twin(sim, "deploy")
        inter = np.intersect1d(da, db, assume_unique=True)
        ia = np.searchsorted(da, inter)
        ib_ = np.searchsorted(db, inter)
        summed = (sa[ia].astype(np.float64)
                  + sb[ib_].astype(np.float64)).astype(np.float32)
        got = [(d, np.float32(x))
               for d, x in s.search("retry AND deploy", 10)]
        assert got == topk(inter, summed), sim


def test_simbase_similarities_distributed_matches_local(spark, index_dir):
    """SimilarityBase family float32 serving mode: DistributedSearcher
    == LocalSearcher across term/boolean/phrase/span/keyword-field
    shapes, and the float64 gate mode ranks identically."""
    import numpy as np

    from lucene_solr_spark.query.distributed import DistributedSearcher
    from lucene_solr_spark.query.engine import LocalSearcher

    near = ("span_near", [("sterm", "retry"), ("sterm", "deploy")], 3,
            True)
    qs = ["retry", "retry AND deploy", "retry OR cache",
          '"retry deploy"~2', near, "retry AND role:assistant"]
    for sim in ("dfr", "ib", "dfi", "ax", "bool"):
        ls = LocalSearcher(index_dir, similarity=sim)
        ds = DistributedSearcher(spark, index_dir, similarity=sim)
        n_nonempty = 0
        for q in qs:
            a = [(d, np.float32(s)) for d, s in ls.search(q, 10)]
            b = [(d, np.float32(s)) for d, s in ds.search(q, 10)]
            n_nonempty += bool(a)
            assert a == b, (sim, q)
        assert n_nonempty >= 4
        ds64 = DistributedSearcher(spark, index_dir, dtype="float64",
                                   similarity=sim)
        g = ds64.search("retry AND deploy", 10)
        f = ls.search("retry AND deploy", 10)
        assert [x[0] for x in g] == [x[0] for x in f], sim


def test_synonym_query_rank_identity(index_dir, oracle):
    """SynonymQuery (search/SynonymQuery.java): engine scores equal an
    independent twin — per-doc freq = SUM of the synonyms' freqs
    (SynonymScorer), ONE BM25 weight from pseudo stats docFreq = max
    over terms (:134-147), norms unchanged; `a|b` parser surface; the
    score differs from the OR-sum by construction."""
    import numpy as np

    from lucene_solr_spark.oracle.smallfloat import NORM_TABLE
    from lucene_solr_spark.query.engine import LocalSearcher

    s = LocalSearcher(index_dir)
    terms = ["retry", "deploy"]
    parts = [oracle.postings[t] for t in terms]
    dfx = max(p[0].size for p in parts)
    docs_u = np.unique(np.concatenate([p[0] for p in parts]))
    freq = np.zeros(docs_u.size, dtype=np.float32)
    for d, tfs in parts:
        np.add.at(freq, np.searchsorted(docs_u, d),
                  tfs.astype(np.float32))
    dc = oracle.doc_count
    sum_ttf = oracle.sum_total_term_freq
    k1, b = np.float32(1.2), np.float32(0.75)
    avgdl = np.float32(sum_ttf / float(dc))
    idf = np.float32(np.log(1 + (dc - dfx + 0.5) / (dfx + 0.5)))
    wv = np.float32(idf * (k1 + np.float32(1.0)))
    cache = (
        k1 * ((np.float32(1.0) - b)
              + b * NORM_TABLE / avgdl)
    ).astype(np.float32)
    nb = oracle.norm_bytes[docs_u]
    want_sc = (wv * freq / (freq + cache[nb])).astype(np.float32)
    order = np.lexsort((docs_u, -want_sc.astype(np.float64)))[:10]
    want = [(int(docs_u[i]), np.float32(want_sc[i])) for i in order]
    got = [(d, np.float32(x)) for d, x in s.search("retry|deploy", 10)]
    assert got == want
    # differs from the OR-sum (two weights) whenever a doc has both
    assert dict(got) != dict(s.search("retry OR deploy", 10))
    # degenerate forms
    assert s.search("retry|retry", 5) == s.search("retry", 5)


def test_synonym_distributed_matches_local(spark, index_dir):
    """Synonym float32 serving mode: DistributedSearcher ==
    LocalSearcher across similarities and compositions."""
    import numpy as np

    from lucene_solr_spark.query.distributed import DistributedSearcher
    from lucene_solr_spark.query.engine import LocalSearcher

    for sim in ("bm25", "classic", "lmd", "lmjm", "dfr", "ib", "dfi",
                "ax", "bool"):
        ls = LocalSearcher(index_dir, similarity=sim)
        ds = DistributedSearcher(spark, index_dir, similarity=sim)
        for q in ("retry|deploy", "retry|deploy AND cache",
                  "retry|zzzabsent"):
            a = [(d, np.float32(x)) for d, x in ls.search(q, 10)]
            b = [(d, np.float32(x)) for d, x in ds.search(q, 10)]
            assert a == b, (sim, q)


def test_collapse_two_phase_partition_invariance(spark, index_dir):
    """Field collapsing (collapse_df): the two-phase skew-safe plan
    (per-(group, input-partition) heads, then the per-group window)
    returns the same heads/expansion regardless of how the match set
    is partitioned, and head selection is (score desc, docID asc)."""
    import numpy as np

    from lucene_solr_spark.query.distributed import DistributedSearcher
    from lucene_solr_spark.query.engine import LocalSearcher

    ds = DistributedSearcher(spark, index_dir)
    got = ds.collapse_df("retry", "role", k=3, expand_k=2).collect()
    # reference ranking straight from the serving path + stored fields
    ls = LocalSearcher(index_dir)
    hits = ls.search("retry", None)
    import os

    import pyarrow.dataset as pads

    dm = pads.dataset(
        os.path.join(index_dir, "docmap"), format="parquet",
        partitioning="hive",
    ).to_table(columns=["doc_id", "role"]).to_pydict()
    role = dict(zip(dm["doc_id"], dm["role"]))
    per: dict = {}
    for d, s in hits:  # already (score desc, docID asc)
        per.setdefault(role[d], []).append((d, np.float32(s)))
    want = []
    for g in sorted(per, key=lambda g: (-per[g][0][1], per[g][0][0]))[:3]:
        for rk, (d, s) in enumerate(per[g][:3], start=1):
            want.append((g, d, s, rk))
    want.sort(key=lambda r: (r[0], r[3]))
    assert [
        (r["group"], r["doc_id"], np.float32(r["score"]), r["rank"])
        for r in got
    ] == want


def test_cold_searcher_rank_identity(index_dir, oracle, query_set):
    """A FRESH searcher per query (no dense tables, no decode cache,
    no warming from earlier queries) returns the same top-k as the
    oracle — guards the cold entry points of the leapfrog/TA strategy
    picks, which a single warmed module searcher can't exercise."""
    from lucene_solr_spark.query.engine import LocalSearcher

    sample = [q for q in query_set
              if q[0].endswith(("_0", "_1", "_4"))]
    for name, qtext in sample:
        s = LocalSearcher(index_dir)
        node = parse_query(qtext)
        want = oracle.search(node, K) if node is not None else []
        _assert_identical(f"cold:{name}", s.search(qtext, K), want)
