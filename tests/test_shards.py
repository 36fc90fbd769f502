"""Doc-range shards: a LocalSearcher opened on [lo, hi) returns exactly
the unsharded searcher's hits inside its range, so the union of the
shards' lists is the unsharded list, and DistributedSearcher (one such
shard per task plus a top-k merge) equals LocalSearcher and the oracle.

The corpus puts a hot term in nearly every doc, so its posting blocks
straddle every shard boundary, and the AND's two terms have blocks of
other widths that straddle boundaries at other doc ids."""

import numpy as np
import pandas as pd
import pytest

pytestmark = pytest.mark.spark

N_DOCS = 1500
K = 10
SHARDS = (1, 3, 7)
TS0 = np.datetime64("2026-01-01T00:00:00")

#: every query class the shards must split exactly
QUERIES = {
    "term": "hot",
    "and": "alpha AND beta",
    "or": "alpha OR beta OR gamma",
    "msm": "(alpha beta gamma delta)@2",
    "nested": ("boost", ("andnot", ("and", [
        ("or", [("boost", ("term", "alpha"), 2.0), ("term", "beta")]),
        ("term", "hot")]), ("term", "gamma")), 1.5),
    "phrase": '"alpha beta"',
    "sloppy": '"alpha beta"~2',
    "span": ("span_near", [("sterm", "gamma"), ("sterm", "delta")], 3,
             False),
    # omega (df 200) lives only in docs [0, 200), zeta in [1000, 1050):
    # a shard's pseudo-term still weighs max df and summed ttf over both
    "synonym": ("synonym", ["omega", "zeta"]),
    "keyword": ("and", [("fterm", "role", "user"), ("term", "gamma")]),
    "tsrange": ("reqfilter", ("term", "alpha"), (
        "tsrange", "2026-01-01T03:00:00", "2026-01-01T20:00:00", True,
        False)),
}


def _corpus() -> pd.DataFrame:
    rng = np.random.default_rng(2024)
    fill = ["red", "green", "blue", "cyan", "pink", "gold", "grey"]
    rows = []
    for i in range(N_DOCS):
        words = list(rng.choice(fill, size=int(rng.integers(1, 12))))
        words += ["hot"] * (rng.random() < 0.95)
        words += ["alpha"] * int(rng.integers(1, 3)) * (i % 2 == 0)
        words += ["beta"] * (i % 3 == 0)
        words += ["gamma"] * (rng.random() < 0.3)
        words += ["delta"] * (rng.random() < 0.2)
        words += ["omega"] * (i < 200) + ["zeta"] * (1000 <= i < 1050)
        rng.shuffle(words)
        if i % 5 == 0:
            words += ["alpha", "beta"]  # exact phrase occurrences
        rows.append((f"c{i // 10:05d}", i % 10, ("user", "assistant",
                     "tool")[i % 3], " ".join(words), "none",
                     TS0 + np.timedelta64(i, "m")))
    return pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text",
                                       "tool", "ts"])


@pytest.fixture(scope="module")
def shard_setup(spark, tmp_path_factory):
    from lucene_solr_spark.index.builder import BuildConfig, build_index
    from lucene_solr_spark.index.deletes import delete_docs
    from lucene_solr_spark.oracle import LuceneOracle
    from lucene_solr_spark.query.engine import LocalSearcher
    from lucene_solr_spark.sources.transcripts import TRANSCRIPT_SCHEMA

    pdf = _corpus()
    d = str(tmp_path_factory.mktemp("shards") / "idx")
    build_index(spark, spark.createDataFrame(pdf, TRANSCRIPT_SCHEMA), d,
                BuildConfig(n_buckets=2, positions=True))
    oracle = LuceneOracle().build(
        list(zip(range(len(pdf)), pdf["text"].tolist())),
        keyword_values={"role": pdf["role"].tolist(),
                        "tool": pdf["tool"].tolist()},
        ts_values=pdf["ts"].tolist(),
    )
    # tombstones: the current top hits of two classes plus docs on
    # both sides of the 7-shard boundaries
    victims = {x for q in ("term", "and")
               for x, _ in LocalSearcher(d).search(QUERIES[q], 3)}
    victims |= {b + o for _, b in _bounds(N_DOCS - 1, 7) for o in (-1, 0)}
    delete_docs(d, sorted(victims))
    oracle.delete(sorted(victims))
    return d, oracle, victims


def _bounds(max_doc, n):
    from lucene_solr_spark.query.distributed import shard_ranges

    return [(lo, hi) for lo, hi in shard_ranges(max_doc, n)
            if hi is not None]


def _node(q):
    from lucene_solr_spark.query.parser import parse_query

    return parse_query(q) if isinstance(q, str) else q


def _f32(hits):
    return [(x, np.float32(s)) for x, s in hits]


def test_blocks_straddle_the_shard_boundaries(shard_setup):
    from lucene_solr_spark.query.engine import LocalSearcher

    d, _, _ = shard_setup
    ls = LocalSearcher(d)
    ls._load_terms([("text", t) for t in ("hot", "alpha", "beta")])
    ranges = {t: (ls._tp(t).first_doc, ls._tp(t).last_doc)
              for t in ("hot", "alpha", "beta")}
    for n in SHARDS[1:]:
        for _, b in _bounds(ls.max_doc, n):
            fd, ld = ranges["hot"]
            assert np.any((fd < b) & (ld >= b)), (n, b)
        for t in ("alpha", "beta"):
            fd, ld = ranges[t]
            assert any(np.any((fd < b) & (ld >= b))
                       for _, b in _bounds(ls.max_doc, n)), (t, n)
    # the two AND terms' blocks end at different doc ids
    assert set(ranges["alpha"][1][:-1]).isdisjoint(ranges["beta"][1][:-1])


@pytest.mark.parametrize("n", SHARDS)
def test_shard_union_equals_unsharded(shard_setup, n, monkeypatch):
    """Every query class, float32 and gate mode: the shards' full lists
    are disjoint and their union is the unsharded list; a searchAfter
    page merged from the shards' pages is the unsharded page; no shard
    decodes a block outside its range, and none returns a tombstone."""
    from lucene_solr_spark.index import codec
    from lucene_solr_spark.query import engine
    from lucene_solr_spark.query.distributed import shard_ranges

    d, _, victims = shard_setup
    decoded: list[tuple[int, int]] = []
    one, batch = engine.decode_block, codec.decode_full_blocks_batch

    def rec_one(b):
        decoded.append((b["first_doc"], b["last_doc"]))
        return one(b)

    def rec_batch(blocks):
        decoded.extend((b["first_doc"], b["last_doc"]) for b in blocks)
        return batch(blocks)

    monkeypatch.setattr(engine, "decode_block", rec_one)
    monkeypatch.setattr(codec, "decode_full_blocks_batch", rec_batch)
    for dtype in ("float32", "float64"):
        whole = engine.LocalSearcher(d, dtype=dtype)
        ranges = shard_ranges(whole.max_doc, n)
        shards = [engine.LocalSearcher(d, dtype=dtype, doc_range=r)
                  for r in ranges]
        for name, q in QUERIES.items():
            full = whole.search(q, None)
            assert full, name
            parts = []
            for (lo, hi), s in zip(ranges, shards):
                del decoded[:]
                got = s.search(q, None)
                hi = np.inf if hi is None else hi
                assert all(lo <= x < hi for x, _ in got), name
                assert all(b >= lo and a < hi for a, b in decoded), name
                parts += got
            assert not victims & {x for x, _ in parts}
            assert sorted(parts, key=lambda h: (-h[1], h[0])) == full, \
                (name, dtype)
            after = full[K - 1]
            page = [h for s in shards for h in s.search(q, K, after=after)]
            assert sorted(page, key=lambda h: (-h[1], h[0]))[:K] == \
                full[K:2 * K], (name, dtype)


def test_distributed_equals_local_equals_oracle(spark, shard_setup):
    from lucene_solr_spark.query.distributed import DistributedSearcher
    from lucene_solr_spark.query.engine import LocalSearcher

    d, oracle, _ = shard_setup
    ds, ls = DistributedSearcher(spark, d), LocalSearcher(d)
    ds64 = DistributedSearcher(spark, d, dtype="float64")
    ls64 = LocalSearcher(d, dtype="float64")
    for name, q in QUERIES.items():
        local = _f32(ls.search(q, 2 * K))
        want = _f32(oracle.search(_node(q), 2 * K))
        assert local == want, name
        assert _f32(ds.search(q, 2 * K)) == want, name
        page = ds.search_df(q, K, after=want[K - 1]).collect()
        assert _f32([(r["doc_id"], r["score"]) for r in page]) == \
            want[K:], name
        assert ds64.search(q, K) == ls64.search(q, K), name


#: trees the exhaustive evaluator answers in a cold shard: a mixed AND,
#: an msm group, required + optional and a dismax
_EVALUATOR_TREES = [
    "(labinotu OR zara) AND raresa",
    "(tate senuve lizo)@2",
    "+sovenode kubure",
    ("dismax", [("term", "vuvo"), ("and", [("term", "ralove"),
                                           ("term", "lasisumu")])], 0.3),
]


@pytest.mark.parametrize("q, lo", [
    ("velasasi AND mavabi", 229),  # one block in range between them
    ("velasasi OR sanikame", 229),
    ("mavabi AND sanikame", 0),  # no block in range
    *[(q, 229) for q in _EVALUATOR_TREES],
])
def test_fresh_shard_builds_no_whole_index_tables(index_dir, oracle, q, lo):
    """A fresh shard whose query terms hold one block (or none) in its
    range decodes nothing before collecting, so it is cold: no dense
    table or mask sized for the whole index, and the page still equals
    unsharded `pruning=False` and the oracle (913-doc corpus, S = 4).
    Trees outside the collector's reach run the exhaustive evaluator,
    which leaves no array of maxDoc + 1 entries on the searcher either."""
    from lucene_solr_spark.query.distributed import shard_ranges
    from lucene_solr_spark.query.engine import LocalSearcher

    whole = LocalSearcher(index_dir, pruning=False)
    (r,) = [r for r in shard_ranges(whole.max_doc, 4) if r[0] == lo]
    hi = np.inf if r[1] is None else r[1]
    s = LocalSearcher(index_dir, doc_range=r)
    memo: list = []
    end = s._end_query

    def spy(keys):
        memo.extend(s._eval_memo)
        end(keys)

    s._end_query = spy
    got = s.search(q, K)
    if q in _EVALUATOR_TREES:
        assert any(isinstance(m, int) for m in memo)  # `_eval` ran
    else:
        assert sum(len(tp.blocks) for tp in s._terms.values()) <= 1
    assert not [m for m in memo if isinstance(m, tuple)
                and m[0] in ("dtbl", "dmask")]
    assert all(tp.dense is None for tp in s._terms.values())
    assert not [a for v in vars(s).values()
                for a in (v if isinstance(v, tuple) else (v,))
                if isinstance(a, np.ndarray) and a.size == s.max_doc + 1]
    want = [h for h in whole.search(q, None) if lo <= h[0] < hi][:K]
    assert _f32(got) == _f32(want)
    full = oracle.search(_node(q), 10**9)
    assert _f32(got) == _f32([h for h in full if lo <= h[0] < hi][:K])


def test_empty_conjunct_in_range_skips_the_evaluator(index_dir):
    """A conjunct with no block in a shard's range makes the AND empty
    there: the collector answers [] from the range-local cost without
    evaluating the tree (913-doc corpus: mavabi's one posting lies
    outside [229, 458), velasasi's block overlaps it)."""
    from lucene_solr_spark.query.engine import LocalSearcher

    s = LocalSearcher(index_dir, doc_range=(229, 458))
    evals: list = []
    inner = s._eval

    def spy(node):
        evals.append(node)
        return inner(node)

    s._eval = spy
    assert s.search("velasasi AND mavabi", K) == []
    assert [len(s._tp(t).blocks) for t in ("velasasi", "mavabi")] == [1, 0]
    assert evals == []
