"""Hypothesis randomized tests — the reference's own test DNA
(LuceneTestCase randomizes codecs/inputs everywhere, SURVEY.md §5):
codec round-trips, OSA distance vs a brute DP,
sloppy-freq membership/monotonicity, top-k selection vs a naive sort."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

settings.register_profile("ci", max_examples=200, deadline=None)
settings.load_profile("ci")


# ------------------------------------------------------------- codec

posting_lists = st.lists(
    st.tuples(st.integers(0, 2**40), st.integers(1, 10_000)),
    min_size=1, max_size=400, unique_by=lambda t: t[0],
)


@given(posting_lists)
def test_codec_roundtrip(pl):
    from lucene_solr_spark.index.codec import decode_block, encode_blocks

    pl.sort()
    docs = np.array([d for d, _ in pl], dtype=np.int64)
    tfs = np.array([f for _, f in pl], dtype=np.int64)
    out_d, out_t = [], []
    for blk in encode_blocks(docs, tfs):
        d, t = decode_block(blk)
        assert blk["first_doc"] == d[0] and blk["last_doc"] == d[-1]
        assert blk["max_tf"] == int(t.max())
        out_d.append(d)
        out_t.append(t)
    assert np.array_equal(np.concatenate(out_d), docs)
    assert np.array_equal(np.concatenate(out_t), tfs)


@given(st.lists(st.integers(0, 2**50), min_size=0, max_size=200))
def test_vbyte_roundtrip(vals):
    from lucene_solr_spark.index.codec import vbyte_decode, vbyte_encode

    v = np.array(vals, dtype=np.uint64)
    assert np.array_equal(vbyte_decode(vbyte_encode(v), len(vals)), v)


@given(
    st.lists(
        st.lists(st.integers(0, 10_000), min_size=1, max_size=20,
                 unique=True),
        min_size=1, max_size=50,
    )
)
def test_positions_roundtrip(poslists):
    from lucene_solr_spark.index.codec import (
        decode_positions, encode_positions,
    )

    pls = [np.array(sorted(p), dtype=np.int64) for p in poslists]
    tfs = np.array([p.size for p in pls], dtype=np.int64)
    got = decode_positions(encode_positions(pls), tfs)
    assert all(np.array_equal(a, b) for a, b in zip(got, pls))


# ---------------------------------------------------------------- OSA


def _osa_brute(a: str, b: str) -> int:
    la, lb = len(a), len(b)
    d = [[0] * (lb + 1) for _ in range(la + 1)]
    for i in range(la + 1):
        d[i][0] = i
    for j in range(lb + 1):
        d[0][j] = j
    for i in range(1, la + 1):
        for j in range(1, lb + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            d[i][j] = min(d[i - 1][j] + 1, d[i][j - 1] + 1,
                          d[i - 1][j - 1] + cost)
            if (i > 1 and j > 1 and a[i - 1] == b[j - 2]
                    and a[i - 2] == b[j - 1]):
                d[i][j] = min(d[i][j], d[i - 2][j - 2] + 1)
    return d[la][lb]


short = st.text(alphabet="abcde", max_size=8)


@given(short, short, st.integers(0, 3))
def test_osa_distance_matches_brute(a, b, cap):
    from lucene_solr_spark.query.multiterm import osa_distance

    got = osa_distance(a, b, cap)
    true = _osa_brute(a, b)
    if true <= cap:
        assert got == true
    else:
        assert got > cap


# ------------------------------------------------------- sloppy freq

positions2 = st.tuples(
    st.lists(st.integers(0, 60), min_size=1, max_size=8, unique=True),
    st.lists(st.integers(0, 60), min_size=1, max_size=8, unique=True),
)


@given(positions2, st.integers(0, 30))
def test_sloppy_freq_membership_and_monotone(ps, slop):
    """For a 2-clause phrase: freq > 0 iff some adjusted-position pair
    sits within the slop, and freq is monotone nondecreasing in slop
    (SloppyPhraseScorer invariants checkable without re-deriving the
    greedy window enumeration)."""
    from lucene_solr_spark.query.sloppy import sloppy_freq

    a = np.array(sorted(ps[0]), dtype=np.int64)
    b = np.array(sorted(ps[1]), dtype=np.int64)
    f = sloppy_freq([a, b], [0, 1], slop)
    min_dist = min(abs(int(x) - int(y)) for x in a for y in b)
    assert (f > 0) == (min_dist <= slop)
    f2 = sloppy_freq([a, b], [0, 1], slop + 1)
    assert f2 >= f or np.isclose(f2, f)


# ------------------------------------------------------------- top-k


@given(
    st.lists(
        st.tuples(st.integers(0, 50), st.sampled_from([0.5, 1.0, 1.5, 2.0])),
        min_size=1, max_size=60, unique_by=lambda t: t[0],
    ),
    st.integers(1, 10),
)
def test_topk_matches_naive(hits, k):
    """_topk_hits (partition + tie-aware lexsort) == naive full sort by
    (score desc, docID asc), incl. heavy score ties."""
    from lucene_solr_spark.query.engine import _topk_hits

    docs = np.array([d for d, _ in hits], dtype=np.int64)
    scores = np.array([s for _, s in hits], dtype=np.float32)
    got = _topk_hits(docs, scores, k)
    want = sorted(
        [(int(d), float(s)) for d, s in hits],
        key=lambda x: (-x[1], x[0]),
    )[:k]
    assert got == want


# ------------------------------------------- SimilarityBase kernels

sim_inputs = st.tuples(
    st.sampled_from(["dfr", "ib", "dfi", "ax", "bool"]),
    st.integers(1, 500),                  # freq
    st.integers(0, 255),                  # norm byte (decoded docLen)
    st.integers(1, 10_000),               # df
    st.integers(1, 1_000_000),            # ttf
    st.integers(10, 10_000_000),          # doc_count
    st.integers(10, 100_000_000),         # sum_ttf
)


@given(sim_inputs)
def test_simbase_kernel_properties(inp):
    """Serving-mode SimilarityBase kernels (query/similarities.py):
    scores are finite and >= 0 for any stats (SimilarityBase scorers
    never go negative — dfi clamps at freq <= expected), monotone
    non-decreasing in freq at fixed docLen (more occurrences never
    score lower for these models), and multi-clause weights sum the
    per-clause float32 scores exactly (MultiSimilarity.MultiSimScorer
    additivity)."""
    from lucene_solr_spark.query.similarities import make_similarity

    sim, f, nb, df, ttf, dc, sttf = inp
    df = min(df, dc)
    ttf = max(ttf, df)
    sttf = max(sttf, ttf)
    model = make_similarity(sim, dc, sttf)
    freqs = np.array([f, f + 1], dtype=np.float32)
    norms = np.array([nb, nb], dtype=np.uint8)

    def serving(clauses):
        return model.score(model.weight(clauses), freqs, norms)

    s = serving([(df, ttf)])
    assert np.all(np.isfinite(s)) and np.all(s >= 0), (sim, s)
    assert s[1] >= s[0], (sim, "freq monotonicity", s)
    # MultiSimScorer additivity: two clauses == f32-sum of singles
    s1 = serving([(df, ttf)])
    s2 = serving([(max(df // 2, 1), ttf)])
    both = serving([(df, ttf), (max(df // 2, 1), ttf)])
    assert np.array_equal(both, (s1 + s2).astype(np.float32)), sim


@given(sim_inputs)
def test_simbase_gate_vs_serving_sign(inp):
    """Gate-mode (double, exact dl) and serving-mode (float32, decoded
    norm byte) kernels agree on MATCH SEMANTICS: a posting scores 0 in
    one mode iff the model can score 0 at all (dfi/bool excepted —
    dfi's expected-frequency clamp legitimately flips near the
    boundary under quantized docLen, bool is constant); dfr/ib/ax are
    strictly positive in BOTH modes."""
    from lucene_solr_spark.oracle.smallfloat import NORM_TABLE
    from lucene_solr_spark.query.similarities import make_similarity

    sim, f, nb, df, ttf, dc, sttf = inp
    df = min(df, dc)
    ttf = max(ttf, df)
    sttf = max(sttf, ttf)
    avgdl = np.float32(sttf / float(dc))
    model = make_similarity(sim, dc, sttf)
    freqs = np.array([f], dtype=np.float32)
    norms = np.array([nb], dtype=np.uint8)
    srv = model.score(model.weight([(df, ttf)]), freqs, norms)
    dl = np.array([float(NORM_TABLE[nb])])
    gt = model.score64(model.weight64([(df, ttf)]),
                       freqs.astype(np.float64), dl)
    assert np.all(np.isfinite(gt)) and np.all(gt >= 0)
    # strict positivity holds whenever the NormalizationH2 ratio
    # avgdl/docLen survives float32 (tfn > 0).  Low norm bytes decode
    # to astronomically long docLens (byte315 is log-scaled; real
    # 1..4096-token docs land at bytes ~120+), where 1 + avgdl/dl
    # rounds to exactly 1 and tfn legitimately underflows to 0 —
    # found by hypothesis at ('dfr', 1, 0, 1, 1, 10, 10)
    if (sim in ("dfr", "ib", "ax")
            and avgdl / float(NORM_TABLE[nb]) > 1e-6):
        assert srv[0] > 0 and gt[0] > 0, sim


@given(
    st.sampled_from(["bm25", "classic", "lmjm"]),
    st.lists(st.tuples(st.integers(1, 2_000), st.integers(0, 255)),
             min_size=1, max_size=128),
    st.integers(1, 10_000),               # df
    st.integers(1, 1_000_000),            # ttf
    st.integers(10, 10_000_000),          # doc_count
    st.integers(10, 100_000_000),         # sum_ttf
    st.floats(0.1, 3.0), st.floats(0.0, 1.0),   # k1, b
    st.floats(0.01, 0.99),                # lmjm lambda
)
def test_block_bound_covers_every_score(sim, block, df, ttf, dc, sttf,
                                        k1, b, lam):
    """Every prunable model's block_bound(w, max_tf, min_ntab) is >= the
    serving score of every posting of the block — the soundness
    block-max pruning rests on, checked directly rather than through
    pruned == exhaustive search.  min_ntab is the block's smallest
    decoded docLen, stored as float32 like the index stores it."""
    from lucene_solr_spark.oracle.smallfloat import NORM_TABLE
    from lucene_solr_spark.query.similarities import make_similarity

    df = min(df, dc)
    ttf = max(ttf, df)
    sttf = max(sttf, ttf)
    model = make_similarity(sim, dc, sttf, k1=k1, b=b, lmjm_lambda=lam)
    assert model.prunable
    tfs = np.array([t for t, _ in block], dtype=np.float32)
    norms = np.array([n for _, n in block], dtype=np.uint8)
    w = model.weight([(df, ttf)])
    scores = model.score(w, tfs, norms)
    max_tf = np.array([tfs.max()], dtype=np.float64)
    min_ntab = np.array([NORM_TABLE[norms].min()], dtype=np.float64)
    ub = model.block_bound(w, max_tf, min_ntab)[0]
    assert np.all(scores.astype(np.float64) <= ub), (sim, scores.max(), ub)
