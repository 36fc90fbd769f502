"""Postings merge and layout: the streaming merge gives the same blocks
however its input is cut into Arrow batches, and the postings table
keeps its layout (bucket per term, sorted rows, dense block ids, blocks
equal to encode_blocks of each sub-list)."""

import glob
import os

import numpy as np
import pandas as pd
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest

from lucene_solr_spark.index import store
from lucene_solr_spark.index.builder import (
    BuildConfig, build_index, term_bucket,
)
from lucene_solr_spark.index.codec import (
    decode_block, decode_positions, encode_blocks,
)
from lucene_solr_spark.sources import gen_transcripts_df

KEY = ["field", "term", "salt", "block_id"]


def _oracle_lists(oracle) -> dict:
    """{(field, term): (docs, tfs)} for the text and keyword fields."""
    out = {("text", t): p for t, p in oracle.postings.items()}
    for field, by_val in oracle.kw_postings.items():
        for v, docs in by_val.items():
            out[(field, v)] = (docs, np.ones(docs.size, dtype=np.int64))
    return out


def _postings(index_dir: str) -> pd.DataFrame:
    t = pads.dataset(
        os.path.join(index_dir, "postings"), partitioning="hive"
    ).to_table().to_pandas()
    return t.sort_values(["seg", *KEY]).reset_index(drop=True)


def _assert_matches_oracle(pdf: pd.DataFrame, oracle, positions: bool):
    """Decoded (salt, block_id)-ordered lists equal the oracle's docs,
    tfs, norms and (when indexed) positions."""
    want = _oracle_lists(oracle)
    got = set()
    for (field, term), g in pdf.groupby(["field", "term"], sort=False):
        got.add((field, term))
        blocks = g.sort_values(["salt", "block_id"]).to_dict("records")
        dec = [decode_block(b) for b in blocks]
        docs = np.concatenate([d for d, _ in dec])
        tfs = np.concatenate([t for _, t in dec])
        wd, wt = want[(field, term)]
        assert np.array_equal(docs, wd), (field, term)
        assert np.array_equal(tfs, wt), (field, term)
        norms = np.concatenate(
            [np.frombuffer(b["norms_payload"], np.uint8) for b in blocks]
        )
        want_norms = (oracle.norm_bytes[wd] if field == "text"
                      else np.zeros(wd.size, np.uint8))
        assert np.array_equal(norms, want_norms), (field, term)
        if positions and field == "text":
            pos = [p for b, (_, t) in zip(blocks, dec)
                   for p in decode_positions(b["pos_payload"], t)]
            assert len(pos) == len(oracle.positions[term])
            for p, q in zip(pos, oracle.positions[term]):
                assert np.array_equal(p, q), term
    assert got == set(want)


def test_merge_kernel_batch_split_invariant():
    """The merge kernel alone, no Spark: chunks from three interleaved
    input partitions (so merged lists need re-sorting), one term salted,
    fed in one batch and in batches of 1, 2 and 7 rows so that groups
    straddle batches — every split yields the same rows, and they
    decode to the oracle's lists."""
    from lucene_solr_spark.analysis.analyzer import analyze
    from lucene_solr_spark.index.builder import (
        _merge_sorted_factory, _partial_postings_factory,
    )
    from lucene_solr_spark.oracle import LuceneOracle
    from lucene_solr_spark.oracle.smallfloat import norm_bytes_for_lengths
    from lucene_solr_spark.sources import gen_transcripts_pdf

    src = (gen_transcripts_pdf(n_convs=12, seed=3)
           .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    texts = src["text"].fillna("").tolist()
    n = len(texts)
    oracle = LuceneOracle().build(
        list(enumerate(texts)),
        keyword_values={"role": src["role"].tolist(),
                        "tool": src["tool"].tolist()},
    )
    docmap = pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "norm_byte": norm_bytes_for_lengths(
            np.array([len(analyze(t)) for t in texts])).astype(np.int32),
        "text": texts, "role": src["role"], "tool": src["tool"],
    })
    hot = max(oracle.postings, key=lambda t: oracle.postings[t][0].size)
    invert = _partial_postings_factory({("text", hot): 3}, n, n_buckets=4,
                                       positions=True)
    chunks = pd.concat(
        [c for k in range(3) for c in invert(iter([docmap.iloc[k::3]]))],
        ignore_index=True,
    ).sort_values(["bucket", "field", "term", "salt", "first_doc"])
    assert (chunks["salt"] > 0).any()
    merge = _merge_sorted_factory(positions=True)

    def run(size):
        batches = (chunks.iloc[i:i + size] for i in range(0, len(chunks), size))
        return pd.concat(list(merge(batches)), ignore_index=True)

    whole = run(len(chunks))
    for size in (1, 2, 7):
        pd.testing.assert_frame_equal(run(size), whole)
    assert (whole["bucket"] == [term_bucket(t, 4) for t in whole["term"]]).all()
    _assert_matches_oracle(whole, oracle, positions=True)


@pytest.mark.spark
@pytest.mark.parametrize("positions", [False, True])
@pytest.mark.parametrize("salt_df_threshold", [200_000, 50])
def test_merge_across_arrow_batches(spark, tmp_path, oracle, positions,
                                    salt_df_threshold):
    """A build with 7-record Arrow batches (groups straddle batches)
    writes the same postings table, payload bytes included, as one with
    the default batch size; both decode to the oracle's lists."""
    cfg = BuildConfig(n_buckets=4, positions=positions,
                      salt_df_threshold=salt_df_threshold, salt_target=60)
    df = gen_transcripts_df(spark, n_convs=40, seed=42)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default_dir, small_dir = str(tmp_path / "default"), str(tmp_path / "small")
    build_index(spark, df, default_dir, cfg)
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        build_index(spark, df, small_dir, cfg)
    finally:
        spark.conf.set(conf, prev)
    a, b = _postings(default_dir), _postings(small_dir)
    pd.testing.assert_frame_equal(a, b)
    assert (a["salt"].max() > 0) == (salt_df_threshold < 200_000)
    _assert_matches_oracle(a, oracle, positions)


@pytest.fixture(scope="module")
def salted_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("layout") / "salted")
    build_index(
        spark, gen_transcripts_df(spark, n_convs=40, seed=42), d,
        BuildConfig(n_buckets=4, positions=True, salt_df_threshold=50,
                    salt_target=60),
    )
    return d


@pytest.mark.spark
@pytest.mark.parametrize("which", ["index_dir", "salted_index"])
def test_postings_layout(request, oracle, which):
    """Every (field, term) lives only in bucket term_bucket(term,
    n_buckets); rows in each bucket file are sorted by (field, term,
    salt, block_id); block_id runs 0..n-1 per (field, term, salt); and
    each (field, term, salt)'s blocks are encode_blocks of that
    sub-list's oracle docs and tfs."""
    d = request.getfixturevalue(which)
    n_buckets = int(store.get_params(d)["n_buckets"])
    files = glob.glob(os.path.join(d, "postings", "seg=*", "bucket=*",
                                   "*.parquet"))
    assert files
    for f in files:
        bucket = int(os.path.basename(os.path.dirname(f)).split("=")[1])
        t = pq.read_table(f).to_pandas()
        assert all(term_bucket(x, n_buckets) == bucket for x in t["term"]), f
        keys = list(zip(*(t[c] for c in KEY)))
        assert keys == sorted(keys), f
    want = _oracle_lists(oracle)
    pdf = _postings(d)
    for (field, term, _), g in pdf.groupby(["field", "term", "salt"]):
        assert g["block_id"].tolist() == list(range(len(g)))
        docs, tfs = want[(field, term)]
        # salts are disjoint doc ranges: the sub-list is the oracle's
        # list cut to this salt's range
        sel = (docs >= g["first_doc"].min()) & (docs <= g["last_doc"].max())
        enc = encode_blocks(docs[sel], tfs[sel])
        assert len(enc) == len(g), (field, term)
        for blk, row in zip(enc, g.to_dict("records")):
            assert {k: row[k] for k in blk} == blk, (field, term)
    _assert_matches_oracle(pdf, oracle, positions=True)
