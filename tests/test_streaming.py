"""NRT incremental indexing: segment appends must be equivalent to a
single batch build (stats identical; docIDs identical when batches are
delivered in corpus order), and the Structured Streaming path must
ingest micro-batches into segments exactly once."""

import os
import re

import numpy as np
import pandas as pd
import pytest

from lucene_solr_spark.index.builder import (
    BuildConfig, append_segment, build_index, read_field_stats,
)
from lucene_solr_spark.sources import gen_transcripts_df

pytestmark = pytest.mark.spark


def _term_stats_pdf(d):
    import pyarrow.parquet as pq

    return (
        pq.read_table(os.path.join(d, "term_stats"))
        .to_pandas()
        .sort_values(["field", "term"])
        .reset_index(drop=True)
    )


def test_append_segment_equivalence(spark, tmp_path):
    cfg = BuildConfig(n_buckets=4, positions=True)
    full = gen_transcripts_df(spark, n_convs=30, seed=11)

    batch_dir = str(tmp_path / "batch")
    build_index(spark, full, batch_dir, cfg)

    inc_dir = str(tmp_path / "inc")
    b0 = full.filter("conv_id < 'conv00000010'")
    b1 = full.filter("conv_id >= 'conv00000010' AND conv_id < 'conv00000020'")
    b2 = full.filter("conv_id >= 'conv00000020'")
    build_index(spark, b0, inc_dir, cfg)
    append_segment(spark, b1, inc_dir, cfg)
    append_segment(spark, b2, inc_dir, cfg)

    # global stats identical
    assert read_field_stats(batch_dir) == read_field_stats(inc_dir)
    assert _term_stats_pdf(batch_dir).equals(_term_stats_pdf(inc_dir))

    # rank-identical queries (docIDs match: conv-ordered appends reproduce
    # the global (conv_id, turn_idx) order via docBase offsets)
    from lucene_solr_spark.query.engine import LocalSearcher

    s1, s2 = LocalSearcher(batch_dir), LocalSearcher(inc_dir)
    for q in ["retry AND deploy", "cache", "ba*", '"fix test flake"',
              "bakeka OR dupa OR cache"]:
        assert s1.search(q, 10) == s2.search(q, 10), q


def test_streaming_ingest(spark, tmp_path):
    from lucene_solr_spark.streaming import start_incremental_indexing

    src_dir = str(tmp_path / "stream_src")
    os.makedirs(src_dir)
    full = gen_transcripts_df(spark, n_convs=12, seed=5)
    n_total = full.count()
    full.filter("conv_id < 'conv00000006'").coalesce(1).write.parquet(
        os.path.join(src_dir, "f0")
    )
    full.filter("conv_id >= 'conv00000006'").coalesce(1).write.parquet(
        os.path.join(src_dir, "f1")
    )

    idx = str(tmp_path / "nrt_idx")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema(full.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src_dir, "*"))
    )
    q = start_incremental_indexing(
        spark, stream, idx, ckpt, BuildConfig(n_buckets=2)
    )
    q.awaitTermination(120)

    fs = read_field_stats(idx)
    assert fs["max_doc"] == n_total
    segs = sorted(os.listdir(os.path.join(idx, "postings")))
    assert len([s for s in segs if s.startswith("seg=")]) == 2

    # searcher over the union of segments sees every document of a term,
    # regardless of batch arrival order: compare against a batch build
    batch_dir = str(tmp_path / "batch_ref")
    build_index(spark, full, batch_dir, BuildConfig(n_buckets=2))
    from lucene_solr_spark.query.engine import LocalSearcher

    docmaps = {}
    import pyarrow.parquet as pq

    for name, d in [("inc", idx), ("ref", batch_dir)]:
        t = pq.read_table(
            os.path.join(d, "docmap"),
            columns=["doc_id", "conv_id", "turn_idx"],
        ).to_pandas()
        docmaps[name] = dict(
            zip(t["doc_id"], zip(t["conv_id"], t["turn_idx"]))
        )

    s_inc, s_ref = LocalSearcher(idx), LocalSearcher(batch_dir)
    for q_ in ["cache", "retry", "deploy"]:
        got = {
            (docmaps["inc"][d], np.float32(s)) for d, s in s_inc.search(q_, 10000)
        }
        want = {
            (docmaps["ref"][d], np.float32(s)) for d, s in s_ref.search(q_, 10000)
        }
        assert got == want, q_

    # exactly-once: re-running the drained stream appends nothing
    q2 = start_incremental_indexing(
        spark, stream, idx, ckpt, BuildConfig(n_buckets=2)
    )
    q2.awaitTermination(60)
    assert read_field_stats(idx)["max_doc"] == n_total


def test_compaction_equivalence(spark, tmp_path):
    """Compacting a multi-segment index into one segment preserves stats
    and is rank-identical (SegmentMerger semantics, docIDs unchanged)."""
    from lucene_solr_spark.index.builder import compact_index
    from lucene_solr_spark.query.engine import LocalSearcher

    cfg = BuildConfig(n_buckets=4, positions=True, salt_df_threshold=40,
                      salt_target=50)
    full = gen_transcripts_df(spark, n_convs=24, seed=9)
    inc = str(tmp_path / "inc2")
    build_index(spark, full.filter("conv_id < 'conv00000008'"), inc, cfg)
    append_segment(spark, full.filter(
        "conv_id >= 'conv00000008' AND conv_id < 'conv00000016'"), inc)
    append_segment(spark, full.filter("conv_id >= 'conv00000016'"), inc)

    out = str(tmp_path / "compacted")
    compact_index(spark, inc, out)

    assert read_field_stats(inc) == read_field_stats(out)
    assert _term_stats_pdf(inc).equals(_term_stats_pdf(out))
    segs = [s for s in os.listdir(os.path.join(out, "postings"))
            if s.startswith("seg=")]
    assert segs == ["seg=0"]

    s1, s2 = LocalSearcher(inc), LocalSearcher(out)
    for q in ["retry AND deploy", "cache", "ba*", '"fix test flake"',
              "bakeka OR dupa OR cache", "retry -deploy"]:
        assert s1.search(q, 10) == s2.search(q, 10), q


#: salted, so compaction must reproduce the build's salt split too
SALTED = dict(n_buckets=4, salt_df_threshold=40, salt_target=50)


def _table(d, name, key):
    import pyarrow.dataset as pads

    t = pads.dataset(os.path.join(d, name), format="parquet",
                     partitioning="hive").to_table().to_pandas()
    return (t.drop(columns=["seg"], errors="ignore")
            .sort_values(key).reset_index(drop=True))


@pytest.fixture(scope="module", params=[False, True],
                ids=["docs_freqs", "positions"])
def three_segments(request, spark, tmp_path_factory):
    """(index of 3 segments, fresh build of the whole corpus): part 1 is
    built with the salted config, parts 2 and 3 appended WITHOUT a cfg,
    as `tools/build_cli.py` appends."""
    cfg = BuildConfig(positions=request.param, **SALTED)
    full = gen_transcripts_df(spark, n_convs=24, seed=9)
    root = tmp_path_factory.mktemp("three_segments")
    inc, fresh = str(root / "inc"), str(root / "fresh")
    build_index(spark, full.filter("conv_id < 'conv00000008'"), inc, cfg)
    append_segment(spark, full.filter(
        "conv_id >= 'conv00000008' AND conv_id < 'conv00000016'"), inc)
    append_segment(spark, full.filter("conv_id >= 'conv00000016'"), inc)
    build_index(spark, full, fresh, cfg)
    return inc, fresh


def test_compaction_equals_fresh_build(spark, three_segments, tmp_path):
    """Compaction (no cfg: every index property comes from the manifest,
    salt_target included) writes the same index as one build of the
    whole corpus: postings row for row with payload bytes, term_stats,
    field_stats and the docmap."""
    from lucene_solr_spark.index.builder import compact_index

    inc, fresh = three_segments
    out = str(tmp_path / "compacted")
    compact_index(spark, inc, out)
    for name, key in (("postings", ["field", "term", "salt", "block_id"]),
                      ("term_stats", ["field", "term"]),
                      ("field_stats", ["field"]),
                      ("docmap", ["doc_id"])):
        want = _table(fresh, name, key)
        got = _table(out, name, key)[want.columns]
        pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                      obj=name)
    assert _table(out, "postings", ["field"])["salt"].max() > 0


def test_compaction_postings_plan(spark, three_segments, tmp_path):
    """Compaction writes postings through the build's path: the write
    runs one shuffle and no grouped-pandas operator (a grouped merge
    holds a hot term's whole list in one task), and its one sort above
    the merge is keyed (bucket, field, term, salt, block_id): it meets
    the writer's required ordering, so the plan keeps rows in key order
    inside every file."""
    from lucene_solr_spark.index.builder import compact_index

    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    sql_store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        return list(conv.asJava(sql_store.executionsList()))

    seen = {e.executionId() for e in executions()}
    out = str(tmp_path / "compacted")
    compact_index(spark, three_segments[0], out)
    target = os.path.join(out, "postings", "seg=0")
    writes = [e.physicalPlanDescription() for e in executions()
              if e.executionId() not in seen
              and "InsertIntoHadoopFsRelationCommand" in
              e.physicalPlanDescription()
              and f"path={target}]" in e.physicalPlanDescription()]
    assert len(writes) == 1, writes
    plan = writes[0]
    final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    assert final.count("Exchange (") == 1, plan
    assert "FlatMapGroupsIn" not in plan, plan
    above_merge = final.split("MapInPandas (")[0]
    sorts = re.findall(r"Sort \((\d+)\)", above_merge)
    assert len(sorts) == 1, plan
    args = plan.split(f"({sorts[0]}) Sort")[1].split("Arguments: ")[1]
    assert re.findall(r"(\w+)#\d+L? ASC", args.split("]")[0]) == [
        "bucket", "field", "term", "salt", "block_id"], plan


def test_compaction_refuses_its_source_dir(spark, tmp_path):
    """compact_index(d, d) would overwrite the docmap it still has to
    read: it is refused before anything is written, however the path
    is spelt."""
    from lucene_solr_spark.index.builder import compact_index

    d = str(tmp_path / "src")
    build_index(spark, gen_transcripts_df(spark, n_convs=3, seed=2), d,
                BuildConfig(n_buckets=2))

    def snapshot():
        out = {}
        for root, _, files in os.walk(d):
            for f in files:
                with open(os.path.join(root, f), "rb") as fh:
                    out[os.path.join(root, f)] = fh.read()
        return out

    before = snapshot()
    os.symlink(d, str(tmp_path / "alias"))
    for same in (d, d + "/", os.path.join(d, "..", "src"),
                 str(tmp_path / "alias")):
        with pytest.raises(ValueError):
            compact_index(spark, d, same)
    assert snapshot() == before


def test_index_batch_idempotent_per_batch_id(spark, tmp_path):
    """foreachBatch is at-least-once: replaying an already-applied
    batch_id (crash after the segment publish, before the Spark
    checkpoint commit) must be a no-op — no duplicate segment, stats
    unchanged (the applied_batches manifest ledger)."""
    from lucene_solr_spark.streaming.nrt import index_batch

    idx = str(tmp_path / "idem")
    b0 = gen_transcripts_df(spark, n_convs=6, seed=21)
    b1 = gen_transcripts_df(spark, n_convs=4, seed=22)
    cfg = BuildConfig(n_buckets=2)
    index_batch(spark, b0, idx, cfg, batch_id=0)
    index_batch(spark, b1, idx, cfg, batch_id=1)
    fs_before = read_field_stats(idx)
    segs_before = sorted(os.listdir(os.path.join(idx, "postings")))
    # replay both batches (at-least-once delivery)
    index_batch(spark, b0, idx, cfg, batch_id=0)
    index_batch(spark, b1, idx, cfg, batch_id=1)
    assert read_field_stats(idx) == fs_before
    assert sorted(os.listdir(os.path.join(idx, "postings"))) == segs_before
    # a replayed bootstrap whose ledger record was lost resumes the
    # build (no-op) instead of appending a duplicate segment
    from lucene_solr_spark.index import store

    m = store.read_manifest(idx)
    m["applied_batches"] = [1]  # simulate: batch 0's record lost
    store.write_manifest(idx, m)
    index_batch(spark, b1, idx, cfg, batch_id=1)  # 1 recorded -> skip
    assert read_field_stats(idx) == fs_before


def test_index_batch_after_build_index_appends(spark, tmp_path):
    """A batch fed to an index made by build_index (no bootstrap batch
    recorded) is appended, whatever its batch_id — it must not be taken
    for a replay of the bootstrap and dropped."""
    from lucene_solr_spark.streaming.nrt import index_batch

    idx = str(tmp_path / "built")
    b0 = gen_transcripts_df(spark, n_convs=6, seed=21)
    b1 = gen_transcripts_df(spark, n_convs=4, seed=22)
    cfg = BuildConfig(n_buckets=2)
    build_index(spark, b0, idx, cfg)
    n0, n1 = b0.count(), b1.count()
    index_batch(spark, b1, idx, cfg, batch_id=1)
    assert read_field_stats(idx)["max_doc"] == n0 + n1
    index_batch(spark, b1, idx, cfg, batch_id=1)  # replay: no-op
    assert read_field_stats(idx)["max_doc"] == n0 + n1


def test_index_batch_resumes_interrupted_bootstrap(spark, tmp_path,
                                                   monkeypatch):
    """A bootstrap batch that fails after its docmap commit is resumed
    by its replay — one segment, no duplicate rows — and the next batch
    appends."""
    from lucene_solr_spark.index import builder as B
    from lucene_solr_spark.index import store
    from lucene_solr_spark.streaming.nrt import index_batch

    idx = str(tmp_path / "boot")
    b0 = gen_transcripts_df(spark, n_convs=6, seed=21)
    b1 = gen_transcripts_df(spark, n_convs=4, seed=22)
    cfg = BuildConfig(n_buckets=2)

    def boom(*a, **kw):
        raise RuntimeError("simulated failure mid-bootstrap")

    orig = B._stage_postings
    monkeypatch.setattr(B, "_stage_postings", boom)
    with pytest.raises(RuntimeError):
        index_batch(spark, b0, idx, cfg, batch_id=0)
    assert store.stage_committed(idx, "docmap")
    assert store.read_manifest(idx).get("applied_batches", []) == []
    monkeypatch.setattr(B, "_stage_postings", orig)
    index_batch(spark, b0, idx, cfg, batch_id=0)  # replay resumes
    n0 = b0.count()
    assert read_field_stats(idx)["max_doc"] == n0
    assert sorted(os.listdir(os.path.join(idx, "postings"))) == ["seg=0"]
    assert store.read_manifest(idx)["applied_batches"] == [0]
    index_batch(spark, b1, idx, cfg, batch_id=1)
    assert read_field_stats(idx)["max_doc"] == n0 + b1.count()


def test_streaming_windowed_counts(spark, tmp_path):
    """Watermarked tumbling-window counts: with no late data the
    streamed result equals the batch groupBy twin."""
    from lucene_solr_spark.streaming.ops import windowed_counts

    full = gen_transcripts_df(spark, n_convs=8, seed=7)
    src = str(tmp_path / "wsrc")
    os.makedirs(src)
    full.coalesce(1).write.parquet(os.path.join(src, "f0"))
    stream = (
        spark.readStream.schema(full.schema)
        .parquet(os.path.join(src, "*"))
    )
    q = (
        windowed_counts(stream, by="role", window="10 minutes",
                        watermark="20 minutes")
        .writeStream.format("memory").queryName("wc")
        .outputMode("update").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = (
        spark.table("wc")
        .groupBy("win_start", "win_end", "role")
        .agg({"count_rows": "max"})
        .withColumnRenamed("max(count_rows)", "count_rows")
        .orderBy("win_start", "role")
        .collect()
    )
    import pyspark.sql.functions as F

    want = (
        full.groupBy(F.window("ts", "10 minutes").alias("win"), "role")
        .count()
        .select(F.col("win.start").alias("win_start"),
                F.col("win.end").alias("win_end"), "role",
                F.col("count").alias("count_rows"))
        .orderBy("win_start", "role")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_streaming_dedup_across_batches(spark, tmp_path):
    """Exactly-first dedup: a key arriving in batch 0 is suppressed
    when it re-arrives in batch 1 (GroupState persists across
    micro-batches), and in-batch duplicates collapse to one row."""
    import time

    from lucene_solr_spark.streaming.ops import streaming_dedup

    rows0 = [("s1", "c1", 0), ("s2", "c1", 1), ("s1", "c2", 0)]
    rows1 = [("s1", "c3", 0), ("s3", "c3", 1)]
    schema = "text_sha string, conv_id string, turn_idx int"
    src = str(tmp_path / "dsrc")
    os.makedirs(src)
    spark.createDataFrame(rows0, schema).coalesce(1).write.parquet(
        os.path.join(src, "f0")
    )
    stream = (
        spark.readStream.schema(
            spark.createDataFrame(rows0, schema).schema
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    q = (
        streaming_dedup(stream)
        .writeStream.format("memory").queryName("dd")
        .outputMode("update").start()
    )
    try:
        q.processAllAvailable()
        time.sleep(0.2)
        spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(
            os.path.join(src, "f1")
        )
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        (r["text_sha"], r["conv_id"]) for r in spark.table("dd").collect()
    )
    # s1 emitted once (batch 0), s2 once, s3 once (batch 1);
    # the batch-1 s1 re-arrival is suppressed by state
    assert [k for k, _ in got] == ["s1", "s2", "s3"]
    assert ("s1", "c3") not in got
