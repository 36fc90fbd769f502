"""Near-real-time incremental indexing via Structured Streaming.

The reference's NRT machinery — SearcherManager / ControlledRealTime
ReopenThread micro-batch visibility of freshly flushed segments
(search/SearcherManager.java, ControlledRealTimeReopenThread.java) and
TopicStream's checkpointed incremental pull
(solr/solrj/.../io/stream/TopicStream.java:76-110) — maps onto
Structured Streaming foreachBatch: every micro-batch of transcript rows
becomes ONE new immutable segment appended with
`index.builder.append_segment` (docBase-offset docIDs, per-segment
stats, manifest publish), and a reopened LocalSearcher sees it — the
segments_N reopen discipline.

Delivery semantics: foreachBatch is AT-LEAST-ONCE, so the sink must be
idempotent per batch_id to give effectively-once segment appends.  The
manifest records every applied batch_id in the SAME atomic write that
publishes the segment (`applied_batches`); a replayed batch — crash
after the append but before the Spark checkpoint commit — is detected
and skipped.  The bootstrap batch_id is recorded (`bootstrap_batch`)
before the bootstrap build starts, and only a batch with that id takes
the bootstrap branch: a replay over a PARTIALLY committed bootstrap
resumes the same batch's build, while any other batch — including the
first batch fed to an index made by `build_index` — appends a segment.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..index import store
from ..index.builder import BuildConfig, append_segment, build_index


def index_batch(spark: SparkSession, batch_df: DataFrame, index_dir: str,
                cfg: BuildConfig | None = None,
                batch_id: int | None = None) -> None:
    """Index one micro-batch idempotently.

    - batch_id already recorded in the manifest -> no-op (replay).
    - nothing built or started yet, or batch_id is the recorded bootstrap
      batch -> (re)run the staged build (resume=True picks up a partially
      committed prior attempt of the SAME batch — stages are
      deterministic functions of the batch).
    - otherwise -> append one new segment, recording batch_id atomically
      with the segment publish.

    Without a batch_id, a batch bootstraps until a build has completed
    and appends afterwards.  Empty batches are skipped without recording
    (nothing to replay).
    """
    if not batch_df.take(1):
        return
    m = store.read_manifest(index_dir)
    applied = m.get("applied_batches", [])
    if batch_id is None:
        bootstrap = not applied and "lineage" not in m["committed"]
    elif int(batch_id) in applied:
        return  # replayed batch: the segment is already published
    else:
        boot = m.get("bootstrap_batch")
        bootstrap = boot == int(batch_id) or (
            boot is None and not m["committed"]
        )
    if not bootstrap:
        append_segment(spark, batch_df, index_dir, cfg, batch_id=batch_id)
        return
    # bootstrap — or a REPLAY of the bootstrap batch whose record didn't
    # land: resume=True re-runs only uncommitted stages (a fully built
    # index makes this a no-op), so the replay can never append the
    # bootstrap's rows as a duplicate segment
    if batch_id is not None:
        os.makedirs(index_dir, exist_ok=True)
        store.record_bootstrap(index_dir, int(batch_id))
    build_index(spark, batch_df, index_dir, cfg)
    if batch_id is not None:
        store.record_batch(index_dir, int(batch_id))


def start_incremental_indexing(spark: SparkSession, stream_df: DataFrame,
                               index_dir: str, checkpoint_dir: str,
                               cfg: BuildConfig | None = None,
                               available_now: bool = True,
                               interval: str | None = None):
    """Attach the incremental indexer to a streaming DataFrame of
    transcripts.  Returns the StreamingQuery; with available_now=True it
    drains the source then stops (micro-batch catch-up mode), otherwise
    it runs continuously.  `interval` (e.g. "30 seconds") runs it as a
    fixed-cadence daemon — the DaemonStream analogue
    (solr/solrj/.../io/stream/DaemonStream.java re-executes its inner
    stream on an interval; here the trigger cadence plays that role)."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        index_batch(spark, batch_df, index_dir, cfg, batch_id=batch_id)

    writer = (
        stream_df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    if interval is not None:
        writer = writer.trigger(processingTime=interval)
    elif available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
