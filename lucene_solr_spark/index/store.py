"""Index store layout, manifest (segments_N analogue) and lineage.

Layout under <index_dir>/ (parquet; on a cluster this is an Iceberg table
family — the local sandbox has no Iceberg runtime, so we keep the same
snapshot/manifest discipline over parquet directories):

    docmap/        seg=<n>/... doc_id, conv_id, turn_idx, text_sha,
                   norm_byte, dl, text — the stored-fields table
                   (Lucene50StoredFieldsFormat analogue): join-back,
                   validation, norms, and the pass-2/resume source
    term_stats/    term, doc_freq, total_term_freq (exact rollup of
                   posting-block metadata across all segments)
    field_stats/   seg=<n>/... doc_count, sum_total_term_freq, max_doc
                   (one row per segment; global stats = sum over segments)
    postings/      seg=<n>/bucket=<b>/... term, salt, block_id, kind,
                   first_doc, last_doc, doc_count, sum_tf, payload,
                   norms_payload, pos_payload, max_tf, min_ntab
                   — the reader's sort key is (seg, salt, block_id),
                   which is global doc order (segments are docBase-
                   ordered, salts doc-range-ordered within a segment)
    deletes/       del-<epoch>.parquet (doc_id) — append-only tombstones
                   (liveDocs / Iceberg-delete-file analogue, masked at
                   collection; compaction applies them permanently)
    lineage/       segment_id, stage, term_range_lo, term_range_hi,
                   doc_count, bytes, status, detail
    _manifest.json snapshot of committed stages (segments_N analogue,
                   index/IndexFileNames.java:46-52; TopicStream-style
                   checkpoint bookkeeping, solr/solrj/.../io/stream/
                   TopicStream.java:76-110)

The manifest is written atomically (tmp + rename).  A re-run of the build
skips stages recorded as committed — the resume path (north_rule).
"""

from __future__ import annotations

import json
import os
import threading
import time

#: serializes manifest read-modify-write across driver threads (tail
#: stages commit concurrently)
_MANIFEST_LOCK = threading.Lock()

MANIFEST = "_manifest.json"
STAGES = ("docmap", "field_stats", "postings", "term_stats", "lineage")


def manifest_path(index_dir: str) -> str:
    return os.path.join(index_dir, MANIFEST)


def read_manifest(index_dir: str) -> dict:
    p = manifest_path(index_dir)
    if not os.path.exists(p):
        return {"version": 0, "committed": {}, "params": {}}
    with open(p) as f:
        return json.load(f)


def write_manifest(index_dir: str, manifest: dict) -> None:
    tmp = manifest_path(index_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, manifest_path(index_dir))


def commit_stage(index_dir: str, stage: str, info: dict | None = None) -> dict:
    """Atomically record a stage as committed (tmp+rename, like the
    reference's two-phase segments_N publish); safe under concurrent
    driver threads."""
    with _MANIFEST_LOCK:
        m = read_manifest(index_dir)
        m["version"] += 1
        m["committed"][stage] = {"at": time.time(), **(info or {})}
        write_manifest(index_dir, m)
        return m


def stage_committed(index_dir: str, stage: str) -> bool:
    return stage in read_manifest(index_dir)["committed"]


def record_batch(index_dir: str, batch_id: int) -> None:
    """Record a streaming batch as applied (idempotent-sink ledger; see
    streaming/nrt.py).  Appends record it atomically with the segment
    publish inside append_segment; this helper covers the bootstrap."""
    with _MANIFEST_LOCK:
        m = read_manifest(index_dir)
        m["applied_batches"] = sorted(
            set(m.get("applied_batches", [])) | {int(batch_id)}
        )
        write_manifest(index_dir, m)


def record_bootstrap(index_dir: str, batch_id: int) -> None:
    """Record which streaming batch bootstraps the index, BEFORE its
    build starts: only a replay of that batch may resume the build
    (streaming/nrt.py)."""
    with _MANIFEST_LOCK:
        m = read_manifest(index_dir)
        m["bootstrap_batch"] = int(batch_id)
        write_manifest(index_dir, m)


def set_params(index_dir: str, params: dict) -> None:
    m = read_manifest(index_dir)
    m["params"].update(params)
    write_manifest(index_dir, m)


def get_params(index_dir: str) -> dict:
    return read_manifest(index_dir)["params"]
