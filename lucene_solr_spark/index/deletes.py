"""Deletes / live docs — the tombstone layer.

The reference tracks deletions as a per-segment liveDocs bitset
(codecs/lucene50/Lucene50LiveDocsFormat.java) applied at COLLECTION
time: postings still iterate deleted docs, collection skips them, and
collection statistics keep counting them until a merge rewrites the
segment (index/IndexWriter.java deleteDocuments + MergePolicy).

Spark-first restatement (the Iceberg delete-file mapping from
SURVEY.md §1.1): tombstones are an append-only parquet table
`<index_dir>/deletes/` of docIDs, published atomically (tmp+rename,
per-epoch file) and recorded in the manifest.  Searchers mask results
against the tombstone set (scores and stats unchanged — exactly the
reference's pre-merge semantics); `compact_index` applies tombstones
PERMANENTLY (drops the postings, rewrites docmap, recomputes stats) —
the merge-applies-deletes discipline.
"""

from __future__ import annotations

import os

import numpy as np

from . import store


def _deletes_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "deletes")


def delete_docs(index_dir: str, doc_ids) -> dict:
    """Append a tombstone batch (idempotent for already-deleted ids).
    Returns the manifest after the atomic publish."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids = np.unique(np.asarray(list(doc_ids), dtype=np.int64))
    d = _deletes_dir(index_dir)
    os.makedirs(d, exist_ok=True)
    m = store.read_manifest(index_dir)
    epoch = int(m.get("delete_epoch", 0)) + 1
    tmp = os.path.join(d, f".del-{epoch}.tmp")
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64())}), tmp)
    os.replace(tmp, os.path.join(d, f"del-{epoch}.parquet"))
    m["delete_epoch"] = epoch
    store.write_manifest(index_dir, m)
    return m


def read_deleted(index_dir: str, among=None) -> np.ndarray:
    """Sorted unique deleted docIDs (empty array when none); `among`
    restricts the read to those ids, a filter pushed into the scan."""
    import glob

    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(_deletes_dir(index_dir), "del-*.parquet"))
    if not files or among is not None and not len(among):
        return np.empty(0, dtype=np.int64)
    filters = None if among is None else [("doc_id", "in", list(among))]
    parts = [
        pq.read_table(f, columns=["doc_id"], filters=filters)
        .column("doc_id").to_numpy()
        for f in files
    ]
    return np.unique(np.concatenate(parts)).astype(np.int64)
