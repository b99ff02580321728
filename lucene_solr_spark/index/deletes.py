"""Delete / update support (live-docs semantics).

Reference model: deletes are a sidecar liveDocs bitset applied at the
scorer level (codecs/lucene50/Lucene50LiveDocsFormat.java, the
`liveDocs` argument threaded through every Scorer); collection
statistics (maxDoc, docFreq, sumTotalTermFreq) deliberately STILL
include deleted docs until a merge rewrites the segments
(BM25Similarity uses maxDoc, not numDocs — SURVEY §2.6). We reproduce
exactly that: deleted keys accumulate in a tombstone table; the
searcher resolves them to docIDs and filters candidates; scores of
surviving docs are bit-unchanged.

`update_documents` = delete-by-key + NRT append of the new versions
(IndexWriter.updateDocument semantics, index/IndexWriter.java:1456-1473).

Scale shape: tombstones are a (key, watermark) table; the searcher
resolves them to docIDs DISTRIBUTIVELY (doc_map ⋈ tombstones, see
IndexSearcher.deleted_df) and attaches each shard's packed deleted
bitmap to that shard's cogrouped norms row — the per-shard
liveDocs-bitmap analog; no O(deleted) driver state anywhere on the
query path.

Point-in-time: like a SegmentReader's liveDocs, a searcher's deletes
are fixed at open — it reads the tombstone table once, and preload()
pins the resolved bitmaps with the norms. A searcher opened before
`delete_by_keys` / `update_documents` keeps answering as of its open
time; open a new searcher to see later writes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _tomb_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "tombstones")


def _current_total_docs(manifest: dict) -> int:
    return manifest["max_doc"] + sum(
        g["n_docs"] for g in manifest.get("delta_generations", [])
    )


def delete_by_keys(spark: SparkSession, index_dir: str, keys: list) -> int:
    """Append delete-by-uniqueKey tombstones. Returns total tombstones.

    Each tombstone carries a docID watermark (total docs at delete
    time): it kills only doc versions that existed when the delete was
    issued — a later re-add (update) gets a docID above the watermark
    and survives (Lucene's delete-then-add sequencing on the in-order
    update stream, BufferedUpdates delGen semantics)."""
    import json

    with open(os.path.join(index_dir, "manifest.json")) as fh:
        manifest = json.load(fh)
    key_type = "string" if manifest.get("key_kind") == "s" else "long"
    wm = _current_total_docs(manifest)
    df = spark.createDataFrame(
        [(k, wm) for k in keys], f"key {key_type}, wm long"
    )
    df.write.mode("append").parquet(_tomb_dir(index_dir))
    return spark.read.parquet(_tomb_dir(index_dir)).count()


def update_documents(
    spark: SparkSession,
    index_dir: str,
    batch: DataFrame,
    batch_id: int | str,
) -> None:
    """updateDocument = delete-by-key + NRT append of the new docs.

    The tombstones are written straight from the batch DataFrame (one
    distributed projection, no driver-side key collection); the same
    pass measures the batch (rows, text characters) for the NRT flush,
    which builds a small batch in the driver and a large one with the
    distributed `build_index`. Idempotent per batch_id, like
    `append_batch`: a batch_id the manifest already lists as a delta
    generation writes nothing."""
    import json

    from pyspark.sql import Observation

    from lucene_solr_spark.streaming.nrt import (
        _append,
        _base_config,
        _size_columns,
    )

    with open(os.path.join(index_dir, "manifest.json")) as fh:
        manifest = json.load(fh)
    committed = {g["batch_id"] for g in manifest.get("delta_generations") or []}
    if str(batch_id) in committed:
        # a retry (foreachBatch re-delivery, tlog replay) of a committed
        # update writes nothing: its tombstones would take their
        # watermark from a manifest that already counts the new
        # version, and kill it
        return
    id_col = manifest["config"]["id_col"]
    key_type = "string" if manifest.get("key_kind") == "s" else "long"
    wm = _current_total_docs(manifest)
    # the tombstone write also measures the batch for the flush (an
    # observed metric, not a second pass over the batch)
    size = Observation()
    batch.observe(size, *_size_columns(_base_config(manifest))).select(
        F.col(id_col).cast(key_type).alias("key"),
        F.lit(wm).cast("long").alias("wm"),
    ).write.mode("append").parquet(_tomb_dir(index_dir))
    got = size.get
    _append(spark, batch, index_dir, batch_id, (got["rows"], got["chars"] or 0))
