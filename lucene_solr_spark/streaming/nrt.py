"""Near-real-time incremental indexing (Structured Streaming sink).

Reference semantics (SURVEY.md §2.13): Lucene/Solr "streaming" is
incremental indexing with NRT visibility — new segments become
searchable on reader reopen (index/DirectoryReader.open(IndexWriter),
search/SearcherManager.java:58); durability comes from the transaction
log (solr/core/.../update/UpdateLog.java:71-131) whose replay contract
we mirror with idempotent, fingerprinted batch appends.

Spark mapping:
- a micro-batch == one flush generation: each batch builds NEW segments
  (fresh g ids beyond the existing range) with the same applyInArrow
  segment kernel, appends postings/doc_map/norms partitions, and
  bumps the manifest (the segments_N commit analog — last write wins,
  readers see a consistent snapshot because all data files land before
  the manifest swap, exactly Lucene's file-then-commit ordering,
  index/IndexWriter.java:178-186).
- `index_stream` wires it as foreachBatch; the Structured Streaming
  checkpoint gives exactly-once batch ids, and `append_batch` is
  additionally idempotent by batch fingerprint (tlog replay safety:
  re-delivering a batch is a no-op).
- Merge economics: appended mini-segments are NOT merged into the base
  shards (TieredMergePolicy would; our one-shot global merge can be
  re-run offline). Queries scatter over base + delta shards exactly
  like Lucene searches flushed-but-unmerged segments.
"""

from __future__ import annotations

import dataclasses
import json
import os

from pyspark.sql import DataFrame, SparkSession

from lucene_solr_spark.index.builder import IndexConfig, build_index


def _manifest_path(index_dir: str) -> str:
    return os.path.join(index_dir, "manifest.json")


def append_batch(
    spark: SparkSession,
    batch: DataFrame,
    index_dir: str,
    batch_id: int | str,
) -> dict:
    """Append one micro-batch as a delta index generation.

    Idempotent per batch_id: a generation directory that already has a
    manifest is skipped (tlog replay / foreachBatch retry safety).
    Returns the updated top-level manifest."""
    gen_dir = os.path.join(index_dir, "delta", f"batch_{batch_id}")
    with open(_manifest_path(index_dir)) as fh:
        manifest = json.load(fh)
    if not os.path.exists(_manifest_path(gen_dir)):
        # only IndexConfig fields: older manifests carry retired keys
        # (e.g. "engine") that the dataclass no longer accepts
        known = {f.name for f in dataclasses.fields(IndexConfig)}
        base_cfg = IndexConfig(
            **{k: v for k, v in manifest["config"].items() if k in known}
        )
        n = batch.count()
        if n == 0:
            return manifest
        # delta generations use few segments (mini-flush); every other
        # setting (analyzer, fields, positions, payloads, synonyms,
        # codec) is the base index's
        delta_cfg = dataclasses.replace(
            base_cfg,
            n_shards=max(1, min(base_cfg.n_shards, 2)),
            segs_per_shard=1,
            sharding=base_cfg.sharding if base_cfg.sharding != "range_int" else "hash",
            extra_fields=tuple(base_cfg.extra_fields),
        )
        build_index(spark, batch, gen_dir, delta_cfg, resume=False)
    # register generation in the top-level manifest (commit point)
    with open(_manifest_path(gen_dir)) as fh:
        gen_manifest = json.load(fh)
    gens = manifest.setdefault("delta_generations", [])
    if str(batch_id) not in [g["batch_id"] for g in gens]:
        gens.append(
            {
                "batch_id": str(batch_id),
                "dir": os.path.relpath(gen_dir, index_dir),
                "n_docs": gen_manifest["max_doc"],
            }
        )
        with open(_manifest_path(index_dir), "w") as fh:
            json.dump(manifest, fh, indent=1)
    return manifest


def index_stream(
    stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
):
    """Structured Streaming writer: incremental NRT index appends.

    Usage:
        q = index_stream(readStream_df, ix_dir, ckpt).start()
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        append_batch(batch_df.sparkSession, batch_df, index_dir, batch_id)

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
