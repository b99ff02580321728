"""Near-real-time incremental indexing (Structured Streaming sink).

Reference semantics (SURVEY.md §2.13): Lucene/Solr "streaming" is
incremental indexing with NRT visibility — new segments become
searchable on reader reopen (index/DirectoryReader.open(IndexWriter),
search/SearcherManager.java:58); durability comes from the transaction
log (solr/core/.../update/UpdateLog.java:71-131) whose replay contract
we mirror with idempotent, fingerprinted batch appends.

Spark mapping:
- a micro-batch == one flush generation: each batch builds NEW segments
  (fresh g ids beyond the existing range), writes postings/doc_map/norms
  and its term dictionary under `delta/batch_<id>/`, and bumps the
  manifest (the segments_N commit analog — last write wins, readers see
  a consistent snapshot because all data files land before the manifest
  swap, exactly Lucene's file-then-commit ordering,
  index/IndexWriter.java:178-186).
- Small batches flush in process, like a DWPT inverting its in-RAM docs
  (index/DocumentsWriterPerThread.java): one aggregate over the raw
  batch counts its rows and the characters of its text fields
  (`update_documents` observes both on its tombstone write); at or
  below both caps (`DRIVER_FLUSH_MAX_ROWS`, `DRIVER_FLUSH_MAX_CHARS`)
  one Spark job runs the JVM analysis and collects the analyzed rows
  as Arrow, and the driver runs the same segment builder, merger,
  doc_map and norms kernels as `build_index` and writes the same
  tables with pyarrow (`build_collected`). Through Spark, a mini-build
  runs six phases and about 140 tasks, a fixed cost that dominates a
  flush of a few hundred docs. A batch above either cap runs the
  distributed `build_index` (its applyInArrow segment stage) instead,
  without analyzing anything in the driver first.
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

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from lucene_solr_spark.index.builder import (
    IndexConfig,
    PhaseTimer,
    build_collected,
    build_index,
    collect_segment_input,
)

# Largest batch flushed in the driver, in rows and in characters of
# its text fields. The driver holds the analyzed tokens (about 100
# bytes of RSS each, positions on), and every token takes at least one
# character, so the character cap bounds the driver's memory whatever
# the analyzer. append_batch on a 4-core host (local[4], 2 GB driver
# heap), driver vs distributed wall time and the growth of the
# driver's RSS, by text kind (tokens per character):
#   perfbench pages (0.17): 4M chars 2.3 vs 7.5 s (+0.07 GB), 16M
#     3.0-3.3 vs 8.3-8.4 s (+0.15-0.2 GB);
#   edge n-grams (0.71): 4M 8.0 vs 15.5 s (+0.34 GB), 8M 9.2 vs 15.5 s
#     (+0.57 GB);
#   CJK ideographs, standard analyzer (1.0): 4M 5.8 vs 12.9 s (+0.55
#     GB), 8M 10.8 vs 17.4 s (+0.81 GB, 84 MB of collected Arrow), 16M
#     19.4 vs 29.2 s (+1.9 GB).
# The driver path is faster at every size; the character cap keeps its
# extra memory under about 0.8 GB. Each row also carries a key and a
# doc_map entry that the character count does not see (an empty text
# counts 0); the row cap bounds those: 61 pages 0.5-0.8 vs 7.4-8.7 s,
# 40k pages 5.4-5.6 vs 10.8-11.3 s, 66k three-word docs 3.2 vs 8.6 s
# (+0.07 GB).
DRIVER_FLUSH_MAX_ROWS = 50_000
DRIVER_FLUSH_MAX_CHARS = 8_000_000


def _manifest_path(index_dir: str) -> str:
    return os.path.join(index_dir, "manifest.json")


def _base_config(manifest: dict) -> IndexConfig:
    """The IndexConfig a manifest was built with."""
    # only IndexConfig fields: older manifests carry retired keys
    # (e.g. "engine") that the dataclass no longer accepts
    known = {f.name for f in dataclasses.fields(IndexConfig)}
    return IndexConfig(**{k: v for k, v in manifest["config"].items() if k in known})


def _size_columns(cfg: IndexConfig) -> list[Column]:
    """Aggregate columns `rows` and `chars` (characters of the text
    fields) of a batch: the size the driver-flush caps are checked on."""
    chars = sum(
        F.coalesce(F.length(F.col(c).cast("string")), F.lit(0))
        for c in [cfg.text_col, *cfg.extra_fields]
    )
    return [F.count(F.lit(1)).alias("rows"), F.sum(chars).alias("chars")]


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
    return _append(spark, batch, index_dir, batch_id, None)


def _append(
    spark: SparkSession,
    batch: DataFrame,
    index_dir: str,
    batch_id: int | str,
    size: tuple[int, int] | None,
) -> dict:
    """`append_batch` with the batch's (rows, chars) when the caller
    already has them (`update_documents` observes them on its tombstone
    write); with None, one aggregate over the batch measures them."""
    gen_dir = os.path.join(index_dir, "delta", f"batch_{batch_id}")
    with open(_manifest_path(index_dir)) as fh:
        manifest = json.load(fh)
    if not os.path.exists(_manifest_path(gen_dir)):
        base_cfg = _base_config(manifest)
        # the raw batch's size picks the path before anything is analyzed
        n_rows, n_chars = size or batch.agg(*_size_columns(base_cfg)).first()
        if n_rows == 0:
            return manifest
        # delta generations use few segments (mini-flush); every other
        # setting (analyzer, fields, positions, payloads, synonyms,
        # codec) is the base index's
        delta_cfg = dataclasses.replace(
            base_cfg,
            n_shards=max(1, min(base_cfg.n_shards, 2)),
            segs_per_shard=1,
            sharding="hash",  # range_int would need the batch's key range
            extra_fields=tuple(base_cfg.extra_fields),
        )
        if n_rows <= DRIVER_FLUSH_MAX_ROWS and n_chars <= DRIVER_FLUSH_MAX_CHARS:
            timer = PhaseTimer()
            sc = spark.sparkContext
            desc = sc.getLocalProperty("spark.job.description")
            sc.setJobDescription(f"nrt flush {batch_id}: analyze batch")
            try:
                rows, key_kind = collect_segment_input(batch, delta_cfg)
            finally:
                sc.setJobDescription(desc)
            build_collected(rows, gen_dir, delta_cfg, key_kind, timer)
        else:
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
