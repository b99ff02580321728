"""Background merge policy — decides WHEN/WHAT to compact.

Reference: TieredMergePolicy (index/TieredMergePolicy.java:45-48,
75-86, 263-272) scores candidate merges by segment count per tier,
size skew, and reclaimable deletions (reclaimDeletesWeight), and
ConcurrentMergeScheduler runs them in the background. This engine's
merge unit is the NRT delta generation (streaming/nrt.py) and its
merge primitive is the one-pass distributed compact (index/compact.py),
so the policy reduces to two triggers:

- generation pressure: too many delta generations fan the per-query
  scatter (segsPerTier analog),
- delete pressure: tombstoned docs above a fraction of the corpus
  waste scan work and skew df stats (reclaimDeletesWeight analog).

`maybe_compact` evaluates the triggers and runs the compaction;
`compact_in_place` swaps the result in via directory rename. NOTE:
unlike Lucene's segments_N indirection, the swap is path-based, so
searchers opened BEFORE the swap must be discarded — their lazy Spark
plans hold file paths under `index_dir`, which resolve to the NEW
files (or fail) after the rename. The swap refreshes the data Spark
cached over `index_dir`, so the earlier searchers' pinned frames never
answer a searcher opened after it. The pre-swap directory is kept as
`<index_dir>.old.<ts>` for manual rollback only, not as a live
snapshot for open readers.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import SparkSession


def index_health(spark: SparkSession, index_dir: str) -> dict:
    """Current maintenance-relevant stats of an index directory."""
    from lucene_solr_spark.search.searcher import IndexSearcher

    s = IndexSearcher.open(spark, index_dir)
    gens = s.manifest.get("delta_generations") or []
    base_docs = s.manifest["max_doc"]
    delta_docs = sum(int(g["n_docs"]) for g in gens)
    n_deleted = (
        int(s.deleted_df().count()) if s._has_tombstones() else 0
    )
    total = base_docs + delta_docs
    return {
        "n_generations": len(gens),
        "base_docs": int(base_docs),
        "delta_docs": int(delta_docs),
        "n_deleted": n_deleted,
        "deleted_frac": (n_deleted / total) if total else 0.0,
        "delta_frac": (delta_docs / total) if total else 0.0,
    }


def maybe_compact(
    spark: SparkSession,
    index_dir: str,
    out_dir: str,
    max_generations: int = 4,
    max_deleted_frac: float = 0.10,
    max_delta_frac: float = 0.25,
) -> dict | None:
    """Compact iff a policy trigger fires; returns the new manifest or
    None when the index is healthy (no work — the TieredMergePolicy
    'no merge necessary' outcome)."""
    from lucene_solr_spark.index.compact import compact

    h = index_health(spark, index_dir)
    fire = (
        h["n_generations"] > max_generations
        or h["deleted_frac"] > max_deleted_frac
        or h["delta_frac"] > max_delta_frac
    )
    if not fire:
        return None
    return compact(spark, index_dir, out_dir)


def compact_in_place(spark: SparkSession, index_dir: str, **policy) -> bool:
    """maybe_compact + path swap of the index directory. Returns
    True when a compaction ran.

    CONTRACT: discard every IndexSearcher opened on `index_dir` before
    calling this. The swap is a directory rename, not a manifest
    indirection — pre-swap searchers' lazy plans reference file paths
    under `index_dir` and would read the replaced files (or hit
    FileNotFound) after the swap. The pre-compaction directory is kept
    as `<index_dir>.old.<ts>` for manual rollback / debugging only."""
    tmp = f"{index_dir}.compacting.{int(time.time())}"
    m = maybe_compact(spark, index_dir, tmp, **policy)
    if m is None:
        shutil.rmtree(tmp, ignore_errors=True)
        return False
    old = f"{index_dir}.old.{int(time.time())}"
    os.rename(index_dir, old)
    os.rename(tmp, index_dir)
    # Spark matches cached plans by file path: a frame pinned by an
    # earlier searcher would answer a new searcher's identical plan from
    # the pre-swap index. Drop the data cached over `index_dir` (each
    # such plan re-lists its files when next used).
    spark.catalog.refreshByPath(index_dir)
    return True
