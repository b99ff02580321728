"""Build resilience: hot-term salted merge, checkpoint resume,
idempotent re-runs."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _results(spark, ix):
    from lucene_solr_spark.search.query import BooleanAnd, BooleanOr, TermQuery
    from lucene_solr_spark.search.searcher import IndexSearcher

    s = IndexSearcher(spark, ix)
    out = []
    for q in [
        TermQuery("table"),
        BooleanAnd(("scan", "table")),
        BooleanOr(("customer", "spark", "vector")),
    ]:
        out.append([(r.doc_id, r.score) for r in s.search(q, k=25).collect()])
    return out


def test_hot_term_salted_merge_identical(spark, tmp_path):
    """Forcing the skew path (every term 'hot' -> doc-range parts,
    salted two-level reduce) must not change any result."""
    from lucene_solr_spark.index.builder import IndexConfig, build_index
    from lucene_solr_spark.index.check import check_index

    src = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    plain = str(tmp_path / "plain")
    salted = str(tmp_path / "salted")
    build_index(spark, src, plain,
                IndexConfig(n_shards=2, segs_per_shard=4), resume=False)
    build_index(
        spark, src, salted,
        IndexConfig(n_shards=2, segs_per_shard=4,
                    hot_seg_df=1, hot_segs_per_part=2),  # everything is hot
        resume=False,
    )
    # the salted index really does split postings into parts
    parts = (
        spark.read.parquet(f"{salted}/postings")
        .agg(F.max("part")).first()[0]
    )
    assert parts >= 1
    assert _results(spark, plain) == _results(spark, salted)
    check_index(spark, salted, sample_terms=40)


def test_resume_skips_built_segments_and_is_idempotent(spark, tmp_path):
    """Second build with resume=True must skip all segments (checkpoint
    hits) and produce an identical index — the tlog-replay /
    idempotent-snapshot contract."""
    from lucene_solr_spark.index.builder import IndexConfig, build_index

    src = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    ix = str(tmp_path / "ix")
    cfg = IndexConfig(n_shards=2, segs_per_shard=4)
    m1 = build_index(spark, src, ix, cfg, resume=True)
    r1 = _results(spark, ix)
    # re-run over the same output dir: all segments checkpointed
    m2 = build_index(spark, src, ix, cfg, resume=True)
    assert m2["max_doc"] == m1["max_doc"]
    assert m2["seg_bases"] == m1["seg_bases"]
    assert _results(spark, ix) == r1


def test_resume_completes_partial_build(spark, tmp_path):
    """Simulated mid-build failure: keep only a subset of segment
    checkpoints, resume, and require a complete correct index."""
    from lucene_solr_spark.index.builder import IndexConfig, build_index

    src = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    full = str(tmp_path / "full")
    partial = str(tmp_path / "partial")
    cfg = IndexConfig(n_shards=2, segs_per_shard=4)
    build_index(spark, src, full, cfg, resume=False)
    want = _results(spark, full)

    # simulate a crash after 4 of 8 segments: run the full build, then
    # delete half the checkpoint rows + their segment rows and resume
    build_index(spark, src, partial, cfg, resume=False)
    ck = spark.read.parquet(f"{partial}/checkpoints")
    kept = ck.where(F.col("g") < 4)
    kept.write.mode("overwrite").parquet(f"{partial}/checkpoints_tmp")
    import shutil

    shutil.rmtree(f"{partial}/checkpoints")
    shutil.move(f"{partial}/checkpoints_tmp", f"{partial}/checkpoints")
    # segments parquet must match the surviving checkpoints for the
    # resume contract: drop posting rows of the "lost" segments too
    segs = spark.read.parquet(f"{partial}/segments").where(F.col("g") < 4)
    segs.write.mode("overwrite").parquet(f"{partial}/segments_tmp")
    shutil.rmtree(f"{partial}/segments")
    shutil.move(f"{partial}/segments_tmp", f"{partial}/segments")

    build_index(spark, src, partial, cfg, resume=True)
    assert _results(spark, partial) == want


def test_build_without_tokens_writes_empty_tables(spark, tmp_path, monkeypatch):
    """Input where no doc yields a token (empty text, stopwords only):
    a base build and a distributed delta build write schema-bearing
    empty postings / term_stats / term_stats_rev tables, and the index
    opens and answers an empty top-k."""
    from lucene_solr_spark.index.builder import IndexConfig, build_index
    from lucene_solr_spark.search.query import TermQuery
    from lucene_solr_spark.search.searcher import IndexSearcher
    from lucene_solr_spark.streaming import nrt

    rows = [(0, ""), (1, "the a"), (2, "a")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "ix")
    build_index(spark, docs, out, IndexConfig(n_shards=2, segs_per_shard=1))
    monkeypatch.setattr(nrt, "DRIVER_FLUSH_MAX_ROWS", 0)
    nrt.append_batch(spark, docs, out, "empty")
    s = IndexSearcher.open(spark, out)
    assert s.max_doc == 6
    for table in ("postings", "term_stats", "term_stats_rev"):
        assert spark.read.parquet(f"{out}/{table}").count() == 0
    assert s.search(TermQuery("table"), k=5).collect() == []
