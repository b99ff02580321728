"""Delete / update tests (live-docs semantics)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


@pytest.fixture()
def del_index(spark, tmp_path):
    from lucene_solr_spark.index.builder import IndexConfig, build_index

    out = str(tmp_path / "ix")
    src = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    build_index(spark, src, out, IndexConfig(n_shards=2, segs_per_shard=2))
    return out


def test_delete_removes_docs_scores_unchanged(spark, del_index):
    """Deleted docs vanish from every result; surviving docs keep
    bit-identical scores (stats still count deleted docs until merge,
    exactly like Lucene's liveDocs)."""
    from lucene_solr_spark.index.deletes import delete_by_keys
    from lucene_solr_spark.search.query import BooleanAnd, BooleanOr, TermQuery
    from lucene_solr_spark.search.searcher import IndexSearcher

    s0 = IndexSearcher(spark, del_index)
    before = {}
    for name, q in [
        ("t", TermQuery("table")),
        ("a", BooleanAnd(("scan", "table"))),
        ("o", BooleanOr(("customer", "spark", "vector"))),
    ]:
        before[name] = [(r.doc_id, r.score) for r in s0.search(q, k=None).collect()]

    victims = [d for d, _ in before["t"][:3]]
    delete_by_keys(spark, del_index, victims)

    s1 = IndexSearcher(spark, del_index)
    for name, q in [
        ("t", TermQuery("table")),
        ("a", BooleanAnd(("scan", "table"))),
        ("o", BooleanOr(("customer", "spark", "vector"))),
    ]:
        after = [(r.doc_id, r.score) for r in s1.search(q, k=None).collect()]
        want = [(d, sc) for d, sc in before[name] if d not in victims]
        assert after == want, name
    # pruned paths honor deletes too
    top = s1.search(TermQuery("table"), k=5, prune=True).collect()
    assert all(r.doc_id not in victims for r in top)


def test_delete_victim_matching_or_dismax(spark, del_index):
    """Tombstoned docs that MATCH a disjunction clause must not corrupt
    other docs' scores (regression: scattering per-term scores into a
    liveDocs-filtered union misaligned the accumulators and inflated
    minShouldMatch counts)."""
    from lucene_solr_spark.index.deletes import delete_by_keys
    from lucene_solr_spark.search.query import (
        BooleanOr,
        DisjunctionMax,
        TermQuery,
    )
    from lucene_solr_spark.search.searcher import IndexSearcher

    s0 = IndexSearcher(spark, del_index)
    queries = {
        "or2": BooleanOr(("customer", "table")),
        "or_msm": BooleanOr(("customer", "table", "scan"), min_should_match=2),
        "dismax": DisjunctionMax(("customer", "table"), tie=0.3),
    }
    before = {
        n: [(r.doc_id, r.score)
            for r in s0.search(q, k=None, prune=False).collect()]
        for n, q in queries.items()
    }
    # delete docs that match "table": its doc arrays now carry tombstones
    victims = [r.doc_id for r in s0.search(TermQuery("table"), k=5).collect()]
    delete_by_keys(spark, del_index, victims)
    s1 = IndexSearcher(spark, del_index)
    for n, q in queries.items():
        want = [(d, sc) for d, sc in before[n] if d not in victims]
        after = [(r.doc_id, r.score)
                 for r in s1.search(q, k=None, prune=False).collect()]
        assert after == want, n
        pruned = [(r.doc_id, r.score)
                  for r in s1.search(q, k=20, prune=True).collect()]
        assert pruned == want[:20], n


def test_update_documents_replaces_content(spark, del_index):
    from lucene_solr_spark.index.deletes import update_documents
    from lucene_solr_spark.search.query import TermQuery
    from lucene_solr_spark.search.searcher import IndexSearcher

    s0 = IndexSearcher(spark, del_index)
    old_hits = {r.doc_id for r in s0.search(TermQuery("table"), k=None).collect()}
    victim = min(old_hits)

    newdoc = spark.createDataFrame(
        [(victim, "completely newterm content here")], "doc_id long, text string"
    )
    update_documents(spark, del_index, newdoc, batch_id="u1")

    s1 = IndexSearcher.open(spark, del_index)
    # old content of the victim no longer matches
    now = {r.doc_id for r in s1.search(TermQuery("table"), k=None).collect()}
    assert victim not in now
    assert now == old_hits - {victim}
    # new content is searchable under a remapped (delta) docID
    got = s1.search_with_keys(TermQuery("newterm"), k=5).collect()
    assert len(got) == 1
    assert got[0].key == victim
    assert got[0].doc_id >= s0.max_doc


def test_delete_then_readd_watermark(spark, del_index):
    """A delete only kills versions that existed at delete time; a
    subsequent re-add of the same key survives."""
    from lucene_solr_spark.index.deletes import delete_by_keys
    from lucene_solr_spark.search.query import TermQuery
    from lucene_solr_spark.search.searcher import IndexSearcher
    from lucene_solr_spark.streaming.nrt import append_batch

    delete_by_keys(spark, del_index, [0])
    append_batch(
        spark,
        spark.createDataFrame([(0, "reborn zombiedoc")], "doc_id long, text string"),
        del_index,
        batch_id="readd",
    )
    s = IndexSearcher.open(spark, del_index)
    hits = s.search_with_keys(TermQuery("zombiedoc"), k=5).collect()
    assert len(hits) == 1 and hits[0].key == 0


def test_retried_update_keeps_its_new_version(spark, tmp_path):
    """update_documents is idempotent as one unit: run again with a
    batch_id that is already committed (a foreachBatch retry or a tlog
    replay), it writes nothing — no tombstone that would kill the
    update's own new version."""
    from lucene_solr_spark.index.builder import IndexConfig, build_index
    from lucene_solr_spark.index.deletes import update_documents
    from lucene_solr_spark.search.query import TermQuery
    from lucene_solr_spark.search.searcher import IndexSearcher

    out = str(tmp_path / "ix")
    docs = spark.createDataFrame(
        [(i, f"table doc{i}") for i in range(10)], "doc_id long, text string"
    )
    build_index(spark, docs, out, IndexConfig(n_shards=2, segs_per_shard=1))
    new = spark.createDataFrame([(3, "zebra new version")],
                                "doc_id long, text string")
    update_documents(spark, out, new, "u1")
    update_documents(spark, out, new, "u1")
    s = IndexSearcher.open(spark, out)
    hits = s.search_with_keys(TermQuery("zebra"), k=5).collect()
    assert [r.key for r in hits] == [3]
    got = s.get_by_keys([3]).collect()
    assert len(got) == 1 and got[0].doc_id >= 10
