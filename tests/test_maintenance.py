"""Merge-policy tests (TieredMergePolicy analog, index/maintenance.py)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL


@pytest.fixture()
def ix(spark, tmp_path):
    from lucene_solr_spark.index.builder import IndexConfig, build_index

    out = str(tmp_path / "ix")
    src = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    build_index(spark, src, out, IndexConfig(n_shards=2, segs_per_shard=2))
    return out


def test_healthy_index_no_compact(spark, ix, tmp_path):
    from lucene_solr_spark.index.maintenance import index_health, maybe_compact

    h = index_health(spark, ix)
    assert h == {
        "n_generations": 0, "base_docs": 500, "delta_docs": 0,
        "n_deleted": 0, "deleted_frac": 0.0, "delta_frac": 0.0,
    }
    assert maybe_compact(spark, ix, str(tmp_path / "c")) is None


def test_delete_pressure_triggers(spark, ix, tmp_path):
    from lucene_solr_spark.index.deletes import delete_by_keys
    from lucene_solr_spark.index.maintenance import index_health, maybe_compact

    delete_by_keys(spark, ix, list(range(60)))  # 12% > 10%
    assert index_health(spark, ix)["deleted_frac"] > 0.10
    m = maybe_compact(spark, ix, str(tmp_path / "c"))
    assert m is not None and m["max_doc"] == 440


def test_generation_pressure_and_in_place_swap(spark, ix):
    from lucene_solr_spark.index.maintenance import compact_in_place, index_health
    from lucene_solr_spark.search.query import TermQuery
    from lucene_solr_spark.search.searcher import IndexSearcher
    from lucene_solr_spark.streaming.nrt import append_batch

    for i in range(5):
        batch = spark.createDataFrame(
            [(10_000 + i, f"generation doc {i} zzgen")], "doc_id long, text string"
        )
        append_batch(spark, batch, ix, batch_id=f"g{i}")
    assert index_health(spark, ix)["n_generations"] == 5
    before = {
        r.key
        for r in IndexSearcher.open(spark, ix)
        .search_with_keys(TermQuery("zzgen"), k=None)
        .collect()
    }
    assert compact_in_place(spark, ix) is True
    h = index_health(spark, ix)
    assert h["n_generations"] == 0 and h["base_docs"] == 505
    after = {
        r.key
        for r in IndexSearcher.open(spark, ix)
        .search_with_keys(TermQuery("zzgen"), k=None)
        .collect()
    }
    assert after == before == {10_000 + i for i in range(5)}
    # healthy again: second call is a no-op
    assert compact_in_place(spark, ix) is False


def _tiny_index(spark, tmp_path, name):
    from lucene_solr_spark.index.builder import IndexConfig, build_index

    out = str(tmp_path / name)
    df = spark.createDataFrame(
        [(i, f"table scan w{i}") for i in range(40)], "doc_id long, text string"
    )
    build_index(spark, df, out, IndexConfig(n_shards=2, segs_per_shard=1))
    return out


def test_searcher_after_swap_not_served_from_old_pins(spark, tmp_path):
    """A searcher opened after compact_in_place answers from the
    compacted index, not from frames an earlier searcher pinned (Spark
    matches cached plans by file path)."""
    from lucene_solr_spark.index.deletes import delete_by_keys
    from lucene_solr_spark.index.maintenance import compact_in_place
    from lucene_solr_spark.search.query import MatchAllDocsQuery
    from lucene_solr_spark.search.searcher import IndexSearcher

    ix = _tiny_index(spark, tmp_path, "pinned")
    old = IndexSearcher.open(spark, ix).preload()
    assert old.search(MatchAllDocsQuery(), k=None).count() == 40
    delete_by_keys(spark, ix, list(range(10)))
    assert compact_in_place(spark, ix) is True
    s = IndexSearcher.open(spark, ix)
    assert s.max_doc == 30
    rows = s.search(MatchAllDocsQuery(), k=None).collect()
    assert len(rows) == 30
    assert sorted(r.doc_id for r in rows) == list(range(30))


def test_compact_with_a_fully_deleted_shard(spark, tmp_path):
    """Every doc of shard 0 deleted (range_int: keys 0-19): the shard's
    kernels return empty frames, which must still convert to the
    binary and list columns."""
    from lucene_solr_spark.index.deletes import delete_by_keys
    from lucene_solr_spark.index.maintenance import compact_in_place
    from lucene_solr_spark.search.query import TermQuery
    from lucene_solr_spark.search.searcher import IndexSearcher

    ix = _tiny_index(spark, tmp_path, "half_deleted")
    delete_by_keys(spark, ix, list(range(20)))
    assert compact_in_place(spark, ix) is True
    s = IndexSearcher.open(spark, ix)
    assert s.max_doc == 20
    assert sorted(r.key for r in s.search_with_keys(TermQuery("table"), k=None)
                  .collect()) == list(range(20, 40))
    assert [r.key for r in s.search_with_keys(TermQuery("w25"), k=5).collect()] == [25]
