"""NRT incremental indexing tests (streaming/nrt.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


@pytest.fixture()
def base_index(spark, tmp_path):
    from lucene_solr_spark.index.builder import IndexConfig, build_index

    out = str(tmp_path / "nrt_ix")
    src = spark.read.parquet(f"{SF_SMALL}/documents.parquet").where(
        F.col("doc_id") < 400
    )
    build_index(
        spark,
        src,
        out,
        IndexConfig(n_shards=2, segs_per_shard=2, id_col="doc_id",
                    text_col="text", sharding="hash"),
    )
    return out


def test_append_batch_becomes_searchable(spark, base_index):
    from lucene_solr_spark.search.query import TermQuery
    from lucene_solr_spark.search.searcher import IndexSearcher
    from lucene_solr_spark.streaming.nrt import append_batch

    batch = spark.createDataFrame(
        [(10_000, "zzzuniqueterm appears here"), (10_001, "zzzuniqueterm twice zzzuniqueterm")],
        "doc_id long, text string",
    )
    append_batch(spark, batch, base_index, batch_id=0)

    s = IndexSearcher.open(spark, base_index)
    hits = s.search(TermQuery("zzzuniqueterm"), k=10).collect()
    assert len(hits) == 2
    # the twice-occurring doc scores higher
    assert hits[0].score > hits[1].score


def test_append_batch_idempotent(spark, base_index):
    from lucene_solr_spark.search.query import TermQuery
    from lucene_solr_spark.search.searcher import IndexSearcher
    from lucene_solr_spark.streaming.nrt import append_batch

    batch = spark.createDataFrame(
        [(20_000, "qqquniq only once")], "doc_id long, text string"
    )
    append_batch(spark, batch, base_index, batch_id=7)
    append_batch(spark, batch, base_index, batch_id=7)  # replay

    s = IndexSearcher.open(spark, base_index)
    hits = s.search(TermQuery("qqquniq"), k=10).collect()
    assert len(hits) == 1


def test_nrt_global_stats(spark, base_index):
    """BM25 stats (maxDoc, avgdl, df) must span base + delta segments,
    exactly like an NRT reader over flushed-but-unmerged segments."""
    from lucene_solr_spark.search.query import TermQuery
    from lucene_solr_spark.search.searcher import IndexSearcher
    from lucene_solr_spark.streaming.nrt import append_batch

    s0 = IndexSearcher.open(spark, base_index)
    base_max_doc = s0.max_doc
    batch = spark.createDataFrame(
        [(30_000, "table table table")], "doc_id long, text string"
    )
    append_batch(spark, batch, base_index, batch_id=1)
    s1 = IndexSearcher.open(spark, base_index)
    assert s1.max_doc == base_max_doc + 1
    # base results still present; scores change (df/avgdl moved) —
    # the delta doc (3x tf, tiny doc) must outrank base docs
    hits = s1.search(TermQuery("table"), k=5).collect()
    assert hits[0].doc_id >= base_max_doc  # remapped delta doc id
    # doc ids are unique across generations
    all_hits = s1.search(TermQuery("table"), k=None).collect()
    ids = [r.doc_id for r in all_hits]
    assert len(ids) == len(set(ids))


def test_index_stream_foreachbatch(spark, base_index, tmp_path):
    """End-to-end Structured Streaming: rate-limited memory stream ->
    foreachBatch index appends."""
    from lucene_solr_spark.search.query import TermQuery
    from lucene_solr_spark.search.searcher import IndexSearcher
    from lucene_solr_spark.streaming.nrt import index_stream

    src_dir = str(tmp_path / "stream_src")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(40_000, "streamedterm one"), (40_001, "streamedterm two")],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(src_dir)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = index_stream(stream, base_index, ckpt).trigger(availableNow=True).start()
    q.awaitTermination(120)

    s = IndexSearcher.open(spark, base_index)
    hits = s.search(TermQuery("streamedterm"), k=10).collect()
    assert len(hits) == 2


def _keys(s, term):
    from lucene_solr_spark.search.query import TermQuery

    return sorted(
        r.key for r in s.search_with_keys(TermQuery(term), k=None).collect()
    )


def test_nrt_delta_keeps_base_synonyms(spark, tmp_path):
    """A delta generation is analyzed like its base index: the base's
    index-time synonyms are applied to appended docs too."""
    from lucene_solr_spark.index.builder import IndexConfig, build_index
    from lucene_solr_spark.search.searcher import IndexSearcher
    from lucene_solr_spark.streaming.nrt import append_batch

    ix = str(tmp_path / "syn_nrt")
    build_index(
        spark,
        spark.createDataFrame([(0, "fast car")], "doc_id long, text string"),
        ix,
        IndexConfig(n_shards=1, segs_per_shard=1, synonyms={"fast": ("quick",)}),
    )
    append_batch(
        spark,
        spark.createDataFrame([(10, "fast train")], "doc_id long, text string"),
        ix,
        batch_id=0,
    )
    s = IndexSearcher.open(spark, ix)
    assert _keys(s, "fast") == [0, 10]
    assert _keys(s, "quick") == [0, 10]


def test_nrt_append_on_manifest_with_retired_engine_key(spark, tmp_path):
    """Manifests written while IndexConfig had an `engine` field still
    accept appends: keys that are not IndexConfig fields are ignored."""
    import json
    import os

    from lucene_solr_spark.index.builder import IndexConfig, build_index
    from lucene_solr_spark.search.searcher import IndexSearcher
    from lucene_solr_spark.streaming.nrt import append_batch

    ix = str(tmp_path / "old_nrt")
    build_index(
        spark,
        spark.createDataFrame([(0, "table scan")], "doc_id long, text string"),
        ix,
        IndexConfig(n_shards=1, segs_per_shard=1),
    )
    path = os.path.join(ix, "manifest.json")
    with open(path) as fh:
        manifest = json.load(fh)
    manifest["config"]["engine"] = "pandas"
    with open(path, "w") as fh:
        json.dump(manifest, fh)
    append_batch(
        spark,
        spark.createDataFrame([(10, "table sort")], "doc_id long, text string"),
        ix,
        batch_id=0,
    )
    assert _keys(IndexSearcher.open(spark, ix), "table") == [0, 10]
