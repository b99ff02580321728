"""Storage-seam tests (index/storage.py): TableIO resolution, the
Iceberg error path, and publish_index snapshot semantics.

Reference contract being mirrored: IndexWriter's two-phase commit
writes every segment file before the segments_N commit point
(lucene/core/.../index/IndexWriter.java:178-186,2876-2913), and Solr
replication copies the committed segment set then the commit point
(solr/core/.../handler/IndexFetcher.java). Here: every table lands
through TableIO before write_manifest, and a published copy is
rank- and score-identical to the source point-in-time view.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


@pytest.fixture()
def small_index(spark, tmp_path):
    from lucene_solr_spark.index.builder import IndexConfig, build_index

    out = str(tmp_path / "pub_src")
    src = spark.read.parquet(f"{SF_SMALL}/documents.parquet").where(
        F.col("doc_id") < 300
    )
    build_index(
        spark,
        src,
        out,
        IndexConfig(n_shards=2, segs_per_shard=2, id_col="doc_id",
                    text_col="text", sharding="hash"),
    )
    return out


def _top(searcher, term, k=20):
    from lucene_solr_spark.search.query import TermQuery

    return [
        (r.doc_id, r.score)
        for r in searcher.search(TermQuery(term), k=k).collect()
    ]


def test_resolve_io_dispatch(spark, tmp_path):
    from lucene_solr_spark.index.storage import ParquetIO, resolve_io

    io = resolve_io(spark, str(tmp_path))
    assert isinstance(io, ParquetIO)


def test_iceberg_requires_catalog_conf(spark):
    """No Iceberg jar/catalog in the sandbox: the spec must fail fast
    and name the missing conf (not die later inside a write)."""
    from lucene_solr_spark.index.storage import resolve_io

    with pytest.raises(RuntimeError, match="spark.sql.catalog.lake"):
        resolve_io(spark, "iceberg://lake.db.myindex")


def test_parquet_io_roundtrip(spark, tmp_path):
    from lucene_solr_spark.index.storage import ParquetIO

    io = ParquetIO(spark, str(tmp_path / "t"))
    import os

    os.makedirs(str(tmp_path / "t"), exist_ok=True)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    io.write(df, "tbl")
    assert io.exists("tbl")
    assert not io.exists("other")
    assert sorted(r.v for r in io.read("tbl").collect()) == ["a", "b"]
    io.write_manifest({"max_doc": 7})
    assert io.read_manifest() == {"max_doc": 7}


def test_publish_base_index_identical(spark, small_index, tmp_path):
    from lucene_solr_spark.index.storage import publish_index
    from lucene_solr_spark.search.searcher import IndexSearcher

    dest = str(tmp_path / "pub_dst")
    m = publish_index(spark, small_index, dest)
    assert "delta_generations" not in m
    src = IndexSearcher.open(spark, small_index)
    dst = IndexSearcher.open(spark, dest)
    assert dst.max_doc == src.max_doc
    for term in ("the", "of", "data"):
        assert _top(dst, term) == _top(src, term)


def test_publish_folds_nrt_and_deletes(spark, small_index, tmp_path):
    """Base + two NRT generations + a delete fold into one snapshot
    whose results are bitwise those of the multi-generation view."""
    from lucene_solr_spark.index.deletes import delete_by_keys
    from lucene_solr_spark.index.storage import publish_index
    from lucene_solr_spark.search.searcher import IndexSearcher
    from lucene_solr_spark.streaming.nrt import append_batch

    b1 = spark.createDataFrame(
        [(90_001, "pubterm alpha beta"), (90_002, "pubterm pubterm gamma")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(90_003, "pubterm delta the of")], "doc_id long, text string"
    )
    append_batch(spark, b1, small_index, batch_id=0)
    append_batch(spark, b2, small_index, batch_id=1)
    delete_by_keys(spark, small_index, [90_002])

    dest = str(tmp_path / "pub_dst2")
    m = publish_index(spark, small_index, dest)
    assert "delta_generations" not in m and m["doc_offsets"]

    src = IndexSearcher.open(spark, small_index)
    dst = IndexSearcher.open(spark, dest)
    assert dst.max_doc == src.max_doc
    assert dst._doc_offsets == src._doc_offsets
    for term in ("pubterm", "the", "of"):
        got, want = _top(dst, term), _top(src, term)
        assert got == want, term
    # the tombstoned doc stays dead in the published copy
    assert len(_top(dst, "pubterm")) == 2


def test_publish_writes_the_views_own_tombstones(spark, small_index, tmp_path):
    """A delete that lands after the view opened (mid-publish) is not
    written beside tables that predate it: the published copy ranks
    exactly like the source view, and its norms table keeps the index's
    schema (the preloaded view's pinned liveDocs column stays out)."""
    from lucene_solr_spark.index.deletes import delete_by_keys
    from lucene_solr_spark.index.storage import _publish_view
    from lucene_solr_spark.search.searcher import IndexSearcher

    delete_by_keys(spark, small_index, [0])
    s = IndexSearcher.open(spark, small_index).preload()
    try:
        want = {t: _top(s, t) for t in ("table", "scan", "data")}
        assert want["table"]
        delete_by_keys(spark, small_index, [d for d, _ in want["table"][:3]])

        dest = str(tmp_path / "pub_pit")
        _publish_view(spark, s, dest, small_index)
        dst = IndexSearcher.open(spark, dest)
        assert {t: _top(dst, t) for t in want} == want
        src_schema = IndexSearcher(spark, small_index)._norms.schema
        assert dst._norms.schema == src_schema
    finally:
        spark.catalog.clearCache()


def test_publish_writes_manifest_last(spark, small_index, tmp_path, monkeypatch):
    """Commit-point-last ordering: every data table lands through the
    seam before write_manifest (the segments_N contract)."""
    from lucene_solr_spark.index import storage

    calls: list[str] = []
    real_resolve = storage.resolve_io
    dest = str(tmp_path / "pub_dst3")

    class Recording(storage.ParquetIO):
        def write(self, df, name, mode="overwrite", partition_by=()):
            calls.append(name)
            super().write(df, name, mode, partition_by)

        def write_manifest(self, manifest):
            calls.append("__manifest__")
            super().write_manifest(manifest)

    def fake_resolve(spark_, out):
        if out == dest:
            return Recording(spark_, out)
        return real_resolve(spark_, out)

    monkeypatch.setattr(storage, "resolve_io", fake_resolve)
    storage.publish_index(spark, small_index, dest)
    assert calls[-1] == "__manifest__"
    assert set(calls[:-1]) >= {"doc_map", "norms", "postings", "term_stats"}


def test_publish_refuses_source_dir(spark, small_index):
    from lucene_solr_spark.index.storage import publish_index

    with pytest.raises(ValueError, match="destination equals"):
        publish_index(spark, small_index, small_index)


def test_backup_restore_roundtrip(spark, tmp_path):
    from lucene_solr_spark.index.builder import IndexConfig, build_index
    from lucene_solr_spark.index.deletes import delete_by_keys
    from lucene_solr_spark.index.storage import backup_index, restore_index
    from lucene_solr_spark.search.query import TermQuery
    from lucene_solr_spark.search.searcher import IndexSearcher
    from lucene_solr_spark.streaming.nrt import append_batch

    ix = str(tmp_path / "bk_src")
    docs = spark.createDataFrame(
        [(1, "table scan"), (2, "table merge"), (3, "sort merge")],
        "doc_id long, text string",
    )
    build_index(spark, docs, ix, IndexConfig(n_shards=2, segs_per_shard=1))
    append_batch(
        spark,
        spark.createDataFrame([(4, "table sort")], "doc_id long, text string"),
        ix, batch_id=0,
    )
    delete_by_keys(spark, ix, [2])

    bdir = str(tmp_path / "bk_snap")
    backup_index(ix, bdir)
    # backup is point-in-time: later deletes don't leak into it
    delete_by_keys(spark, ix, [1])

    rdir = str(tmp_path / "bk_restored")
    restore_index(bdir, rdir)
    s = IndexSearcher.open(spark, rdir)
    keys = {r.key for r in
            s.search_with_keys(TermQuery("table"), k=10).collect()}
    assert keys == {1, 4}  # delta visible, key 2 deleted, key 1 ALIVE

    # restore over an existing index requires overwrite=True
    import pytest as _pytest
    with _pytest.raises(ValueError, match="destination exists"):
        restore_index(bdir, rdir)
    restore_index(bdir, rdir, overwrite=True)
    s2 = IndexSearcher.open(spark, rdir)
    assert {r.key for r in
            s2.search_with_keys(TermQuery("table"), k=10).collect()} == {1, 4}

    with _pytest.raises(ValueError, match="backup destination exists"):
        backup_index(ix, bdir)
    with _pytest.raises(ValueError, match="not a backup"):
        restore_index(str(tmp_path), str(tmp_path / "x"))


def _find_iceberg_jar():
    """The optional iceberg-spark-runtime jar: $ICEBERG_SPARK_JAR, or a
    copy dropped into pyspark's jars dir / /opt/spark-jars."""
    import glob
    import os

    cand = os.environ.get("ICEBERG_SPARK_JAR")
    if cand and os.path.exists(cand):
        return cand
    import pyspark

    for pat in (
        os.path.join(os.path.dirname(pyspark.__file__), "jars",
                     "iceberg-spark-runtime*.jar"),
        "/opt/spark-jars/iceberg-spark-runtime*.jar",
    ):
        hits = sorted(glob.glob(pat))
        if hits:
            return hits[0]
    return None


def test_iceberg_e2e(tmp_path):
    """REAL Iceberg catalog end-to-end (round-4 verdict #7): build an
    index into iceberg://lake.db.*, publish a snapshot, reopen, and
    match the parquet build's scores exactly. Runs only when the
    iceberg-spark-runtime jar is present (skip-if-absent — the sandbox
    ships none); executes in a SUBPROCESS because the jar and catalog
    confs must be set before the JVM starts, and the suite's shared
    SparkSession has no Iceberg classes."""
    import subprocess
    import sys
    import textwrap

    jar = _find_iceberg_jar()
    if jar is None:
        pytest.skip("iceberg-spark-runtime jar not present")

    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {repr(str(__import__('os').getcwd()))})
        from pyspark.sql import SparkSession
        from lucene_solr_spark.index.builder import IndexConfig, build_index
        from lucene_solr_spark.index.storage import publish_index
        from lucene_solr_spark.search.searcher import IndexSearcher
        from lucene_solr_spark.search.query import TermQuery

        wh = {repr(str(tmp_path / "wh"))}
        spark = (SparkSession.builder.master("local[4]")
                 .config("spark.jars", {repr(jar)})
                 .config("spark.sql.catalog.lake",
                         "org.apache.iceberg.spark.SparkCatalog")
                 .config("spark.sql.catalog.lake.type", "hadoop")
                 .config("spark.sql.catalog.lake.warehouse", wh)
                 .config("spark.sql.shuffle.partitions", "8")
                 .config("spark.ui.enabled", "false").getOrCreate())
        spark.sparkContext.setLogLevel("ERROR")
        spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.db")
        src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        pq_dir = {repr(str(tmp_path / "pq_ix"))}
        cfg = IndexConfig(n_shards=2, segs_per_shard=2)
        build_index(spark, src, pq_dir, cfg)
        want = [(r.doc_id, r.score) for r in
                IndexSearcher(spark, pq_dir).search(TermQuery("table"),
                                                    k=10).collect()]
        publish_index(spark, pq_dir, "iceberg://lake.db.ix")
        got = [(r.doc_id, r.score) for r in
               IndexSearcher.open(spark, "iceberg://lake.db.ix")
               .search(TermQuery("table"), k=10).collect()]
        assert got == want, (got, want)
        # a second publish commits a NEW snapshot (createOrReplace)
        publish_index(spark, pq_dir, "iceberg://lake.db.ix")
        snaps = spark.sql(
            "SELECT count(*) FROM lake.db.ix_term_stats.snapshots"
        ).first()[0]
        assert snaps >= 2, snaps
        print("ICEBERG_E2E_OK")
        spark.stop()
    """)
    out = subprocess.run([sys.executable, "-c", script],
                         capture_output=True, text=True, timeout=600)
    assert "ICEBERG_E2E_OK" in out.stdout, out.stdout + out.stderr
