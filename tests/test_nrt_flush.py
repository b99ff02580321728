"""The in-driver NRT flush (streaming/nrt.py, builder.build_collected):
a small batch's delta generation is built in the driver from one
analysis job, and must equal the distributed `build_index` path table
for table."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

VOCAB = (
    "table scan spark window vector customer key order sort merge batch "
    "stream hash join filter group agg row column value query line part "
    "big small fast quick slow data the a running runs"
).split()
TABLES = ("postings", "doc_map", "norms", "term_stats", "term_stats_rev")


def _texts(n: int, seed: int, payloads: bool = False) -> list[str]:
    rng = np.random.default_rng(seed)
    out = []
    for _ in range(n):
        words = rng.choice(VOCAB, size=int(rng.integers(0, 14)))
        if payloads:
            words = [
                f"{w}|{rng.integers(1, 9) / 4}" if rng.random() < 0.4 else w
                for w in words
            ]
        out.append(" ".join(words))
    return out


# name -> (IndexConfig kwargs, key kind)
CONFIGS = {
    "extra_fields": (dict(extra_fields=("source",)), "l"),
    "payloads": (dict(analyzer="delimited_payload", index_positions=True,
                      index_payloads=True), "l"),
    "synonyms": (dict(index_positions=True,
                      synonyms={"fast": ("quick", "speedy")}), "l"),
    "english": (dict(analyzer="english"), "l"),
    "codec_for": (dict(codec="for", index_positions=True), "l"),
    "url_keys": (dict(sharding="hash", extra_fields=("source",)), "s"),
    "one_shard": (dict(), "l"),
}
BASES = {**CONFIGS, "oracle": (dict(), "l")}


def _frame(spark, keys, texts, key_kind):
    rows = [
        (k, t, f"src{i % 3} {t.split(' ')[0] if t else ''}")
        for i, (k, t) in enumerate(zip(keys, texts))
    ]
    key_t = "string" if key_kind == "s" else "long"
    return spark.createDataFrame(rows, f"doc_id {key_t}, text string, source string")


def _keys(key_kind, lo, hi):
    if key_kind == "s":
        return [f"https://example.org/{'x' * (i % 7)}page/{i}?q={i * 37}"
                for i in range(lo, hi)]
    return [10**12 + i * 7919 for i in range(lo, hi)]


@pytest.fixture(scope="module")
def bases(spark, tmp_path_factory):
    """One tiny base index per configuration, built on first use."""
    from lucene_solr_spark.index.builder import IndexConfig, build_index

    root = tmp_path_factory.mktemp("nrt_flush")
    built = {}

    def get(name):
        if name not in built:
            kw, key_kind = BASES[name]
            kw = {"n_shards": 2, "segs_per_shard": 1, "sharding": "hash", **kw}
            out = str(root / name)
            payloads = kw.get("index_payloads", False)
            build_index(
                spark,
                _frame(spark, _keys(key_kind, 0, 12), _texts(12, 1, payloads),
                       key_kind),
                out, IndexConfig(**kw),
            )
            built[name] = out
        return built[name]

    return get


def _one_shard_keys(spark, n):
    """n long keys that all hash to delta shard 0 of a 2-shard delta."""
    from pyspark.sql import functions as F

    cand = spark.createDataFrame([(k,) for k in _keys("l", 100, 100 + 8 * n)],
                                 "key long")
    shard = F.pmod(F.xxhash64(F.col("key")), F.lit(2))
    keys = [r.key for r in cand.where(shard == 0).orderBy("key").limit(n).collect()]
    assert len(keys) == n
    return keys


def _rows(spark, path):
    df = spark.read.parquet(path)
    return df.schema, sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("name", list(CONFIGS))
def test_driver_flush_matches_spark_path(spark, bases, monkeypatch, name):
    import pyarrow as pa

    from lucene_solr_spark.streaming import nrt

    ix = bases(name)
    kw, key_kind = CONFIGS[name]
    keys = (_one_shard_keys(spark, 30) if name == "one_shard"
            else _keys(key_kind, 100, 140))
    batch = _frame(spark, keys, _texts(len(keys), 7, kw.get("index_payloads", False)),
                   key_kind)

    monkeypatch.setattr(nrt, "DRIVER_FLUSH_MAX_ROWS", 0)
    nrt.append_batch(spark, batch, ix, batch_id=f"spark_{name}")
    monkeypatch.undo()
    n_cpu = pa.cpu_count()
    nrt.append_batch(spark, batch, ix, batch_id=f"driver_{name}")
    assert pa.cpu_count() == n_cpu  # the builder's 1-thread pin is undone
    driver_ids = [f"driver_{name}"]
    if key_kind == "s":
        # the collected rows keep plain string types under large-type
        # Arrow collection too
        conf = "spark.sql.execution.arrow.useLargeVarTypes"
        spark.conf.set(conf, "true")
        try:
            nrt.append_batch(spark, batch, ix, batch_id=f"large_{name}")
        finally:
            spark.conf.unset(conf)
        driver_ids.append(f"large_{name}")

    a = os.path.join(ix, "delta", f"batch_spark_{name}")
    for bid in driver_ids:
        b = os.path.join(ix, "delta", f"batch_{bid}")
        _assert_same_generation(spark, a, b)
        if name == "one_shard":
            assert os.listdir(os.path.join(b, "postings")) == ["shard=0"]


def _assert_same_generation(spark, a, b):
    """Generation `a` (built by the Spark path) and `b` (built in the
    driver) hold the same tables and manifest."""
    assert os.path.isdir(os.path.join(a, "segments"))  # the Spark path ran
    assert not os.path.exists(os.path.join(b, "segments"))
    assert not os.path.exists(os.path.join(b, "checkpoints"))
    for table in TABLES:
        sa, ra = _rows(spark, os.path.join(a, table))
        sb, rb = _rows(spark, os.path.join(b, table))
        assert sa == sb, table
        assert ra == rb, table
    with open(os.path.join(a, "manifest.json")) as fh:
        ma = json.load(fh)
    with open(os.path.join(b, "manifest.json")) as fh:
        mb = json.load(fh)
    for k in ("max_doc", "sum_total_term_freq", "field_stats", "seg_bases",
              "shard_bases"):
        assert ma[k] == mb[k], k
    assert ma == mb


def test_update_through_driver_flush_matches_oracle(spark, bases):
    """A tombstoned base plus a driver-built delta answers like the
    brute-force oracle over every doc version: the replaced versions
    still count in the statistics (BM25 uses maxDoc) but match
    nothing."""
    import pandas as pd

    from lucene_solr_spark.index.deletes import update_documents
    from lucene_solr_spark.search.oracle import build_oracle_index, oracle_topk
    from lucene_solr_spark.search.query import BooleanOr, TermQuery
    from lucene_solr_spark.search.searcher import IndexSearcher

    ix = bases("oracle")
    base_max = IndexSearcher.open(spark, ix).max_doc
    base = dict(zip(_keys("l", 0, 12), _texts(12, 1)))
    upd_keys = list(base)[:4] + _keys("l", 500, 504)
    upd = dict(zip(upd_keys, _texts(len(upd_keys), 11)))
    update_documents(spark, ix, _frame(spark, upd_keys, list(upd.values()), "l"),
                     "upd")
    assert not os.path.exists(os.path.join(ix, "delta", "batch_upd", "segments"))

    s = IndexSearcher.open(spark, ix)
    text_of = {
        r.doc_id: (base if r.doc_id < base_max else upd)[r.key]
        for r in s.doc_map().collect()
    }
    ids = np.array(sorted(text_of), np.int64)
    assert len(ids) == s.max_doc == base_max + len(upd_keys)
    oix = build_oracle_index(ids, pd.Series([text_of[d] for d in ids]), ids)
    dead = {int(d) for d in s.deleted_doc_ids()}
    assert len(dead) == 4 and max(dead) < base_max
    for q, kind, terms in ((TermQuery("table"), "term", ["table"]),
                           (BooleanOr(("scan", "merge")), "or", ["scan", "merge"])):
        got = sorted(
            ((r.doc_id, np.float32(r.score)) for r in s.search(q, k=None).collect()),
            key=lambda x: (-x[1], x[0]),
        )
        want = [(int(d), np.float32(sc))
                for d, sc in oracle_topk(oix, kind, terms, len(ids))
                if int(d) not in dead]
        assert got and got == want


def test_driver_flush_of_a_batch_without_tokens(spark, bases):
    """A batch whose texts analyze to no token at all (empty, stopwords
    only) still commits a readable generation: its docs count in maxDoc
    and match nothing."""
    from lucene_solr_spark.search.query import MatchAllDocsQuery, TermQuery
    from lucene_solr_spark.search.searcher import IndexSearcher
    from lucene_solr_spark.streaming.nrt import append_batch

    ix = bases("one_shard")
    before = IndexSearcher.open(spark, ix)
    hits = before.search(TermQuery("table"), k=None).count()
    append_batch(spark, _frame(spark, _keys("l", 900, 903), ["", "the a", "a"], "l"),
                 ix, batch_id="no_tokens")
    s = IndexSearcher.open(spark, ix)
    assert s.max_doc == before.max_doc + 3
    assert s.search(TermQuery("table"), k=None).count() == hits
    assert s.search(MatchAllDocsQuery(), k=None).count() == s.max_doc


@pytest.mark.parametrize("how", ["append_batch", "update_documents"])
def test_long_docs_over_the_char_cap_take_the_spark_path(spark, bases,
                                                         monkeypatch, how):
    """The path is picked from the raw batch's text size before anything
    is analyzed: three long docs over the character cap (well under the
    row cap) build through `build_index` with nothing collected to the
    driver; at the cap the same batch flushes in the driver.
    `update_documents` takes the size from its tombstone write."""
    from lucene_solr_spark.index.deletes import update_documents
    from lucene_solr_spark.streaming import nrt

    append = nrt.append_batch if how == "append_batch" else (
        lambda spark, batch, ix, batch_id: update_documents(spark, ix, batch,
                                                            batch_id))
    ix = bases("extra_fields")
    texts = [" ".join(_texts(60, seed)) for seed in (21, 22, 23)]
    batch = _frame(spark, _keys("l", 700, 703), texts, "l")
    n_chars = sum(len(r.text) + len(r.source) for r in batch.collect())
    assert 3 < nrt.DRIVER_FLUSH_MAX_ROWS

    def no_collect(*args, **kwargs):
        raise AssertionError("analyzed rows collected to the driver")

    monkeypatch.setattr(nrt, "DRIVER_FLUSH_MAX_CHARS", n_chars - 1)
    monkeypatch.setattr(nrt, "collect_segment_input", no_collect)
    append(spark, batch, ix, batch_id=f"long_spark_{how}")
    monkeypatch.undo()
    monkeypatch.setattr(nrt, "DRIVER_FLUSH_MAX_CHARS", n_chars)
    append(spark, batch, ix, batch_id=f"long_driver_{how}")
    delta = os.path.join(ix, "delta")
    _assert_same_generation(spark, os.path.join(delta, f"batch_long_spark_{how}"),
                            os.path.join(delta, f"batch_long_driver_{how}"))
