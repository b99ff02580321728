"""Point-in-time searchers: liveDocs are fixed at open.

Lucene's SegmentReader reads a segment's liveDocs bitset once, when it
opens (Lucene50LiveDocsFormat; DirectoryReader is a point-in-time
view), so deletes and updates committed afterwards are invisible to it
until a new reader is opened. A searcher opened here before
`update_documents` / `delete_by_keys` must keep answering as of its
open time — preloaded or not, on the scoring seam, the constant-score
and match-all paths and realtime get — while a fresh `open()` sees the
writes.
"""

from __future__ import annotations

import pytest

DOCS = [
    (0, "table scan fast merge"),
    (1, "table table sort"),
    (2, "merge join sort batch"),
    (3, "table big scan dup"),
    (4, "sort sort table window"),
    (5, "vector stream hash"),
]
UPDATED, DELETED = 1, 3  # both hold "table"


def _rows(df):
    return [(int(r.doc_id), float(r.score)) for r in df.collect()]


def _answers(s):
    from lucene_solr_spark.search.query import (
        BooleanOr, FieldValueQuery, MatchAllDocsQuery, PrefixQuery,
        TermQuery)

    return {
        "term": _rows(s.search(TermQuery("table"), k=10)),
        "or": _rows(s.search(BooleanOr(("table", "sort")), k=10)),
        "prefix": _rows(s.search(PrefixQuery("ta"), k=10)),
        "field_value": _rows(s.search(FieldValueQuery(None), k=10)),
        "match_all": _rows(s.search(MatchAllDocsQuery(), k=10)),
    }


def _get(s, key):
    return [(int(r.doc_id), int(r.doc_len)) for r in s.get_by_keys([key]).collect()]


@pytest.fixture(scope="module")
def pit(spark, tmp_path_factory):
    """Searchers opened (one preloaded) on a tombstoned NRT index, then
    an update and a delete written behind their backs."""
    from lucene_solr_spark.index.builder import IndexConfig, build_index
    from lucene_solr_spark.index.deletes import delete_by_keys, update_documents
    from lucene_solr_spark.search import searcher
    from lucene_solr_spark.search.searcher import IndexSearcher

    out = str(tmp_path_factory.mktemp("pit") / "ix")
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    build_index(spark, docs, out, IndexConfig(n_shards=2, segs_per_shard=1))
    # an earlier delete, so the open-time view already has tombstones
    delete_by_keys(spark, out, [5])
    plain = IndexSearcher.open(spark, out)
    # preloaded on both serving tiers: below the in-process cap (the
    # driver copy) and with the cap forced to 0 (the Spark pins)
    pinned = IndexSearcher.open(spark, out).preload()
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(searcher, "IN_PROCESS_MAX_BYTES", 0)
        pinned_spark = IndexSearcher.open(spark, out).preload()
    assert (pinned.serving_tier, pinned_spark.serving_tier) == (
        "driver", "spark")
    before = _answers(plain)
    got_before = _get(plain, UPDATED)
    update_documents(
        spark, out,
        spark.createDataFrame([(UPDATED, "merge window")],
                              "doc_id long, text string"),
        "u0",
    )
    delete_by_keys(spark, out, [DELETED])
    yield {"out": out, "plain": plain, "pinned": pinned,
           "pinned_spark": pinned_spark,
           "before": before, "got_before": got_before}
    spark.catalog.clearCache()


@pytest.mark.parametrize("which", ["plain", "pinned", "pinned_spark"])
def test_search_answers_as_of_open(pit, which):
    """Top-k on the seam, the constant-score and field-value anti-joins
    and match-all all ignore writes that landed after the open."""
    before = pit["before"]
    assert any(d == DELETED for d, _ in before["term"])
    assert _answers(pit[which]) == before


@pytest.mark.parametrize("which", ["plain", "pinned", "pinned_spark"])
def test_get_by_keys_returns_open_time_version(pit, which):
    """The updated key keeps its open-time version: the new tombstone
    must not kill it (the new version lives in a generation this
    searcher never opened)."""
    got = _get(pit[which], UPDATED)
    assert got == pit["got_before"]
    assert got and got[0][1] == 3  # "table table sort"
    assert pit[which].deleted_doc_ids().tolist() == [5]


def test_fresh_open_sees_writes(spark, pit):
    from lucene_solr_spark.search.searcher import IndexSearcher

    s = IndexSearcher.open(spark, pit["out"])
    now = _answers(s)
    assert {d for d, _ in now["term"]} == {0, 4}
    assert DELETED not in {d for d, _ in now["match_all"]}
    got = _get(s, UPDATED)
    assert len(got) == 1 and got[0] == (len(DOCS), 2)  # "merge window"
