"""Arrow segment builder: indexes built by the JVM-tokenize + pyarrow
dictionary-encode path must answer exactly like the brute-force oracle
(search/oracle.py — docIDs and bitwise float32 scores), and the JVM
analyzers must match the pandas analyzers token-for-token."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tests.conftest import SF_SMALL

EDGE_TEXTS = [
    "Hello World the quick",
    "café UPPERCASE O'Neil's state-of-the-art",
    "a an and are 42 3.14159",
    "x" * 300 + " next token",
    "",
    "   ",
    "naïve résumé Mixed-Case",
    "word_with_underscore",
    "don’t stop me",
    "中文 mixed with ascii",
    "tab\tnewline\nsplit",
    "Contact John.Doe+spam@Mail.Example.COM or HTTPS://WWW2.Example.org/p-1?q=a&b=2",
    "see www.foo-bar.com/baz_x and ftp://h0st:21/dir/file.txt now",
    "edge user@localhost @nope http:/broken trailing. u3@m.example.com.",
]


def test_jvm_analyzer_matches_pandas(spark):
    from pyspark.sql import functions as F

    from lucene_solr_spark.analysis.analyzers import (
        tokenize_standard,
        tokenize_standard_with_positions,
    )
    from lucene_solr_spark.analysis.jvm import (
        standard_tokens_col,
        standard_tokens_pos_col,
    )

    df = spark.createDataFrame([(t,) for t in EDGE_TEXTS], "text string")
    jvm = df.select(standard_tokens_col(F.col("text")).alias("t")).collect()
    jvmp = df.select(standard_tokens_pos_col(F.col("text")).alias("t")).collect()
    py = tokenize_standard(pd.Series(EDGE_TEXTS))
    pyp = tokenize_standard_with_positions(pd.Series(EDGE_TEXTS))
    for i in range(len(EDGE_TEXTS)):
        assert list(jvm[i].t) == list(py.iloc[i]), EDGE_TEXTS[i][:40]
        assert [(r.term, r.pos) for r in jvmp[i].t] == list(pyp.iloc[i])


def _hits(df):
    return [(r.doc_id, np.float32(r.score).tobytes()) for r in df.collect()]


def _oracle_hits(ix, kind, terms, k):
    from lucene_solr_spark.search.oracle import oracle_topk

    return [
        (int(d), np.float32(sc).tobytes())
        for d, sc in oracle_topk(ix, kind, list(terms), k)
    ]


def _docs_oracle(spark, text_col):
    """Brute-force oracle over one source column; range_int sharding on
    dense keys makes the internal doc_id the source doc_id."""
    from lucene_solr_spark.search.oracle import build_oracle_index

    pdf = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id", text_col).toPandas()
        .sort_values("doc_id").reset_index(drop=True)
    )
    ids = pdf["doc_id"].to_numpy()
    return build_oracle_index(ids, pdf[text_col].fillna(""), ids)


@pytest.mark.parametrize("positions", [False, True])
def test_arrow_index_matches_oracle(spark, tmp_path, positions):
    """term / AND / OR top-k: docIDs and bitwise f32 scores equal the
    brute-force oracle's, with and without the positions stream."""
    from lucene_solr_spark.index.builder import IndexConfig, build_index
    from lucene_solr_spark.search.query import BooleanAnd, BooleanOr, TermQuery
    from lucene_solr_spark.search.searcher import IndexSearcher

    src = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    out = str(tmp_path / f"ix_{positions}")
    build_index(
        spark, src, out,
        IndexConfig(n_shards=4, segs_per_shard=4, index_positions=positions),
        resume=False,
    )
    s = IndexSearcher(spark, out)
    ix = _docs_oracle(spark, "text")
    for q, kind, terms in (
        (TermQuery("table"), "term", ("table",)),
        (BooleanAnd(("scan", "table")), "and", ("scan", "table")),
        (BooleanOr(("customer", "spark", "vector")), "or",
         ("customer", "spark", "vector")),
    ):
        assert _hits(s.search(q, k=25)) == _oracle_hits(ix, kind, terms, 25)


def test_arrow_engine_url_keys(spark, tmp_path):
    """String keys + hash sharding: the oracle derives the doc-ID
    contract itself (segment g from the two xxhash64 routes, keys
    bytewise-sorted inside a segment, segments concatenated in g
    order) and search_with_keys must return its top-k exactly."""
    from pyspark.sql import functions as F

    from lucene_solr_spark.fixtures.pages import generate_pages
    from lucene_solr_spark.index.builder import IndexConfig, build_index
    from lucene_solr_spark.search.oracle import build_oracle_index, oracle_topk
    from lucene_solr_spark.search.query import TermQuery
    from lucene_solr_spark.search.searcher import IndexSearcher

    pages = generate_pages(spark, 200, partitions=4)
    out = str(tmp_path / "pix")
    build_index(
        spark, pages, out,
        IndexConfig(n_shards=2, segs_per_shard=2, id_col="url",
                    text_col="text", sharding="hash"),
        resume=False,
    )
    s = IndexSearcher(spark, out)
    g = (
        F.pmod(F.xxhash64("url"), F.lit(2)) * 2
        + F.pmod(F.xxhash64("url", F.lit(1)), F.lit(2))
    )
    pdf = (
        pages.select("url", "text", g.alias("g")).toPandas()
        .sort_values(["g", "url"]).reset_index(drop=True)
    )
    ids = np.arange(len(pdf), dtype=np.int64)
    ix = build_oracle_index(pdf["url"].to_numpy(), pdf["text"], ids)
    exp = [
        (int(d), pdf["url"][d], np.float32(sc).tobytes())
        for d, sc in oracle_topk(ix, "term", ["table"], 20)
    ]
    got = [
        (r.doc_id, r.key, np.float32(r.score).tobytes())
        for r in s.search_with_keys(TermQuery("table"), k=20).collect()
    ]
    assert got and got == exp


def test_multi_field_term_matches_oracle(spark, tmp_path):
    """A field of extra_fields is inverted with its own stats: a
    fielded TermQuery equals an oracle built on that column alone, and
    the default field still equals the text oracle."""
    from lucene_solr_spark.index.builder import IndexConfig, build_index
    from lucene_solr_spark.search.query import BooleanOr, TermQuery
    from lucene_solr_spark.search.searcher import IndexSearcher

    src = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    out = str(tmp_path / "fix")
    build_index(
        spark, src, out,
        IndexConfig(n_shards=2, segs_per_shard=2, extra_fields=("source",)),
        resume=False,
    )
    s = IndexSearcher(spark, out)
    src_ix = _docs_oracle(spark, "source")
    for term in ("src3", "src0"):
        exp = _oracle_hits(src_ix, "term", (term,), 30)
        assert exp
        assert _hits(s.search(TermQuery(term, field="source"), k=30)) == exp
    text_ix = _docs_oracle(spark, "text")
    assert _hits(s.search(BooleanOr(("scan", "vector")), k=25)) == (
        _oracle_hits(text_ix, "or", ("scan", "vector"), 25)
    )


def test_newline_in_string_key_rejected(spark, tmp_path):
    """keys_enc joins a segment's string keys with newlines, so a key
    holding one is refused with the rule named, not left to fail later
    on a length mismatch."""
    from lucene_solr_spark.index.builder import IndexConfig, build_index

    src = spark.createDataFrame(
        [("http://a/x\ny", "table scan"), ("http://a/z", "table")],
        "url string, text string",
    )
    with pytest.raises(Exception, match="string keys must not contain newlines"):
        build_index(
            spark, src, str(tmp_path / "nl"),
            IndexConfig(n_shards=1, segs_per_shard=1, id_col="url",
                        sharding="hash"),
            resume=False,
        )


@pytest.mark.parametrize("name", ["simple", "stop", "keyword", "uax29_url_email"])
def test_jvm_extra_analyzers_match_pandas(spark, name):
    """core/SimpleAnalyzer, core/StopAnalyzer, core/KeywordAnalyzer
    analogs: JVM expression == pandas analyzer token-for-token and
    position-for-position on the edge corpus (incl. the 300-char run,
    which CharTokenizer SPLITS into 255-char chunks rather than
    dropping)."""
    from pyspark.sql import functions as F

    from lucene_solr_spark.analysis.analyzers import ANALYZERS, ANALYZERS_POS
    from lucene_solr_spark.analysis.jvm import JVM_ANALYZERS, JVM_ANALYZERS_POS

    df = spark.createDataFrame([(t,) for t in EDGE_TEXTS], "text string")
    jvm = df.select(JVM_ANALYZERS[name](F.col("text")).alias("t")).collect()
    jvmp = df.select(
        JVM_ANALYZERS_POS[name](F.col("text")).alias("t")
    ).collect()
    py = ANALYZERS[name](pd.Series(EDGE_TEXTS))
    pyp = ANALYZERS_POS[name](pd.Series(EDGE_TEXTS))
    for i in range(len(EDGE_TEXTS)):
        assert list(jvm[i].t) == list(py.iloc[i]), (name, EDGE_TEXTS[i][:40])
        assert [(r.term, r.pos) for r in jvmp[i].t] == list(pyp.iloc[i]), (
            name, EDGE_TEXTS[i][:40],
        )
    # chunk-split semantics: the 300-char run yields a 255+45 pair
    # (not a drop) for the letter tokenizers
    if name in ("simple", "stop"):
        toks = list(py.iloc[3])
        assert len(toks[0]) == 255 and len(toks[1]) == 45


def test_build_and_search_with_extra_analyzers(spark, tmp_path):
    """An index built with analyzer='simple' / 'keyword' round-trips:
    digits split away under simple; keyword matches the verbatim line."""
    from pyspark.sql import functions as F

    from lucene_solr_spark.index.builder import IndexConfig, build_index
    from lucene_solr_spark.search.query import TermQuery
    from lucene_solr_spark.search.searcher import IndexSearcher

    rows = [(0, "Alpha42beta THE gamma"), (1, "alpha beta"), (2, "exact line")]
    src = spark.createDataFrame(rows, "doc_id long, text string")

    out_s = str(tmp_path / "simple")
    build_index(
        spark, src, out_s,
        IndexConfig(n_shards=1, segs_per_shard=1, sharding="range_int",
                    analyzer="simple"),
    )
    s = IndexSearcher(spark, out_s)
    # '42' splits 'Alpha42beta' -> alpha, beta; 'the' is NOT stopped
    assert {r.doc_id for r in s.search(TermQuery("alpha"), k=None).collect()} == {0, 1}
    assert {r.doc_id for r in s.search(TermQuery("the"), k=None).collect()} == {0}
    assert s.search(TermQuery("alpha42beta"), k=None).count() == 0

    out_k = str(tmp_path / "kw")
    build_index(
        spark, src, out_k,
        IndexConfig(n_shards=1, segs_per_shard=1, sharding="range_int",
                    analyzer="keyword"),
    )
    sk = IndexSearcher(spark, out_k)
    assert {r.doc_id for r in sk.search(TermQuery("exact line"), k=None).collect()} == {2}
    assert sk.search(TermQuery("exact"), k=None).count() == 0
