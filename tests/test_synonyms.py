"""Index-time synonym expansion (SynonymFilter analog with
includeOrig=true — analysis/synonyms.py). Injected tokens share the
original's position and count toward doc_len/sum_dl, but are
DISCOUNTED from the norm byte (posIncr-0 overlaps,
BM25Similarity.java:141 discountOverlaps=true)."""

import pandas as pd
import pytest

from lucene_solr_spark.analysis.synonyms import (
    expand_token_lists,
    expand_token_pos_lists,
)
from tests.conftest import SF_SMALL

SYN = {"fast": ("quick", "speedy"), "big": ("large",)}


def test_pandas_expansion_plain():
    out = expand_token_lists(
        pd.Series([["fast", "scan"], ["big", "fast"], []]), SYN
    )
    assert out.iloc[0] == ["fast", "quick", "speedy", "scan"]
    assert out.iloc[1] == ["big", "large", "fast", "quick", "speedy"]
    assert out.iloc[2] == []


def test_pandas_expansion_positions_share_slot():
    out = expand_token_pos_lists(
        pd.Series([[("fast", 0), ("scan", 2)]]), SYN
    )
    assert out.iloc[0] == [("fast", 0), ("quick", 0), ("speedy", 0), ("scan", 2)]


def test_no_transitive_expansion():
    # rule outputs are not re-matched (single pass over the INPUT)
    out = expand_token_lists(pd.Series([["fast"]]), {"fast": ("big",), "big": ("large",)})
    assert out.iloc[0] == ["fast", "big"]


def test_jvm_column_matches_pandas(spark):
    import pyspark.sql.functions as F

    from lucene_solr_spark.analysis.synonyms import (
        expand_tokens_col,
        expand_tokens_pos_col,
    )

    df = spark.createDataFrame(
        [(["fast", "scan"],), (["big", "fast"],), ([],)], "toks array<string>"
    )
    got = [r[0] for r in df.select(expand_tokens_col(F.col("toks"), SYN)).collect()]
    exp = expand_token_lists(
        pd.Series([["fast", "scan"], ["big", "fast"], []]), SYN
    ).tolist()
    assert got == exp

    dfp = spark.createDataFrame(
        [([("fast", 0), ("scan", 2)],)],
        "toks array<struct<term:string,pos:int>>",
    )
    gotp = [
        [(s["term"], s["pos"]) for s in r[0]]
        for r in dfp.select(expand_tokens_pos_col(F.col("toks"), SYN)).collect()
    ]
    assert gotp == [[("fast", 0), ("quick", 0), ("speedy", 0), ("scan", 2)]]


@pytest.fixture(scope="module")
def syn_index(spark, tmp_path_factory):
    """The synonym index (positions on, so injected tokens share slots)."""
    from lucene_solr_spark.index.builder import IndexConfig, build_index

    src = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    out = str(tmp_path_factory.mktemp("synidx") / "ix")
    build_index(
        spark, src, out,
        IndexConfig(n_shards=2, segs_per_shard=2,
                    id_col="doc_id", text_col="text",
                    sharding="range_int", index_positions=True,
                    synonyms=SYN),
    )
    return out


def test_synonym_index_df_cf(spark, syn_index):
    """Every term's global df/cf equals counts taken from the pandas
    reference chain (tokenize_standard_with_positions +
    expand_token_pos_lists) over the source texts."""
    from collections import Counter

    from lucene_solr_spark.analysis.analyzers import (
        tokenize_standard_with_positions,
    )

    texts = spark.read.parquet(f"{SF_SMALL}/documents.parquet").toPandas()["text"]
    expanded = expand_token_pos_lists(
        tokenize_standard_with_positions(texts), SYN
    )
    df, cf = Counter(), Counter()
    for pairs in expanded:
        terms = [t for t, _ in pairs]
        cf.update(terms)
        df.update(set(terms))
    exp = {t: (df[t], cf[t]) for t in cf}
    assert exp["quick"] == exp["fast"] and exp["large"] == exp["big"]
    got = {
        r.term: (int(r.df), int(r.cf))
        for r in spark.read.parquet(f"{syn_index}/term_stats").collect()
    }
    assert got == exp


def test_synonym_search_and_norms(spark, syn_index):
    import pyspark.sql.functions as F

    from lucene_solr_spark.search.query import TermQuery
    from lucene_solr_spark.search.searcher import IndexSearcher

    src = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    s = IndexSearcher(spark, syn_index)
    # 'quick' never occurs raw in the corpus — hits == docs with 'fast'
    expect = {
        r["doc_id"]
        for r in src.filter(F.col("text").rlike(r"\bfast\b"))
        .select("doc_id").collect()
    }
    assert expect, "fixture corpus must contain 'fast'"
    got = {r["doc_id"] for r in s.search(TermQuery("quick"), k=None).collect()}
    assert got == expect
    # doc_len includes injected tokens: for a doc with f 'fast' and
    # b 'big' occurrences, len = standard len + 2f + b
    stats = (
        src.select(
            "doc_id",
            F.size(F.split(F.trim("text"), r"\s+")).alias("raw"),
            (F.size(F.split("text", r"\bfast\b")) - 1).alias("nf"),
            (F.size(F.split("text", r"\bbig\b")) - 1).alias("nb"),
            (F.size(F.split("text", r"\bthe\b")) - 1).alias("nstop"),
            (F.size(F.split("text", r"\ba\b")) - 1).alias("nstop2"),
        )
        .collect()
    )
    exp_len = {
        r["doc_id"]: r["raw"] - r["nstop"] - r["nstop2"] + 2 * r["nf"] + r["nb"]
        for r in stats
    }
    got_len = {
        int(r["doc_id"]): int(r["doc_len"])
        for r in s.doc_map().select("doc_id", "doc_len").collect()
    }
    assert got_len == exp_len


def test_synonyms_reject_stemming_analyzer(spark, tmp_path):
    from lucene_solr_spark.index.builder import IndexConfig, build_index

    src = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    with pytest.raises(ValueError, match="incompatible"):
        build_index(
            spark, src, str(tmp_path / "x"),
            IndexConfig(analyzer="english", synonyms=SYN),
        )


def test_synonym_phrase_matches_at_same_position(spark, syn_index):
    """'quick' sits AT the position of 'fast': a phrase 'quick X'
    matches wherever 'fast X' does."""
    from lucene_solr_spark.search.parser import parse_query
    from lucene_solr_spark.search.searcher import IndexSearcher

    s = IndexSearcher(spark, syn_index)
    base = {r["doc_id"] for r in s.search(parse_query('"fast scan"'), k=None).collect()}
    syn = {r["doc_id"] for r in s.search(parse_query('"quick scan"'), k=None).collect()}
    assert syn == base


def test_synonym_norm_discounts_overlaps(spark, syn_index):
    """The norm byte encodes the PRE-expansion length (overlaps
    discounted) even though doc_len / sum_dl count injected tokens."""
    import numpy as np
    import pyspark.sql.functions as F

    from lucene_solr_spark.analysis.analyzers import tokenize_standard
    from lucene_solr_spark.functions.smallfloat import encode_norm
    from lucene_solr_spark.search.searcher import IndexSearcher

    src = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    texts = {int(r.doc_id): r.text for r in src.collect()}
    base_lens = {
        d: len(tokenize_standard(pd.Series([t])).iloc[0])
        for d, t in texts.items()
    }
    s = IndexSearcher(spark, syn_index)
    got = {
        int(r.doc_id): int(r.norm)
        for r in s.doc_map().select("doc_id", "norm").collect()
    }
    exp = {
        d: int(encode_norm(np.array([l]))[0])
        for d, l in base_lens.items()
    }
    assert got == exp
