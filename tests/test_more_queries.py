"""Tests for BooleanMustShould (req+opt), CommonTermsQuery,
searchAfter paging, and MoreLikeThis."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def searcher(spark, docs_index):
    from lucene_solr_spark.search.searcher import IndexSearcher

    out, _ = docs_index
    return IndexSearcher(spark, out)


def test_reqopt_scores(searcher):
    """score = f32(f32(sum must) + f32(sum matching should)); matching
    set = docs containing every MUST term."""
    from lucene_solr_spark.search.query import (
        BooleanMustShould,
        TermQuery,
    )

    must_hits = {
        r.doc_id: r.score
        for r in searcher.search(TermQuery("vector"), k=None, prune=False).collect()
    }
    opt_t = {
        r.doc_id: r.score
        for r in searcher.search(TermQuery("table"), k=None, prune=False).collect()
    }
    opt_s = {
        r.doc_id: r.score
        for r in searcher.search(TermQuery("scan"), k=None, prune=False).collect()
    }
    got = searcher.search(
        BooleanMustShould(("vector",), ("table", "scan")), k=None
    ).collect()
    assert {r.doc_id for r in got} == set(must_hits)
    for r in got:
        opt64 = 0.0
        if r.doc_id in opt_t:
            opt64 += float(np.float32(opt_t[r.doc_id]))
        if r.doc_id in opt_s:
            opt64 += float(np.float32(opt_s[r.doc_id]))
        want = np.float32(
            np.float32(must_hits[r.doc_id]) + np.float32(opt64)
        )
        assert np.float32(r.score) == want, r.doc_id


def test_common_terms_split(searcher):
    """With a cutoff above every df the query degrades to pure AND; with
    a tiny cutoff all terms go optional -> BooleanAnd(should)."""
    from lucene_solr_spark.search.query import (
        BooleanAnd,
        BooleanMustShould,
        CommonTermsQuery,
    )

    q = CommonTermsQuery(("vector", "table"), max_term_frequency=1.0)
    all_must = searcher.search(q, k=20).collect()
    plain_and = searcher.search(BooleanAnd(("vector", "table")), k=20).collect()
    # cutoff=1.0 -> no term is "common" -> same as AND... but AND sums
    # both clauses as required; reqopt with empty should == AND
    assert [(r.doc_id, r.score) for r in all_must] == [
        (r.doc_id, r.score) for r in plain_and
    ]

    # table is high-df: with a mid cutoff it becomes optional
    dfs = searcher.term_dfs(["vector", "table"])
    frac = (dfs["table"] - 1) / searcher.max_doc
    q2 = CommonTermsQuery(("vector", "table"), max_term_frequency=frac)
    manual = searcher.search(
        BooleanMustShould(("vector",), ("table",)), k=20
    ).collect()
    got2 = searcher.search(q2, k=20).collect()
    assert [(r.doc_id, r.score) for r in got2] == [
        (r.doc_id, r.score) for r in manual
    ]


def test_search_after_pages_partition_results(searcher):
    from lucene_solr_spark.search.query import TermQuery

    q = TermQuery("table")
    full = [(r.doc_id, r.score) for r in searcher.search(q, k=30, prune=False).collect()]
    page1 = [(r.doc_id, r.score) for r in searcher.search(q, k=10).collect()]
    cur = page1[-1]
    page2 = [
        (r.doc_id, r.score)
        for r in searcher.search_after(
            q, k=10, after_score=cur[1], after_doc=cur[0]
        ).collect()
    ]
    cur2 = page2[-1]
    page3 = [
        (r.doc_id, r.score)
        for r in searcher.search_after(
            q, k=10, after_score=cur2[1], after_doc=cur2[0]
        ).collect()
    ]
    assert page1 + page2 + page3 == full


def test_more_like_this(spark, searcher):
    from tests.conftest import SF_SMALL

    text = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .where(F.col("doc_id") == 7)
        .select("text")
        .first()[0]
    )
    terms = searcher.mlt_terms(text, max_query_terms=5)
    assert 1 <= len(terms) <= 5
    # extracted terms must occur in the source doc
    toks = set(text.lower().split())
    for t in terms:
        assert t in toks
    hits = searcher.more_like_this(text, k=10).collect()
    assert len(hits) == 10
    # the source doc itself should rank well (it contains all its terms)
    assert 7 in {r.doc_id for r in hits}


def test_explain_recomposes_search_scores(spark, docs_index):
    """IndexSearcher.explain analog: for hits of every boolean query
    class, explain(q, doc).score must equal the search score bitwise,
    the term leaves under `details` must recompose, and a non-matching
    doc must explain as match=False score=0."""
    from lucene_solr_spark.search.query import (
        BooleanAnd,
        BooleanMustShould,
        BooleanNot,
        BooleanOr,
        DisjunctionMax,
        TermQuery,
    )
    from lucene_solr_spark.search.searcher import IndexSearcher

    def term_leaves(nodes):
        out = []
        for n in nodes:
            if n["kind"] == "term":
                out.append(n)
            out += term_leaves(n.get("details", []))
        return out

    s = IndexSearcher(spark, docs_index[0])
    queries = [
        TermQuery("table"),
        BooleanAnd(("scan", "table")),
        BooleanOr(("customer", "spark", "vector")),
        # a repeated clause scores twice in search, so also in explain
        BooleanOr(("table", "table", "scan")),
        BooleanNot(("table",), ("scan",)),
        BooleanMustShould(("vector",), ("table", "scan")),
        DisjunctionMax(("table", "scan"), tie=0.3),
    ]
    for q in queries:
        hits = s.search(q, k=3).collect()
        assert hits, q
        for r in hits:
            ex = s.explain(q, r.doc_id)
            assert ex["match"] is True, (q, r.doc_id)
            assert np.float32(ex["score"]) == np.float32(r.score), (q, r.doc_id)
            leaves = term_leaves(ex["details"])
            assert any(d["match"] for d in leaves)
            # every matching leaf's pieces recompose: wv*tf/(tf+cache)
            for d in leaves:
                assert d["df"] > 0 and d["idf"] > 0, d  # global stats
                assert d["field"] and d["avgdl"] > 0, d
                if d["match"]:
                    wv = np.float32(d["weight_value"])
                    tf = np.float32(d["tf"])
                    c = np.float32(d["norm_cache"])
                    assert np.float32(d["score"]) == np.float32(
                        (wv * tf) / (tf + c)
                    ), d
    # non-matching doc: excluded by MUST_NOT
    nq = BooleanNot(("table",), ("scan",))
    both = s.search(BooleanAnd(("table", "scan")), k=1).collect()
    ex = s.explain(nq, both[0].doc_id)
    assert ex["match"] is False and ex["score"] == 0.0


def test_explain_tree_and_phrase(spark, docs_index):
    """explain for NESTED tree and phrase kinds (IndexSearcher.java:
    561-588 explains every query shape clause-by-clause): the root
    score is bitwise the search score, clause nodes recurse, and term
    leaves carry the BM25 decomposition."""
    from lucene_solr_spark.search.parser import parse_query
    from lucene_solr_spark.search.searcher import IndexSearcher

    s = IndexSearcher(spark, docs_index[0])
    queries = [
        parse_query("+vector (table scan) -dup"),
        parse_query("(fast OR slow) AND value"),
        parse_query("table^2 scan"),
    ]
    for q in queries:
        hits = s.search(q, k=2).collect()
        assert hits, q
        for r in hits:
            ex = s.explain(q, r.doc_id)
            assert ex["match"] is True, (q, r.doc_id)
            assert np.float32(ex["score"]) == np.float32(r.score), (
                q, r.doc_id,
            )
            root = ex["details"][0]
            assert root["match"] and root["score"] == ex["score"]
    # clause structure: bool node exposes per-occur children with
    # term-leaf BM25 pieces
    q = parse_query("(fast OR slow) AND value")
    r = s.search(q, k=1).collect()[0]
    root = s.explain(q, r.doc_id)["details"][0]
    assert root["kind"] == "bool"
    occurs = [c["occur"] for c in root["details"]]
    assert "MUST" in occurs
    leaves = [c for c in root["details"] if c["kind"] == "term"]
    sub = [c for c in root["details"] if c["kind"] == "bool"]
    for leaf in leaves:
        if leaf["match"]:
            assert leaf["df"] > 0 and leaf["tf"] > 0 and leaf["idf"] > 0
    assert sub and any(c["kind"] == "term" for c in sub[0]["details"])
    # non-matching doc explains false/0 through the tree path
    hits_all = {x.doc_id for x in s.search(q, k=None).collect()}
    non = next(i for i in range(200) if i not in hits_all)
    exn = s.explain(q, non)
    assert exn["match"] is False and exn["score"] == 0.0


def test_highlight_snippets(spark, docs_index):
    """Highlighter: the snippet is the BEST ±window display-token
    passage (PassageScorer ranking — idf-weighted match count inside
    the span, earlier center breaks ties); every matching token inside
    is wrapped; passage clamps at doc start; hit set == search
    top-k."""
    from lucene_solr_spark.search.query import BooleanOr, TermQuery
    from lucene_solr_spark.search.searcher import IndexSearcher

    s = IndexSearcher(spark, docs_index[0])
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    w = 2
    out = s.highlight(TermQuery("table"), docs, k=10, window=w).collect()
    top = s.search_with_keys(TermQuery("table"), k=10).collect()
    assert [r.doc_id for r in out] == [r.key for r in top]
    text_by_id = {r.doc_id: r.text for r in docs.collect()}
    for r in out:
        assert "<em>table</em>" in r.snippet
        plain = r.snippet.replace("<em>", "").replace("</em>", "")
        toks = plain.split()
        assert len(toks) <= 2 * w + 1
        src = text_by_id[r.doc_id].split()
        centers = [i for i, t in enumerate(src) if t.lower() == "table"]
        best, best_cnt = centers[0], -1
        for i in centers:
            cnt = sum(1 for j in centers if abs(j - i) <= w)
            if cnt > best_cnt:
                best, best_cnt = i, cnt
        lo = max(0, best - w)
        assert toks == src[lo : best + w + 1]
    # multi-term: every query-term occurrence inside the window wraps
    out2 = s.highlight(BooleanOr(("table", "scan")), docs, k=5).collect()
    for r in out2:
        assert "<em>" in r.snippet


def test_highlight_picks_densest_passage(spark, tmp_path):
    """A doc whose FIRST match is isolated but whose later matches
    cluster must snippet the dense cluster (the PostingsHighlighter
    ranked-passage behavior, not first-occurrence)."""
    from lucene_solr_spark.index.builder import IndexConfig, build_index
    from lucene_solr_spark.search.query import TermQuery
    from lucene_solr_spark.search.searcher import IndexSearcher

    rows = [(0, "table one two three four five table x table table y")]
    src = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "hlix")
    build_index(
        spark, src, out,
        IndexConfig(n_shards=1, segs_per_shard=1, id_col="doc_id",
                    text_col="text", sharding="range_int"),
    )
    s = IndexSearcher(spark, out)
    snip = s.highlight(TermQuery("table"), src, k=1, window=2).first().snippet
    # densest ±2 window centers on the 'table table' cluster (3 matches)
    assert snip == "<em>table</em> x <em>table</em> <em>table</em> y"


def test_highlight_multi_passage(spark, tmp_path):
    """max_passages > 1 (PostingsHighlighter maxPassages / Solr
    hl.snippets): top-N non-overlapping passages, emitted in document
    order joined by '... '."""
    from lucene_solr_spark.index.builder import IndexConfig, build_index
    from lucene_solr_spark.search.query import TermQuery
    from lucene_solr_spark.search.searcher import IndexSearcher

    rows = [(0, "table one two three four five table x table table y")]
    src = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "hlix2")
    build_index(
        spark, src, out,
        IndexConfig(n_shards=1, segs_per_shard=1, id_col="doc_id",
                    text_col="text", sharding="range_int"),
    )
    s = IndexSearcher(spark, out)
    snip = s.highlight(
        TermQuery("table"), src, k=1, window=2, max_passages=2
    ).first().snippet
    # best passage = the dense cluster; second = the isolated leading
    # match; output in DOCUMENT order (leading passage first)
    assert snip == (
        "<em>table</em> one two... "
        "<em>table</em> x <em>table</em> <em>table</em> y"
    )
    # max_passages=1 unchanged (regression pin for the entry oracle)
    one = s.highlight(TermQuery("table"), src, k=1, window=2).first().snippet
    assert one == "<em>table</em> x <em>table</em> <em>table</em> y"


def test_termfreq_rows_matches_dictionary_and_source(spark, docs_index):
    from pyspark.sql import functions as F

    from lucene_solr_spark.search.searcher import IndexSearcher

    s = IndexSearcher(spark, docs_index[0])
    rows = s.termfreq_rows("table").collect()
    assert rows, "fixture corpus contains 'table'"
    # sum(tf) over the term's postings == the dictionary's cf
    cf = (
        s._term_stats.where(F.col("term") == "table")
        .select("cf")
        .collect()[0][0]
    )
    assert sum(r.tf for r in rows) == cf
    # per-doc tf matches a source-text recount (standard-chain tokens
    # are lowercase alphanumeric runs; 'table' has no case/stop issues)
    src = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    keymap = {r.doc_id: r.key for r in s.doc_map().collect()}
    want = {
        r.doc_id: r.n
        for r in src.select(
            "doc_id",
            F.size(
                F.filter(
                    F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                    lambda t: t == F.lit("table"),
                )
            ).alias("n"),
        ).collect()
        if r.n > 0
    }
    got = {keymap[r.doc_id]: r.tf for r in rows}
    assert got == want


# ---------------------------------------------------------------------
# AnalyzingQueryParser (queryparser/analyzing)
# ---------------------------------------------------------------------


def test_analyzing_parser_folds_mtq_text():
    from lucene_solr_spark.search.parser import (
        analyzing_parse_query,
        parse_query,
    )
    from lucene_solr_spark.search.query import (
        FuzzyQuery,
        PrefixQuery,
        TermRangeQuery,
        WildcardQuery,
    )

    # folding chain: accents fold in analyzed chunks
    assert analyzing_parse_query(
        "Café*", analyzer="standard_folding"
    ) == PrefixQuery("cafe")
    # classic parser only lowercases — the accent survives
    assert parse_query("Café*", analyzer="standard_folding") == PrefixQuery(
        "café"
    )
    q = analyzing_parse_query("Ta?le*", analyzer="standard_folding")
    assert q == WildcardQuery("ta?le*")
    assert analyzing_parse_query(
        "tablé~1", analyzer="standard_folding"
    ) == FuzzyQuery("table", max_edits=1)
    assert analyzing_parse_query(
        "[Áa TO Zé]", analyzer="standard_folding"
    ) == TermRangeQuery("aa", "ze")


def test_analyzing_parser_rejects_multi_token_chunks():
    import pytest as _pytest

    from lucene_solr_spark.search.parser import analyzing_parse_query

    with _pytest.raises(ValueError, match="expected 1"):
        analyzing_parse_query("x-y*")  # chunk 'x-y' -> two tokens
    with _pytest.raises(ValueError):
        # stopword chunk analyzes to zero tokens
        analyzing_parse_query("the*")
    # but a chunk whose extra token is a stopword is fine: 'a-b' -> 'b'
    from lucene_solr_spark.search.query import PrefixQuery

    assert analyzing_parse_query("a-b*") == PrefixQuery("b")
