"""LM Dirichlet / Jelinek-Mercer similarities (functions/lm.py,
IndexSearcher.search_lm; reference similarities/LMDirichletSimilarity.java,
LMJelinekMercerSimilarity.java). Brute-force f32 recomputation from raw
token counts must match the engine bitwise."""

import numpy as np
import pytest

from lucene_solr_spark.functions import lm
from lucene_solr_spark.functions.smallfloat import encode_norm

DOCS = [
    (0, "table scan fast merge sort"),
    (1, "scan table scan table scan"),
    (2, "merge join sort merge batch"),
    (3, "table big big big scan dup"),
    (4, "sort sort sort table"),
]


def _stats():
    toks = {d: t.split() for d, t in DOCS}
    cf = {}
    for ts in toks.values():
        for t in ts:
            cf[t] = cf.get(t, 0) + 1
    total = sum(cf.values())
    return toks, cf, total


def _brute(term_groups, model, mu=2000.0, lam=0.1):
    """Per-doc f64 sum of f32 leaves over the clause terms, f32 cast —
    mirrors the boolean composition. term_groups: list of terms (OR)."""
    toks, cf, total = _stats()
    out = {}
    for d, ts in toks.items():
        nb = encode_norm(np.array([len(ts)]))
        acc = np.float64(0.0)
        hit = False
        for t in term_groups:
            tf = ts.count(t)
            if tf == 0:
                continue
            hit = True
            cp = lm.collection_probability(cf[t], total)
            fn = lm.score_dirichlet if model == "dirichlet" else lm.score_jm
            s = fn(np.array([tf]), nb, mu if model == "dirichlet" else lam,
                   cp)
            acc += np.float64(s[0])
        if hit:
            out[d] = np.float32(acc)
    return out


@pytest.fixture(scope="module")
def lm_index(spark, tmp_path_factory):
    from lucene_solr_spark.index.builder import IndexConfig, build_index
    from lucene_solr_spark.search.searcher import IndexSearcher

    out = str(tmp_path_factory.mktemp("lmix") / "ix")
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    build_index(spark, docs, out, IndexConfig(n_shards=2, segs_per_shard=1))
    return IndexSearcher(spark, out)


@pytest.mark.parametrize("model", ["dirichlet", "jm"])
def test_lm_term_bitwise(lm_index, model):
    from lucene_solr_spark.search.query import TermQuery

    got = {
        r.doc_id: np.float32(r.score)
        for r in lm_index.search_lm(TermQuery("table"), k=10,
                                    model=model).collect()
    }
    assert got == _brute(["table"], model)


@pytest.mark.parametrize("model", ["dirichlet", "jm"])
def test_lm_or_bitwise(lm_index, model):
    from lucene_solr_spark.search.query import BooleanOr

    got = {
        r.doc_id: np.float32(r.score)
        for r in lm_index.search_lm(BooleanOr(("merge", "sort")), k=10,
                                    model=model).collect()
    }
    assert got == _brute(["merge", "sort"], model)


def test_lm_and_conjunction(lm_index):
    from lucene_solr_spark.search.query import BooleanAnd

    got = {
        r.doc_id: np.float32(r.score)
        for r in lm_index.search_lm(BooleanAnd(("table", "scan")),
                                    k=10).collect()
    }
    # AND restricts to docs containing both; scores = sum of the leaves
    exp = _brute(["table", "scan"], "dirichlet")
    exp = {d: s for d, s in exp.items() if d in (0, 1, 3)}
    assert got == exp


def test_lm_dirichlet_clamps_negative():
    # a long doc of common terms drives log(mu/(dl+mu)) negative past
    # the tf term -> LMDirichletSimilarity clamps the leaf at 0
    nb = encode_norm(np.array([10_000_000]))
    cp = lm.collection_probability(999_999, 1_000_000)
    s = lm.score_dirichlet(np.array([1]), nb, 2000.0, cp)
    assert s[0] == np.float32(0.0)


def test_lm_absent_term_empty(lm_index):
    from lucene_solr_spark.search.query import TermQuery

    assert lm_index.search_lm(TermQuery("zzz"), k=5).collect() == []


def _brute_simbase(terms, fn):
    """f64 sum of f32 leaves over clause terms (leaf = fn(tf, nb, df))."""
    toks, cf, total = _stats()
    n_docs = len(DOCS)
    dfv = {t: sum(1 for ts in toks.values() if t in ts) for t in cf}
    out = {}
    for d, ts in toks.items():
        nb = encode_norm(np.array([len(ts)]))
        acc = np.float64(0.0)
        hit = False
        for t in terms:
            tf = ts.count(t)
            if tf == 0:
                continue
            hit = True
            acc += np.float64(fn(np.array([tf]), nb, dfv[t])[0])
        if hit:
            out[d] = np.float32(acc)
    return out


def test_dfr_inl2_bitwise(lm_index):
    from lucene_solr_spark.functions import dfr
    from lucene_solr_spark.search.query import BooleanOr, TermQuery

    toks, cf, total = _stats()
    avg = dfr.avg_field_length(total, len(DOCS))

    def leaf(tf, nb, df):
        return dfr.score_dfr_inl2(tf, nb, df, len(DOCS), avg)

    got = {
        r.doc_id: np.float32(r.score)
        for r in lm_index.search_dfr(TermQuery("table"), k=10).collect()
    }
    assert got == _brute_simbase(["table"], leaf)

    got = {
        r.doc_id: np.float32(r.score)
        for r in lm_index.search_dfr(BooleanOr(("merge", "sort")),
                                     k=10).collect()
    }
    assert got == _brute_simbase(["merge", "sort"], leaf)


def test_ib_spl_bitwise(lm_index):
    from lucene_solr_spark.functions import dfr
    from lucene_solr_spark.search.query import BooleanAnd, TermQuery

    toks, cf, total = _stats()
    avg = dfr.avg_field_length(total, len(DOCS))

    def leaf(tf, nb, df):
        return dfr.score_ib_spl(tf, nb, df, len(DOCS), avg)

    got = {
        r.doc_id: np.float32(r.score)
        for r in lm_index.search_ib(TermQuery("scan"), k=10).collect()
    }
    assert got == _brute_simbase(["scan"], leaf)

    got = {
        r.doc_id: np.float32(r.score)
        for r in lm_index.search_ib(BooleanAnd(("table", "scan")),
                                    k=10).collect()
    }
    exp = _brute_simbase(["table", "scan"], leaf)
    exp = {d: s for d, s in exp.items() if d in (0, 1, 3)}
    assert got == exp


def test_ib_lambda_snap():
    # df == N -> lambda == 1f snaps to 0.99f (DistributionSPL.java:35-37)
    from lucene_solr_spark.functions import dfr

    nb = encode_norm(np.array([5]))
    s = dfr.score_ib_spl(np.array([2]), nb, 5, 5, np.float32(5.0))
    assert np.isfinite(s[0]) and s[0] > 0


@pytest.mark.parametrize("model,method", [
    ("dirichlet", "search_lm"), ("jm", "search_lm"),
    ("dfr", "search_dfr"), ("ib", "search_ib"),
])
def test_explain_simbase_bitwise(lm_index, model, method):
    from lucene_solr_spark.search.query import BooleanOr

    q = BooleanOr(("table", "scan"))
    kw = {"model": model} if method == "search_lm" else {}
    hits = getattr(lm_index, method)(q, k=10, **kw).collect()
    assert hits
    for r in hits:
        ex = lm_index.explain_simbase(q, int(r.doc_id), model=model)
        assert ex["match"] is True
        assert np.float32(ex["score"]) == np.float32(r.score)
        assert sum(1 for n in ex["terms"] if n["tf"] > 0) >= 1
    # doc 2 has neither table nor scan
    miss = lm_index.explain_simbase(q, 2, model=model)
    assert miss["match"] is False and miss["score"] == 0.0


def test_explain_simbase_and_requires_all(lm_index):
    from lucene_solr_spark.search.query import BooleanAnd

    q = BooleanAnd(("table", "merge"))
    # doc 0 has both; doc 4 has table only
    ex0 = lm_index.explain_simbase(q, 0, model="dirichlet")
    assert ex0["match"] is True and ex0["score"] > 0
    ex4 = lm_index.explain_simbase(q, 4, model="dirichlet")
    assert ex4["match"] is False and ex4["score"] == 0.0


def test_explain_classic_bitwise(lm_index):
    from lucene_solr_spark.search.query import (BooleanAnd, BooleanOr,
                                                TermQuery)

    for q in (TermQuery("table"), BooleanOr(("table", "scan")),
              BooleanAnd(("table", "scan"))):
        hits = lm_index.search_classic(q, k=10).collect()
        assert hits
        for r in hits:
            ex = lm_index.explain_classic(q, int(r.doc_id))
            assert ex["match"] is True
            assert np.float32(ex["score"]) == np.float32(r.score)
    # coord shows up on partial disjunction matches: doc 2 has neither
    miss = lm_index.explain_classic(BooleanOr(("table", "scan")), 2)
    assert miss["match"] is False and miss["score"] == 0.0
    # doc 4 ("sort sort sort table") matches 1 of 2 -> coord 0.5
    ex4 = lm_index.explain_classic(BooleanOr(("table", "scan")), 4)
    assert ex4["coord"] == 0.5


@pytest.mark.parametrize("model,method", [
    ("dirichlet", "search_lm"), ("jm", "search_lm"),
    ("dfr", "search_dfr"), ("ib", "search_ib"),
])
def test_simbase_nested_tree_bitwise(lm_index, model, method):
    """Pluggable-leaf _eval_tree: '+table (scan merge^2) -dup' under
    every SimilarityBase flavor equals the hand-computed BooleanWeight
    composition f32(req32 + f32(opt64))."""
    from lucene_solr_spark.functions import dfr as dfrmod
    from lucene_solr_spark.functions import lm
    from lucene_solr_spark.search.parser import parse_query

    toks, cf, total = _stats()
    n_docs = len(DOCS)
    dfv = {t: sum(1 for ts in toks.values() if t in ts) for t in cf}
    avg = dfrmod.avg_field_length(total, n_docs)

    def leaf(t, d, boost):
        tf = toks[d].count(t)
        if tf == 0:
            return None
        nb = encode_norm(np.array([len(toks[d])]))
        a = np.array([tf])
        if model == "dirichlet":
            cp = lm.collection_probability(cf[t], total)
            return lm.score_dirichlet(a, nb, 2000.0, cp, boost)[0]
        if model == "jm":
            cp = lm.collection_probability(cf[t], total)
            return lm.score_jm(a, nb, 0.1, cp, boost)[0]
        if model == "dfr":
            return dfrmod.score_dfr_inl2(a, nb, dfv[t], n_docs, avg,
                                         1.0, boost)[0]
        return dfrmod.score_ib_spl(a, nb, dfv[t], n_docs, avg, 1.0,
                                   boost)[0]

    exp = {}
    for d, ts in toks.items():
        if "table" not in ts or "dup" in ts:
            continue
        req = np.float32(np.float64(leaf("table", d, 1.0)))
        opt64 = np.float64(0.0)
        for t, b in (("scan", 1.0), ("merge", 2.0)):
            v = leaf(t, d, b)
            if v is not None:
                opt64 += np.float64(v)
        exp[d] = np.float32(req + np.float32(opt64))

    q = parse_query("+table (scan merge^2.0) -dup")
    kw = {"model": model} if method == "search_lm" else {}
    got = {
        r.doc_id: np.float32(r.score)
        for r in getattr(lm_index, method)(q, k=10, **kw).collect()
    }
    assert got == exp


def test_simbase_tree_rejects_phrase(lm_index):
    from lucene_solr_spark.search.parser import parse_query

    with pytest.raises(ValueError, match="BM25-only"):
        lm_index.search_lm(parse_query('+table "table scan"'), k=5)


# search method + kwargs, explain method + kwargs (None: no explain)
SIMILARITIES = {
    "classic": ("search_classic", {}, "explain_classic", {}),
    "sweetspot": ("search_sweetspot", {}, "explain_sweetspot", {}),
    "dirichlet": ("search_lm", {}, "explain_simbase", {}),
    "jm": ("search_lm", {"model": "jm"}, "explain_simbase", {"model": "jm"}),
    "dfr": ("search_dfr", {}, "explain_simbase", {"model": "dfr"}),
    "ib": ("search_ib", {}, "explain_simbase", {"model": "ib"}),
    "multi_sim": ("search_multi_sim", {}, None, None),
}


@pytest.mark.parametrize("sim", sorted(SIMILARITIES))
def test_similarity_min_should_match(lm_index, sim):
    """BooleanOr min_should_match holds under every similarity, as in
    BM25 search: doc 4 ("sort sort sort table") matches one of the
    three clauses, so msm=2 leaves docs 0 and 2; explain agrees."""
    from lucene_solr_spark.search.query import BooleanOr

    q = BooleanOr(("merge", "sort", "join"), min_should_match=2)
    bm25_docs = sorted(r.doc_id for r in lm_index.search(q, k=10).collect())
    assert bm25_docs == [0, 2]
    method, kw, explain, ekw = SIMILARITIES[sim]
    hits = getattr(lm_index, method)(q, k=10, **kw).collect()
    assert sorted(r.doc_id for r in hits) == bm25_docs
    if explain is None:
        return
    for r in hits:
        ex = getattr(lm_index, explain)(q, int(r.doc_id), **ekw)
        assert ex["match"] is True
        assert np.float32(ex["score"]) == np.float32(r.score)
    ex4 = getattr(lm_index, explain)(q, 4, **ekw)
    assert ex4["match"] is False and ex4["score"] == 0.0


# entry point -> (call, its ValueError message for a query it rejects)
ENTRY_POINTS = {
    "search_classic": (
        lambda s, q: s.search_classic(q, k=5),
        "search_classic supports term/and/or queries",
    ),
    "search_lm": (
        lambda s, q: s.search_lm(q, k=5),
        "search_lm supports term/and/or and nested boolean queries",
    ),
    "early_terminated_frame": (
        lambda s, q: s.early_terminated_frame(q, 3),
        "early-terminated collection supports term/and/or queries",
    ),
}


def _shape(name):
    from lucene_solr_spark.search.parser import parse_query
    from lucene_solr_spark.search.query import (BooleanAnd,
                                                BooleanMustShould,
                                                BooleanNot, BooleanOr,
                                                DisjunctionMax, PhraseQuery,
                                                TermQuery)

    return {
        "term": TermQuery("table"),
        "and": BooleanAnd(("table", "scan")),
        "or": BooleanOr(("table", "scan")),
        "not": BooleanNot(("table",), ("scan",)),
        "reqopt": BooleanMustShould(("table",), ("scan",)),
        "dismax": DisjunctionMax(("table", "scan"), tie=0.1),
        "phrase": PhraseQuery(("table", "scan")),
        "nested": parse_query("+table (scan merge)"),
    }[name]


@pytest.mark.parametrize("entry", sorted(ENTRY_POINTS))
@pytest.mark.parametrize(
    "shape",
    ["term", "and", "or", "not", "reqopt", "dismax", "phrase", "nested"],
)
def test_accepted_query_sets(lm_index, entry, shape):
    """The query shapes each similarity / early-termination entry point
    accepts, and the exact ValueError for the rest: Term / BooleanAnd /
    BooleanOr everywhere, nested BooleanQuery trees only under the
    SimilarityBase family; NOT, req+opt, dismax and phrase nowhere."""
    import re

    call, msg = ENTRY_POINTS[entry]
    q = _shape(shape)
    if shape in ("term", "and", "or") or (
        shape == "nested" and entry == "search_lm"
    ):
        assert call(lm_index, q).count() > 0
    else:
        with pytest.raises(ValueError, match=f"^{re.escape(msg)}$"):
            call(lm_index, q)
