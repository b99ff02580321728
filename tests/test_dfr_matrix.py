"""Full DFR / IB similarity matrix (functions/dfr.py, round-4 verdict
#5; reference similarities/DFRSimilarity.java, IBSimilarity.java and
the BasicModel*/AfterEffect*/Normalization*/Distribution*/Lambda*
component classes). Brute-force f32 recomputation from raw token
counts must match the engine bitwise at EVERY grid point, and the
pre-matrix I(n)L2 / SPL-DF-H2 defaults must stay byte-identical to the
dedicated kernels."""

import numpy as np
import pytest

from lucene_solr_spark.functions import dfr
from lucene_solr_spark.functions.smallfloat import encode_norm

DOCS = [
    (0, "table scan fast merge sort"),
    (1, "scan table scan table scan"),
    (2, "merge join sort merge batch"),
    (3, "table big big big scan dup"),
    (4, "sort sort sort table"),
]

BASIC_MODELS = ["be", "d", "g", "if", "in", "ine", "p"]
AFTER_EFFECTS = ["b", "l"]
NORMALIZATIONS = ["h1", "h2", "h3", "z"]
DISTRIBUTIONS = ["ll", "spl"]
LAMBDAS = ["df", "ttf"]


def _stats():
    toks = {d: t.split() for d, t in DOCS}
    cf, df = {}, {}
    for ts in toks.values():
        seen = set()
        for t in ts:
            cf[t] = cf.get(t, 0) + 1
            seen.add(t)
        for t in seen:
            df[t] = df.get(t, 0) + 1
    total = sum(cf.values())
    return toks, cf, df, total


def _brute(terms, score_fn, **kw):
    """Per-doc f64 sum of f32 leaves over the OR clause terms, f32
    cast — mirrors the boolean composition of _score_spec."""
    toks, cf, df, total = _stats()
    n = len(DOCS)
    avg = dfr.avg_field_length(total, n)
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
            s = score_fn(np.array([tf]), nb, df[t], cf[t], n, total, avg,
                         **kw)
            acc += np.float64(s[0])
        if hit:
            out[d] = np.float32(acc)
    return out


@pytest.fixture(scope="module")
def mx_index(spark, tmp_path_factory):
    from lucene_solr_spark.index.builder import IndexConfig, build_index
    from lucene_solr_spark.search.searcher import IndexSearcher

    out = str(tmp_path_factory.mktemp("dfrmx") / "ix")
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    build_index(spark, docs, out, IndexConfig(n_shards=2, segs_per_shard=1))
    return IndexSearcher(spark, out)


@pytest.mark.parametrize("bm", BASIC_MODELS)
@pytest.mark.parametrize("norm", NORMALIZATIONS)
def test_dfr_grid_afterL_bitwise(mx_index, bm, norm):
    from lucene_solr_spark.search.query import BooleanOr

    got = {
        r.doc_id: np.float32(r.score)
        for r in mx_index.search_dfr(
            BooleanOr(("merge", "sort")), k=10, basic_model=bm,
            after_effect="l", normalization=norm,
        ).collect()
    }
    want = _brute(["merge", "sort"], dfr.score_dfr, basic_model=bm,
                  after_effect="l", normalization=norm)
    assert got == want


@pytest.mark.parametrize("bm", BASIC_MODELS)
@pytest.mark.parametrize("norm", NORMALIZATIONS)
def test_dfr_grid_afterB_bitwise(mx_index, bm, norm):
    from lucene_solr_spark.search.query import TermQuery

    got = {
        r.doc_id: np.float32(r.score)
        for r in mx_index.search_dfr(
            TermQuery("table"), k=10, basic_model=bm,
            after_effect="b", normalization=norm,
        ).collect()
    }
    want = _brute(["table"], dfr.score_dfr, basic_model=bm,
                  after_effect="b", normalization=norm)
    assert got == want


@pytest.mark.parametrize("dist", DISTRIBUTIONS)
@pytest.mark.parametrize("lam", LAMBDAS)
@pytest.mark.parametrize("norm", NORMALIZATIONS)
def test_ib_grid_bitwise(mx_index, dist, lam, norm):
    from lucene_solr_spark.search.query import BooleanOr

    got = {
        r.doc_id: np.float32(r.score)
        for r in mx_index.search_ib(
            BooleanOr(("merge", "sort")), k=10, distribution=dist,
            lam_kind=lam, normalization=norm,
        ).collect()
    }
    want = _brute(["merge", "sort"], dfr.score_ib, distribution=dist,
                  lam_kind=lam, normalization=norm)
    assert got == want


def test_matrix_defaults_match_pinned_kernels():
    """score_dfr(in,l,h2) == score_dfr_inl2 and score_ib(spl,df,h2) ==
    score_ib_spl, bitwise — the pre-matrix entries stay stable."""
    _toks, cf, df, total = _stats()
    n = len(DOCS)
    avg = dfr.avg_field_length(total, n)
    nb = encode_norm(np.array([4, 5, 6]))
    tf = np.array([1, 2, 3])
    for t in ("table", "sort", "merge"):
        a = dfr.score_dfr(tf, nb, df[t], cf[t], n, total, avg)
        b = dfr.score_dfr_inl2(tf, nb, df[t], n, avg)
        assert a.tobytes() == b.tobytes()
        a = dfr.score_ib(tf, nb, df[t], cf[t], n, total, avg)
        b = dfr.score_ib_spl(tf, nb, df[t], n, avg)
        assert a.tobytes() == b.tobytes()


def test_unknown_components_raise():
    nb = encode_norm(np.array([4]))
    with pytest.raises(ValueError, match="basic model"):
        dfr.score_dfr(np.array([1]), nb, 1, 1, 5, 24, np.float32(4.8),
                      basic_model="xx")
    with pytest.raises(ValueError, match="after effect"):
        dfr.score_dfr(np.array([1]), nb, 1, 1, 5, 24, np.float32(4.8),
                      after_effect="xx")
    with pytest.raises(ValueError, match="normalization"):
        dfr.score_dfr(np.array([1]), nb, 1, 1, 5, 24, np.float32(4.8),
                      normalization="xx")
    with pytest.raises(ValueError, match="distribution"):
        dfr.score_ib(np.array([1]), nb, 1, 1, 5, 24, np.float32(4.8),
                     distribution="xx")
    with pytest.raises(ValueError, match="lambda"):
        dfr.score_ib(np.array([1]), nb, 1, 1, 5, 24, np.float32(4.8),
                     lam_kind="xx")


def test_multi_similarity_sum_bitwise(mx_index):
    """MultiSimilarity (MultiSimilarity.java MultiSimScorer.score):
    per-leaf f32 RUNNING SUM of the sub-similarities, composed before
    the boolean accumulation — pinned against recomputing from the
    sub-leaf functions."""
    import numpy as np

    from lucene_solr_spark.functions import lm
    from lucene_solr_spark.functions.smallfloat import encode_norm
    from lucene_solr_spark.search.query import BooleanOr

    toks, cf, df, total = _stats()
    n = len(DOCS)
    avg = dfr.avg_field_length(total, n)

    def multi_leaf(tf_arr, nb, t):
        cp = lm.collection_probability(cf[t], total)
        a = lm.score_dirichlet(tf_arr, nb, 2000.0, cp)
        b = dfr.score_dfr_inl2(tf_arr, nb, df[t], n, avg)
        return (a + b).astype(np.float32)

    want = {}
    for d, ts in toks.items():
        nb = encode_norm(np.array([len(ts)]))
        acc = np.float64(0.0)
        hit = False
        for t in ("merge", "sort"):
            tf = ts.count(t)
            if tf == 0:
                continue
            hit = True
            acc += np.float64(multi_leaf(np.array([tf]), nb, t)[0])
        if hit:
            want[d] = np.float32(acc)
    got = {
        r.doc_id: np.float32(r.score)
        for r in mx_index.search_multi_sim(
            BooleanOr(("merge", "sort")), k=10
        ).collect()
    }
    assert got == want


def test_explain_matrix_points_bitwise(mx_index):
    """explain_simbase at a matrix point recomposes the exact search
    score (SimilarityBase.explain parity extended to the full grid)."""
    from lucene_solr_spark.search.query import BooleanOr

    q = BooleanOr(("merge", "sort"))
    for kwargs, search in [
        (dict(model="dfr", basic_model="g", after_effect="l",
              normalization="h1"),
         lambda: mx_index.search_dfr(q, k=10, basic_model="g",
                                     after_effect="l",
                                     normalization="h1")),
        (dict(model="ib", distribution="ll", lam_kind="ttf",
              normalization="z"),
         lambda: mx_index.search_ib(q, k=10, distribution="ll",
                                    lam_kind="ttf", normalization="z")),
    ]:
        rows = search().collect()
        assert rows
        top = rows[0]
        ex = mx_index.explain_simbase(q, int(top.doc_id), **kwargs)
        assert ex["match"] is True
        assert np.float32(ex["score"]) == np.float32(top.score)
