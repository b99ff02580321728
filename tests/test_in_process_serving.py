"""In-process serving: a preloaded index below IN_PROCESS_MAX_BYTES is
copied into the driver, and `_run_shards` scores every shard there.

Every scoring shape must give the same top-k doc ids and the same f32
score bits as the Spark seam (the same searcher preloaded with the cap
forced to 0), on one tombstoned, two-generation index; a query on the
driver tier, warm or cold, must start no Spark job at all; and the
driver's copy of the term dictionary must give the Spark lookup's
(df, cf) for every term.
"""

from __future__ import annotations

import numpy as np
import pytest

VOCAB = ("table scan spark window vector merge sort batch stream hash "
         "join filter big small fast slow data dup").split()


def _texts(n: int, seed: int) -> list[str]:
    rng = np.random.default_rng(seed)
    return [" ".join(rng.choice(VOCAB, size=int(rng.integers(1, 12))))
            for _ in range(n)]


@pytest.fixture(scope="module")
def tiers(spark, tmp_path_factory):
    """One index (positions on) with a delta generation and tombstones,
    preloaded twice: at the default cap (driver tier) and with the cap
    forced to 0 (Spark tier)."""
    from lucene_solr_spark.index.builder import IndexConfig, build_index
    from lucene_solr_spark.index.deletes import delete_by_keys, update_documents
    from lucene_solr_spark.search import searcher as S

    out = str(tmp_path_factory.mktemp("in_process") / "ix")
    docs = spark.createDataFrame(list(enumerate(_texts(60, 11))),
                                 "doc_id long, text string")
    build_index(spark, docs, out, IndexConfig(n_shards=2, segs_per_shard=1,
                                              index_positions=True))
    update_documents(
        spark, out,
        spark.createDataFrame([(k, t) for k, t in zip((2, 7, 40, 61),
                                                      _texts(4, 12))],
                              "doc_id long, text string"),
        "u0",
    )
    delete_by_keys(spark, out, [0, 5, 33])
    sc = spark.sparkContext
    sc.setJobDescription("caller")
    try:
        driver = S.IndexSearcher.open(spark, out).preload()
        restored = sc.getLocalProperty("spark.job.description")
    finally:
        sc.setJobDescription(None)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(S, "IN_PROCESS_MAX_BYTES", 0)
        seam = S.IndexSearcher.open(spark, out).preload()
    yield {"driver": driver, "spark": seam, "restored": restored, "dir": out}
    spark.catalog.clearCache()


def _fresh(spark, index_dir):
    """A newly opened and preloaded searcher on each tier, so no term
    lookup of an earlier test can have warmed their TermStates caches."""
    from lucene_solr_spark.search import searcher as S

    driver = S.IndexSearcher.open(spark, index_dir).preload()
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(S, "IN_PROCESS_MAX_BYTES", 0)
        seam = S.IndexSearcher.open(spark, index_dir).preload()
    assert (driver.serving_tier, seam.serving_tier) == ("driver", "spark")
    assert not driver._ts_cache and not seam._ts_cache
    return driver, seam


def _jobs_in(sc, group, fn):
    """Ids of the Spark jobs `fn()` starts."""
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _automaton():
    from lucene_solr_spark.search.query import TermAutomatonQuery

    q = TermAutomatonQuery()
    s1 = q.create_state()
    s2 = q.create_state()
    s3 = q.create_state()
    q.add_transition(0, s1, "table")
    q.add_any_transition(s1, s2)
    q.add_transition(s2, s3, "scan")
    q.set_accept(s3)
    return q.finish()


def _shapes():
    from lucene_solr_spark.search.query import (
        BlendedTermQuery, BooleanAnd, BooleanMustShould, BooleanNot,
        BooleanOr, BooleanQuery, Clause, DisjunctionMax, MatchAllDocsQuery,
        PhraseQuery, TermQuery)

    or2 = BooleanOr(("table", "scan"))
    or3 = BooleanOr(("table", "scan", "vector"))
    nested = BooleanQuery((
        Clause("MUST", TermQuery("table")),
        Clause("SHOULD", BooleanOr(("scan", "vector"))),
        Clause("MUST_NOT", TermQuery("dup")),
    ))
    return {
        "term": lambda s: s.search(TermQuery("table"), k=10),
        "and": lambda s: s.search(BooleanAnd(("table", "scan")), k=10),
        "or": lambda s: s.search(or3, k=10),
        "not": lambda s: s.search(BooleanNot(("table",), ("scan",)), k=10),
        "msm": lambda s: s.search(
            BooleanOr(("table", "scan", "vector", "merge"),
                      min_should_match=2), k=10),
        "req_opt": lambda s: s.search(
            BooleanMustShould(("table",), ("scan", "vector")), k=10),
        "dismax": lambda s: s.search(
            DisjunctionMax(("table", "scan"), tie=0.1), k=10),
        "nested": lambda s: s.search(nested, k=10),
        "k_none": lambda s: s.search(or2, k=None),
        "match_all": lambda s: s.search(MatchAllDocsQuery(), k=None),
        "phrase": lambda s: s.search(PhraseQuery(("table", "scan"), slop=2),
                                     k=10),
        "cursor": lambda s: s.search_after(or3, k=5, after_score=_page1(s)[0],
                                           after_doc=_page1(s)[1]),
        "blended": lambda s: s.search(
            BlendedTermQuery(("spark", "table"), tie=0.01), k=10),
        "classic": lambda s: s.search_classic(or3, k=10),
        "sweetspot": lambda s: s.search_sweetspot(
            or3, k=10, ln_min=2, ln_max=6, steepness=0.5, tf_base=1.5,
            tf_min=2.0),
        "lm": lambda s: s.search_lm(or3, k=10),
        "lm_jm": lambda s: s.search_lm(or3, k=10, model="jm"),
        "dfr": lambda s: s.search_dfr(or3, k=10),
        "ib": lambda s: s.search_ib(or3, k=10),
        "multi_sim": lambda s: s.search_multi_sim(or3, k=10),
        "early_top": lambda s: s.search_early_terminated(or2, k=5,
                                                         max_docs_per_shard=4),
        "automaton": lambda s: s.search_term_automaton(_automaton(), k=10),
    }


def _page1(s):
    from lucene_solr_spark.search.query import BooleanOr

    last = s.search(BooleanOr(("table", "scan", "vector")), k=5).collect()[-1]
    return float(last.score), int(last.doc_id)


def _bits(df):
    """Rows with each f32 score as its bit pattern."""
    return [
        tuple(np.float32(v).tobytes() if name == "score" else v
              for name, v in r.asDict().items())
        for r in df.collect()
    ]


@pytest.mark.parametrize("shape", sorted(_shapes()))
def test_driver_tier_matches_spark_seam(tiers, shape):
    run = _shapes()[shape]
    want = _bits(run(tiers["spark"]))
    got = _bits(run(tiers["driver"]))
    assert got == want
    if shape not in ("not",):
        assert want, "the shape matches nothing: the check is vacuous"
    # tombstoned keys 0, 5, 33 and the replaced versions of 2, 7, 40
    assert not {r[0] for r in want} & {0, 2, 5, 7, 33, 40}


def test_search_many_matches_spark_seam(tiers):
    from lucene_solr_spark.search.query import (
        BooleanAnd, BooleanOr, DisjunctionMax, TermQuery)

    qs = {"t": TermQuery("table"), "a": BooleanAnd(("table", "scan")),
          "o": BooleanOr(("vector", "merge", "dup")),
          "d": DisjunctionMax(("spark", "sort"), tie=0.1),
          "z": TermQuery("absentterm")}
    want = _bits(tiers["spark"].search_many(qs, k=4))
    assert want and {r[0] for r in want} == {"t", "a", "o", "d"}
    assert _bits(tiers["driver"].search_many(qs, k=4)) == want


def test_early_terminated_frame_matches_spark_seam(tiers):
    from lucene_solr_spark.search.query import BooleanOr

    q = BooleanOr(("table", "scan", "vector"), min_should_match=2)
    want = sorted(_bits(tiers["spark"].early_terminated_frame(q, 3)))
    assert want
    assert sorted(_bits(tiers["driver"].early_terminated_frame(q, 3))) == want


def test_tiers_and_driver_bytes(tiers):
    from lucene_solr_spark.search import searcher as S

    assert tiers["driver"].serving_tier == "driver"
    assert 0 < tiers["driver"].driver_bytes <= S.IN_PROCESS_MAX_BYTES
    assert tiers["spark"].serving_tier == "spark"
    assert tiers["spark"].driver_bytes == 0
    # preload ran its jobs under its own description, then restored ours
    assert tiers["restored"] == "caller"


def test_warm_queries_start_no_job(spark, tiers):
    """At the default cap a warm search(...).collect() and
    search_many(...).collect() run no Spark job: scoring and the merge
    run in the driver, and the result is a LocalRelation."""
    from lucene_solr_spark.search.query import BooleanOr, TermQuery

    s = tiers["driver"]
    sc = spark.sparkContext
    q = BooleanOr(("table", "scan"))
    many = {"a": TermQuery("vector"), "b": q}

    s.term_dfs(["table", "scan", "vector"])  # warm the TermStates cache
    assert _jobs_in(sc, "ips-search",
                    lambda: s.search(q, k=5).collect()) == []
    assert _jobs_in(sc, "ips-many",
                    lambda: s.search_many(many, k=5).collect()) == []
    # the same calls on the Spark tier do run jobs (the check can fail)
    tiers["spark"].term_dfs(["table", "scan", "vector"])
    assert _jobs_in(sc, "ips-seam",
                    lambda: tiers["spark"].search(q, k=5).collect())


def test_cold_queries_start_no_job(spark, tiers):
    """On a freshly preloaded driver-tier searcher, queries on
    never-queried terms start no Spark job either: their (df, cf) come
    from the driver's copy of the term dictionary. The cap-0 searcher
    still runs its dictionary lookup job."""
    from lucene_solr_spark.search.query import (
        BlendedTermQuery, BooleanAnd, BooleanOr, TermQuery)

    driver, seam = _fresh(spark, tiers["dir"])  # preload jobs run here
    sc = spark.sparkContext
    many = {"a": TermQuery("vector"), "b": BooleanAnd(("merge", "sort"))}
    runs = {
        "search": lambda: driver.search(BooleanOr(("table", "scan")),
                                        k=5).collect(),
        "many": lambda: driver.search_many(many, k=5).collect(),
        "blended": lambda: driver.search(
            BlendedTermQuery(("spark", "window"), tie=0.01), k=5).collect(),
        "lm": lambda: driver.search_lm(BooleanOr(("batch", "stream")),
                                       k=5).collect(),
    }
    for name, run in runs.items():
        cached = set(driver._ts_cache)
        assert _jobs_in(sc, f"ips-cold-{name}", run) == [], name
        assert set(driver._ts_cache) > cached, f"{name} looked up no term"
    assert _jobs_in(sc, "ips-cold-seam", lambda: seam.term_dfs(["hash", "join"]))


def _dictionary_probe(seam, extra):
    terms = sorted(r.term for r in seam._term_stats.select("term").collect())
    return terms, terms + extra


def test_driver_dictionary_matches_spark_lookup(spark, tiers):
    """_term_states from the driver's dictionary equals the Spark
    lookup for every dictionary term, absent terms and field-prefixed
    keys, on the tombstoned two-generation view (df and cf summed over
    both generations)."""
    from lucene_solr_spark.index.builder import FIELD_SEP

    driver, seam = _fresh(spark, tiers["dir"])
    terms, probe = _dictionary_probe(seam, [
        "absentterm", "", "tabl", "tablez", "~", f"source{FIELD_SEP}table",
        f"text{FIELD_SEP}table",
    ])
    assert set(VOCAB) <= set(terms)
    want = seam._term_states(probe)
    assert driver._term_states(probe) == want
    assert want["absentterm"] == (0, 0) and want["table"][0] > 0


def test_driver_dictionary_orders_non_ascii_terms(spark, tmp_path):
    """The dictionary's sort and search share one comparator: an
    accented Latin term, a CJK term, a supplementary-plane term (whose
    UTF-16 order differs from its code-point order) and a U+FFxx term
    are all found, in the default field and a second field, with the
    Spark lookup's (df, cf)."""
    from lucene_solr_spark.index.builder import FIELD_SEP, IndexConfig, build_index

    odd = ["café", "東京", "a\U0001d4b3b", "\U00020000", "ｆｕｌｌ", "\uffe5x"]
    rows = [(i, " ".join([odd[i % len(odd)], odd[(i * 5 + 1) % len(odd)],
                          VOCAB[i % len(VOCAB)]]),
             odd[(i + 2) % len(odd)]) for i in range(24)]
    out = str(tmp_path / "ix")
    build_index(spark, spark.createDataFrame(
        rows, "doc_id long, text string, source string"), out,
        IndexConfig(n_shards=2, segs_per_shard=1, analyzer="whitespace",
                    extra_fields=("source",)))
    driver, seam = _fresh(spark, out)
    prefixed = [f"source{FIELD_SEP}{t}" for t in odd]
    terms, probe = _dictionary_probe(seam, ["zz", "\U0010ffff", "\uffff",
                                            f"source{FIELD_SEP}zz"])
    assert set(odd + prefixed) <= set(terms)
    want = seam._term_states(probe)
    assert driver._term_states(probe) == want
    assert all(want[t][0] > 0 for t in odd + prefixed)
