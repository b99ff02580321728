"""The one per-shard scoring seam (IndexSearcher._run_shards) under every
caller: physical-plan pins on a preloaded positions index, and the
driver TermStates cache that keeps repeated similarity planning free of
Spark jobs."""

import pytest

DOCS = [
    (0, "table scan fast merge sort"),
    (1, "scan table scan table scan"),
    (2, "merge join sort merge batch"),
    (3, "table big big big scan dup"),
    (4, "sort sort sort table"),
]


def _seam_preload(searcher):
    """preload() with the in-process cap forced to 0: these tests pin
    the Spark seam's plan, which a preloaded index below the cap skips
    (tests/test_in_process_serving.py covers that tier)."""
    from lucene_solr_spark.search import searcher as S

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(S, "IN_PROCESS_MAX_BYTES", 0)
        return searcher.preload()


@pytest.fixture(scope="module")
def seam_index(spark, tmp_path_factory):
    from lucene_solr_spark.index.builder import IndexConfig, build_index
    from lucene_solr_spark.search.searcher import IndexSearcher

    out = str(tmp_path_factory.mktemp("seamix") / "ix")
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    build_index(spark, docs, out, IndexConfig(n_shards=2, segs_per_shard=1,
                                              index_positions=True))
    return _seam_preload(IndexSearcher(spark, out))


def _nodes(plan):
    """Every node of a physical plan, AQE's wrapper unwrapped. A cached
    relation is a leaf here: its own plan is not walked."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    out = [plan]
    kids = plan.children()
    for i in range(kids.size()):
        out.extend(_nodes(kids.apply(i)))
    return out


def _names(attrs):
    return {attrs.apply(i).name() for i in range(attrs.size())}


def _plans(s):
    from lucene_solr_spark.search.query import BooleanAnd, BooleanOr, TermQuery

    q = BooleanOr(("merge", "sort"))
    return {
        "search": lambda: s.search(q, k=5),
        "search_many": lambda: s.search_many(
            {"a": TermQuery("table"), "b": BooleanAnd(("table", "scan"))}, k=5
        ),
        "search_lm": lambda: s.search_lm(q, k=5),
        "search_classic": lambda: s.search_classic(q, k=5),
    }


@pytest.mark.parametrize("path", ["search", "search_many", "search_lm",
                                  "search_classic"])
def test_seam_plan_pinned(seam_index, path):
    """Non-positional specs ship no pos_enc/pay_enc into the cogroup,
    and on a preloaded searcher nothing below the cogroup shuffles:
    both sides scan the pinned, already shard-partitioned frames."""
    df = _plans(seam_index)[path]()
    nodes = _nodes(df._jdf.queryExecution().executedPlan())
    cogroups = [n for n in nodes if n.nodeName() == "FlatMapCoGroupsInPandas"]
    assert len(cogroups) == 1
    cg = cogroups[0]
    kids = cg.children()
    cols = set().union(*(_names(kids.apply(i).output())
                         for i in range(kids.size())))
    assert "term" in cols and not cols & {"pos_enc", "pay_enc"}
    below = [n.nodeName() for n in _nodes(cg)[1:]]
    assert "InMemoryTableScan" in below
    assert "Exchange" not in below, below


def test_repeated_similarity_planning_runs_no_job(spark, seam_index):
    """The second planning of the same search_lm reads (df, cf) from the
    driver TermStates cache: building the DataFrame starts no job."""
    from lucene_solr_spark.search.query import BooleanOr

    sc = spark.sparkContext
    q = BooleanOr(("merge", "join"))

    def jobs_in(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return list(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs_in("seam-plan-cold", lambda: seam_index.search_lm(q, k=5))
    assert jobs_in("seam-plan-warm", lambda: seam_index.search_lm(q, k=5)) == []
    assert jobs_in("seam-exec", lambda: seam_index.search_lm(q, k=5).collect())


@pytest.fixture(scope="module")
def tombstoned_seam(spark, tmp_path_factory):
    from lucene_solr_spark.index.builder import IndexConfig, build_index
    from lucene_solr_spark.index.deletes import delete_by_keys
    from lucene_solr_spark.search.searcher import IndexSearcher

    out = str(tmp_path_factory.mktemp("seamdel") / "ix")
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    build_index(spark, docs, out, IndexConfig(n_shards=2, segs_per_shard=1))
    delete_by_keys(spark, out, [1, 4])
    yield _seam_preload(IndexSearcher(spark, out))
    spark.catalog.clearCache()


@pytest.mark.parametrize("path", ["search", "search_many"])
def test_preloaded_live_docs_add_no_python_stage(tombstoned_seam, path):
    """preload() pins the open-time liveDocs bitmaps with the norms, so
    a query on a tombstoned view runs ONE Python node (the cogroup) and
    shuffles nothing below it — no per-query tombstone resolve."""
    import re

    df = _plans(tombstoned_seam)[path]()
    nodes = _nodes(df._jdf.queryExecution().executedPlan())
    py = [n.nodeName() for n in nodes
          if re.search("InPandas|InArrow|Python", n.nodeName())]
    assert py == ["FlatMapCoGroupsInPandas"], py
    cg = next(n for n in nodes if n.nodeName() == "FlatMapCoGroupsInPandas")
    below = [n.nodeName() for n in _nodes(cg)[1:]]
    assert "Exchange" not in below, below
    got = {int(r.doc_id) for r in df.collect()}
    assert got and not got & {1, 4}
