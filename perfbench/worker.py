"""One benchmark run inside its own process group (started by run.py).

    python3 perfbench/worker.py --workload serve_warm --seed 1 --seconds 10 \
        --trace 0 --root <temp root> --out <result.json>

Builds the seeded inputs, drives the engine's public API at local[N],
checks every answer against oracle.py and writes one JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import numpy as np  # noqa: E402

import corpus  # noqa: E402
import oracle  # noqa: E402
import trace as tr  # noqa: E402

K = 10  # top-k of every query
MISSING = -1.0  # value of a per-layer metric whose entry point is gone


def n_cores() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def start_session(root: str, traced: bool):
    """The program's own session builder; the benchmark sets only the
    master, driver memory, the local dir and, when traced, the event
    log (the JVM temp dir comes from run.py's environment)."""
    from lucene_solr_spark.session import get_spark

    extra = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(root, "local"),
    }
    if traced:
        os.makedirs(os.path.join(root, "eventlog"), exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(root, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(master=f"local[{n_cores()}]", app_name="perfbench", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def to_query(spec):
    from lucene_solr_spark.search.query import BooleanAnd, BooleanNot, BooleanOr, TermQuery

    kind, must, should, must_not, msm = spec
    if kind == "term":
        return TermQuery(must[0])
    if kind == "and":
        return BooleanAnd(tuple(must))
    if kind == "not":
        return BooleanNot(tuple(must), tuple(must_not))
    if kind == "msm":
        return BooleanOr(tuple(should), min_should_match=msm)
    return BooleanOr(tuple(should))


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dp, f))
    return total


def pinned_mb(spark) -> float:
    """Memory + disk of every cached RDD, from Spark's storage status."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


class Run:
    """State shared by both workloads: session, seeded inputs, the
    oracle's view of the index, timers and the operation tally."""

    def __init__(self, args):
        self.args = args
        self.root = args.root
        self.traced = bool(args.trace)
        self.gen = corpus.Generator(args.seed)
        self.terms = corpus.all_terms()
        self.term_id = {t: i for i, t in enumerate(self.terms)}
        self.coll = oracle.Collection()
        self.spans = tr.Spans()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.lat_ms: list[float] = []
        self.batch_s: list[float] = []
        self.batch_n = 0
        self.refresh: list[float] = []
        self.metrics: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, tuple[float, str]] = {}
        # LSS_TIMING phase times per build, keyed by its job group
        self.build_phases: dict[str, dict] = {}
        self.qn = 0
        self.incorrect: list[str] = []
        # job groups of the timed single queries and batches
        self.timed_groups: dict[str, list[str]] = {"search": [], "batch": []}
        self.timing = False
        self.trace_work_s = 0.0  # probes and log parsing of a traced run
        self.index_dir = os.path.join(self.root, "ix")

    # -- tally ---------------------------------------------------------
    def op(self, reason: str | None, what: str) -> None:
        self.attempted += 1
        if reason is not None:
            self.failed += 1
            self.failures.append(f"{what}: {reason}")

    # -- engine calls, each under a span (and a job group when traced) --
    def span(self, name: str, group: str | None = None):
        return self.spans.span(name, group if self.traced else None)

    def build(self, src_rows, out_dir: str, label: str):
        from lucene_solr_spark.index.builder import IndexConfig, build_index

        df = self.spark.createDataFrame(src_rows, "url string, text string")
        cfg = IndexConfig(n_shards=4, segs_per_shard=2, id_col="url", sharding="hash")
        with tr.capture_stderr() as err, self.span("build", f"build.{label}"):
            build_index(self.spark, df, out_dir, cfg, resume=False)
        if self.traced:
            self.build_phases[f"build.{label}"] = tr.phase_times(err.getvalue())

    def open(self, preload: bool = True):
        from lucene_solr_spark.search.searcher import IndexSearcher

        with self.span("searcher.open"):
            s = IndexSearcher.open(self.spark, self.index_dir)
        if preload:
            with self.span("searcher.preload"):
                s.preload()
        return s

    def search(self, s, spec, k: int = K, timed: bool = True):
        """One single query: plan (search() returns the lazy frame),
        then execute (collect). Returns rows and the latency."""
        self.qn += 1
        if self.timing and timed:
            self.timed_groups["search"].append(f"exec.q{self.qn}")
        layer = "search" if timed else "untimed"
        t0 = time.perf_counter()
        with self.span(f"{layer}.plan", f"plan.q{self.qn}"):
            df = s.search(to_query(spec), k=k)
        with self.span(f"{layer}.exec", f"exec.q{self.qn}"):
            rows = [(int(r[0]), float(r[1])) for r in df.collect()]
        return rows, time.perf_counter() - t0

    def search_many(self, s, specs: dict):
        self.qn += 1
        if self.timing:
            self.timed_groups["batch"].append(f"exec.b{self.qn}")
        t0 = time.perf_counter()
        with self.span("batch.plan", f"plan.b{self.qn}"):
            df = s.search_many({q: to_query(sp) for q, sp in specs.items()}, k=K)
        with self.span("batch.exec", f"exec.b{self.qn}"):
            rows = df.collect()
        out: dict[str, list] = {q: [] for q in specs}
        for r in rows:
            out[r[0]].append((int(r[1]), float(r[2])))
        return out, time.perf_counter() - t0

    # -- checks --------------------------------------------------------
    def doc_ids(self, s):
        """doc_id -> key, and key -> doc id of its newest live version."""
        rows = s.doc_map().select("doc_id", "key").collect()
        doc_key = {int(r[0]): r[1] for r in rows}
        live = self.coll.live_keys()
        live_id: dict = {}
        for d, key in doc_key.items():
            if key in live and d > live_id.get(key, -1):
                live_id[key] = d
        return doc_key, live_id

    def check(self, stats, spec, rows, doc_key, live_id, deleted=frozenset()):
        expected = stats.score(spec, self.term_id)
        why = oracle.check_topk(rows, K, expected, doc_key, live_id)
        if why is None:
            why = oracle.check_properties(
                spec, [doc_key[d] for d, _ in rows], stats, self.term_id, deleted)
        return why

    def manifests(self, s) -> list[dict]:
        """The manifest of the base index and of every delta generation."""
        out = [s.manifest]
        for g in s.manifest.get("delta_generations") or []:
            with open(os.path.join(self.index_dir, g["dir"], "manifest.json")) as fh:
                out.append(json.load(fh))
        return out

    def check_stats(self, s, stats, manifests: list[dict]) -> str | None:
        """maxDoc, sum of term frequencies, avgdl and sampled dfs."""
        if s.max_doc != stats.max_doc:
            return f"max_doc {s.max_doc} != {stats.max_doc}"
        sttf = sum(int(m["sum_total_term_freq"]) for m in manifests)
        if sttf != stats.sum_ttf:
            return f"sum_total_term_freq {sttf} != {stats.sum_ttf}"
        if np.float32(s.avgdl).view(np.uint32) != stats.avgdl.view(np.uint32):
            return f"avgdl {s.avgdl!r} != {stats.avgdl!r}"
        sample = self.gen.rng.choice(len(self.terms) - 1, 6, replace=False)
        sample = [self.terms[i] for i in sample]
        with self.span("search.term_dfs_cold", "plan.dfs"):
            got = s.term_dfs(sample)
        for t in sample:
            if got[t] != stats.df[self.term_id[t]]:
                return f"df({t}) {got[t]} != {stats.df[self.term_id[t]]}"
        return None

    # -- probes of single layers (traced runs) -------------------------
    def probe(self, name: str, unit: str, fn) -> None:
        try:
            value = fn()
        except (ImportError, AttributeError, TypeError) as e:
            print(f"layer missing: {name}: {e!r}", file=sys.stderr)
            value = MISSING
        self.layers[name] = (value, unit)

    def probe_analysis(self, rows, n_tokens: int) -> float:
        from pyspark.sql import functions as F

        from lucene_solr_spark.analysis.jvm import standard_tokens_col

        df = self.spark.createDataFrame(rows, "url string, text string").cache()
        df.count()
        times = []
        for i in range(3):
            with self.span("analysis", f"probe.analysis{i}"):
                got = df.select(F.sum(F.size(standard_tokens_col(F.col("text"))))).first()[0]
            times.append(self.spans.samples["analysis"][-1])
            if got != n_tokens:
                self.incorrect.append(f"analyzer emitted {got} tokens, expected {n_tokens}")
        df.unpersist()
        return n_tokens / statistics.median(times)

    def probe_decode(self) -> float:
        import pyarrow.parquet as pq

        from lucene_solr_spark.index.codec import decode_posting_list

        shard = os.path.join(self.index_dir, "postings", "shard=0")
        t = pq.read_table(shard, columns=["df", "doc_enc", "tf_enc"]).to_pydict()
        rows = list(zip(t["df"], t["doc_enc"], t["tf_enc"]))
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            n = 0
            for df, d, f in rows:
                n += len(decode_posting_list(d, f, df)[0])
            times.append(time.perf_counter() - t0)
        return n / statistics.median(times)

    def probe_floors(self) -> None:
        p = min(self.spark.sparkContext.defaultParallelism, 4)

        def py_stage():
            return (self.spark.range(0, p, 1, p)
                    .mapInPandas(lambda it: it, "id long").collect())

        def jvm_stage():
            return self.spark.range(0, p, 1, p).collect()

        for name, fn in (("seam.pystage_floor_ms", py_stage), ("seam.jvm_floor_ms", jvm_stage)):
            fn()
            xs = []
            for _ in range(5):
                t0 = time.perf_counter()
                fn()
                xs.append((time.perf_counter() - t0) * 1e3)
            self.layers[name] = (statistics.median(xs), "ms")

    def index_layers(self) -> None:
        for name, sub in (("postings", "postings"), ("segments", "segments"),
                          ("doc_map", "doc_map"), ("norms", "norms")):
            self.layers[f"index.{name}_bytes"] = (
                float(dir_bytes(os.path.join(self.index_dir, sub))), "bytes")
        self.layers["index.dict_bytes"] = (float(
            dir_bytes(os.path.join(self.index_dir, "term_stats"))
            + dir_bytes(os.path.join(self.index_dir, "term_stats_rev"))), "bytes")

    # -- result --------------------------------------------------------
    def common_metrics(self, setup_s: float, index_ratio: float, pinned: float) -> None:
        m = self.metrics
        m["setup_s"] = (setup_s, "s")
        m["query_p50_ms"] = (statistics.median(self.lat_ms), "ms")
        m["batch_qps"] = (self.batch_n / statistics.median(self.batch_s), "1/s")
        m["refresh_s"] = (statistics.median(self.refresh), "s")
        m["index_bytes_per_text_byte"] = (index_ratio, "ratio")
        m["pinned_mb"] = (pinned, "MB")

    def layer_metrics(self, groups: dict) -> None:
        L = self.layers
        sp = self.spans

        def med(name, scale=1.0):
            v = sp.median(name)
            return MISSING if v is None else v * scale

        L["searcher.open_s"] = (med("searcher.open"), "s")
        L["searcher.preload_s"] = (med("searcher.preload"), "s")
        L["search.plan_ms"] = (med("search.plan", 1e3), "ms")
        L["search.exec_ms"] = (med("search.exec", 1e3), "ms")
        L["search.term_dfs_cold_ms"] = (med("search.term_dfs_cold", 1e3), "ms")
        L["batch.plan_ms"] = (med("batch.plan", 1e3), "ms")
        L["batch.exec_ms"] = (med("batch.exec", 1e3), "ms")
        hits = max(1, K)
        for prefix, names in self.timed_groups.items():
            def g(field, scale=1.0):
                v = tr.median_of(groups, names, field)
                return MISSING if v is None else v * scale

            L[f"{prefix}.jobs_per_query"] = (g("jobs"), "count")
            L[f"{prefix}.stages_per_query"] = (g("stages"), "count")
            L[f"{prefix}.tasks_per_query"] = (g("tasks"), "count")
            L[f"{prefix}.python_stages_per_query"] = (g("python_stages"), "count")
            L[f"{prefix}.python_start_ms"] = (g("py_start_ms"), "ms")
            L[f"{prefix}.python_init_ms"] = (g("py_init_ms"), "ms")
            L[f"{prefix}.python_run_ms"] = (g("py_run_ms"), "ms")
            L[f"{prefix}.python_bytes_sent"] = (g("py_sent_bytes"), "bytes")
            L[f"{prefix}.executor_cpu_ms"] = (g("cpu_ms"), "ms")
            L[f"{prefix}.shuffle_bytes"] = (g("shuffle_bytes"), "bytes")
            L[f"{prefix}.gc_ms"] = (g("gc_ms"), "ms")
            L[f"{prefix}.scan_rows_per_hit"] = (g("input_rows", 1.0 / hits), "rows")
        # build: the timed builds of the workload (median per build)
        phases = [p for g, p in self.build_phases.items()
                  if g.startswith(self.timed_build_prefix)]
        for ph in ("seg_build_write", "checkpoint", "doc_map", "norms",
                   "merge_write", "term_stats"):
            xs = [p.get(ph, 0.0) for p in phases]
            L[f"build.{ph}_s"] = (statistics.median(xs) if xs else MISSING, "s")
        for field, name, scale, unit in (
                ("py_run_ms", "python_run_s", 1e-3, "s"),
                ("py_sent_bytes", "python_bytes_sent", 1.0, "bytes"),
                ("shuffle_bytes", "shuffle_write_bytes", 1.0, "bytes"),
                ("spill_bytes", "spill_bytes", 1.0, "bytes"),
                ("gc_ms", "gc_s", 1e-3, "s"),
                ("tasks", "tasks", 1.0, "count")):
            names = [g for g in groups if g.startswith(self.timed_build_prefix)]
            v = tr.median_of(groups, names, field)
            L[f"build.{name}"] = (MISSING if v is None else v * scale, unit)
        L["nrt.update_s"] = (sp.median("nrt.update") or 0.0, "s")
        L["nrt.delete_s"] = (sp.median("nrt.delete") or 0.0, "s")
        L["maint.compact_s"] = (sp.median("maint.compact") or 0.0, "s")


SERVE_DOCS = 2000


def serve_warm(run: Run) -> None:
    """Build and preload once; then rounds of single queries over a
    fixed seeded pool, each round closed by one search_many batch."""
    gen = run.gen
    docs = gen.docs(gen.page_keys(SERVE_DOCS))
    run.coll.add(docs)
    stats = run.coll.stats(len(run.terms))
    pool = gen.queries(stats.df, 40)
    rows = docs.rows()

    t0 = time.perf_counter()
    run.spark = start_session(run.root, run.traced)
    run.spans.spark = run.spark
    run.build(rows, run.index_dir, "setup")
    s = run.open()
    setup_s = time.perf_counter() - t0
    pinned = pinned_mb(run.spark)
    ratio = dir_bytes(run.index_dir) / run.coll.text_bytes
    run.timed_build_prefix = "build.setup"

    with open(os.path.join(run.index_dir, "manifest.json")) as fh:
        why = run.check_stats(s, stats, [json.load(fh)])
    if why:
        run.incorrect.append(f"index statistics: {why}")
    doc_key, live_id = run.doc_ids(s)
    # fill the TermStates df cache with every pool term
    s.term_dfs(sorted({t for sp in pool for part in sp[1:4] for t in part}))

    singles: dict[int, list] = {}

    def single(j):
        spec = pool[j]
        rows_, dt = run.search(s, spec)
        run.op(run.check(stats, spec, rows_, doc_key, live_id), f"query {spec}")
        singles[j] = rows_
        return dt

    # warm-up until the median latency of two blocks agrees within 10%
    order = gen.rng.permutation(len(pool))
    prev = None
    for b in range(3):
        cur = statistics.median(single(int(j)) for j in order[b * 2:(b + 1) * 2])
        if prev is not None and abs(cur - prev) <= 0.1 * prev:
            break
        prev = cur
    run.attempted = run.failed = 0
    run.failures.clear()
    run.spans.samples.clear()
    run.timing = True

    batch_ids = [int(j) for j in gen.rng.choice(len(pool), 12, replace=False)]
    # generation order rotates kinds and df tiers, so every run times
    # the same mix
    qorder = list(range(len(pool)))
    t_end = time.perf_counter() + run.args.seconds
    i = 0
    while True:
        for _ in range(4):
            j = qorder[i % len(qorder)]
            i += 1
            run.lat_ms.append(single(j) * 1e3)
        got, dt = run.search_many(s, {f"q{j}": pool[j] for j in batch_ids})
        run.batch_s.append(dt)
        run.batch_n = len(batch_ids)
        why = None
        for j in batch_ids:
            why = run.check(stats, pool[j], got[f"q{j}"], doc_key, live_id)
            if why is None and j in singles and got[f"q{j}"] != singles[j]:
                why = f"search_many differs from search for {pool[j]}"
            if why:
                break
        run.op(why, "search_many")
        if time.perf_counter() >= t_end:
            break

    # reopen: a fresh searcher over the same index answers its first query
    run.spark.catalog.clearCache()  # drops what preload() pinned
    t0 = time.perf_counter()
    s2 = run.open()
    rows_, dt = run.search(s2, pool[0])
    run.refresh.append(time.perf_counter() - t0)
    run.op(run.check(stats, pool[0], rows_, doc_key, live_id), "reopen query")
    run.common_metrics(setup_s, ratio, pinned)

    if run.traced:
        t_probe = time.perf_counter()
        run.probe("analysis.tokens_per_s", "1/s",
                  lambda: run.probe_analysis(rows, int(docs.ptr[-1])))
        run.probe("codec.decode_postings_per_s", "1/s", run.probe_decode)
        run.probe_floors()
        run.index_layers()
        for _ in range(3):
            run.check_stats(s2, stats, [s2.manifest])
        run.spark.catalog.clearCache()
        for name in ("nrt.generations", "nrt.tombstones", "maint.compactions"):
            run.layers[name] = (0.0, "count")  # no writes in this workload
        run.trace_work_s += time.perf_counter() - t_probe


BASE_DOCS = 1000
UPDATES = 60  # keys updated per cycle (plus one sentinel)
# keys deleted per cycle, re-added by the next cycle's update; with the
# 61 replaced versions that is 111 of 1,077 docs deleted, over the
# default policy's 10%, so the first cycle ends in a compaction
DELETES = 50
BATCHES = 3  # search_many calls per cycle; batch_qps takes their median


def ingest_nrt(run: Run) -> None:
    """Writes beside reads. A base index is built in setup; each cycle
    updates existing keys, deletes others, checks that the searcher
    opened in the previous cycle still answers as of its open time,
    reopens and queries the tombstoned two-generation view, then runs
    the default compaction policy (see below) and checks the statistics
    of the index it leaves."""
    from lucene_solr_spark.index.deletes import delete_by_keys, update_documents
    from lucene_solr_spark.index.maintenance import compact_in_place

    gen = run.gen
    base = gen.docs(gen.page_keys(BASE_DOCS))
    sentinels = corpus.sentinel_docs()
    run.coll.add(base)
    run.coll.add(sentinels)
    rows = base.rows() + sentinels.rows()
    stale_spec = ("term", (corpus.SENTINEL_TERM,), (), (), 0)
    stale_k = corpus.N_SENTINELS + 4

    t0 = time.perf_counter()
    run.spark = start_session(run.root, run.traced)
    run.spans.spark = run.spark
    run.build(rows, run.index_dir, "setup")
    prev = run.open(preload=False)
    setup_s = time.perf_counter() - t0
    run.timed_build_prefix = "build.c"
    prev_stats = run.coll.stats(len(run.terms))
    with open(os.path.join(run.index_dir, "manifest.json")) as fh:
        why = run.check_stats(prev, prev_stats, [json.load(fh)])
    if why:
        run.incorrect.append(f"index statistics: {why}")
    prev_ids = run.doc_ids(prev)
    run.spans.samples.clear()
    run.timing = True

    deleted_last: list = []
    pinned = []
    ratios = []
    gens = []
    tombs = []
    compactions = 0
    t_end = time.perf_counter() + run.args.seconds
    cycle = 0
    while cycle == 0 or time.perf_counter() < t_end:
        cycle += 1
        if cycle > 1:  # the searcher this cycle's point-in-time check reads
            prev = run.open(preload=False)
            prev_stats = run.coll.stats(len(run.terms))
            prev_ids = run.doc_ids(prev)
        live = sorted(run.coll.live_keys() - set(sentinels.keys))
        n_upd = UPDATES - len(deleted_last)
        pick = gen.rng.choice(len(live), n_upd + DELETES, replace=False)
        upd_keys = deleted_last + [live[i] for i in pick[:n_upd]]
        del_keys = [live[i] for i in pick[n_upd:]]
        upd = gen.docs(upd_keys)
        j = (cycle - 1) % corpus.N_SENTINELS
        upd.keys.append(sentinels.keys[j])
        upd.texts.append(sentinels.texts[j])
        upd.ids = np.concatenate([upd.ids, sentinels.terms_of(j)])
        upd.ptr = np.append(upd.ptr, len(upd.ids))

        udf = run.spark.createDataFrame(upd.rows(), "url string, text string")
        with tr.capture_stderr() as err, run.span("nrt.update", f"build.c{cycle}"):
            update_documents(run.spark, run.index_dir, udf, f"c{cycle}")
        if run.traced:
            run.build_phases[f"build.c{cycle}"] = tr.phase_times(err.getvalue())
        with run.span("nrt.delete", f"nrt.delete{cycle}"):
            tombs.append(delete_by_keys(run.spark, run.index_dir, del_keys))
        run.coll.add(upd)
        run.coll.kill(del_keys)
        deleted_last = del_keys

        # the searcher opened before this cycle's writes must still
        # answer as of its open time
        rows_, _ = run.search(prev, stale_spec, k=stale_k, timed=False)
        expected = prev_stats.score(stale_spec, run.term_id)
        run.op(oracle.check_topk(rows_, stale_k, expected, *prev_ids),
               "point-in-time searcher after update")
        del prev

        stats = run.coll.stats(len(run.terms))
        # one generated query, its kind rotating with the cycle (OR first)
        specs = [gen.queries(stats.df, 5)[(2 * cycle) % 5]]
        # one query on the rarest term of an updated page's new version
        upd_terms = upd.terms_of(0)
        rare = upd_terms[np.argmin(stats.df[upd_terms])]
        specs.insert(0, ("term", (run.terms[rare],), (), (), 0))
        t_open = time.perf_counter()
        s = run.open()
        results = []
        for spec in specs:
            rows_, dt = run.search(s, spec)
            if not results:
                run.refresh.append(run.spans.samples["nrt.update"][-1]
                                   + run.spans.samples["nrt.delete"][-1]
                                   + time.perf_counter() - t_open)
            run.lat_ms.append(dt * 1e3)
            results.append(rows_)
        batches = []
        for _ in range(BATCHES):
            got, dt = run.search_many(s, {f"q{i}": sp for i, sp in enumerate(specs)})
            run.batch_s.append(dt)
            batches.append(got)
        run.batch_n = len(specs)
        pinned.append(pinned_mb(run.spark))
        gens.append(len(s.manifest.get("delta_generations") or []))

        # checks (untimed): statistics, every single query, the batch
        doc_key, live_id = run.doc_ids(s)
        run.op(run.check_stats(s, stats, run.manifests(s)), "statistics")
        dead = set(deleted_last)
        for spec, rows_ in zip(specs, results):
            run.op(run.check(stats, spec, rows_, doc_key, live_id, dead), f"query {spec}")
        for got in batches:
            why = None
            for i, (spec, rows_) in enumerate(zip(specs, results)):
                why = run.check(stats, spec, got[f"q{i}"], doc_key, live_id, dead)
                if why is None and got[f"q{i}"] != rows_:
                    why = f"search_many differs from search for {spec}"
                if why:
                    break
            run.op(why, "search_many")
        ratios.append(dir_bytes(run.index_dir) / run.coll.text_bytes)
        if run.traced:  # the layout the ratio is measured on
            t_probe = time.perf_counter()
            run.index_layers()
            run.trace_work_s += time.perf_counter() - t_probe

        run.spark.catalog.clearCache()
        del s
        # The policy keeps the cycles alike. After the last cycle it
        # moves no figure, so a plain run skips it there (a compaction
        # costs about as much as a cold build); a traced run always
        # runs it, to measure it.
        if run.traced or time.perf_counter() < t_end:
            with run.span("maint.compact", f"maint.compact{cycle}"):
                compacted = compact_in_place(run.spark, run.index_dir)
            if compacted:
                compactions += 1
                run.coll.purge()
            # the index the policy left holds what the oracle holds
            after = run.open(preload=False)
            why = run.check_stats(after, run.coll.stats(len(run.terms)), run.manifests(after))
            if why:
                run.incorrect.append(f"after the compaction policy: {why}")
            del after

    run.common_metrics(setup_s, statistics.median(ratios), statistics.median(pinned))
    if run.traced:
        run.layers["nrt.generations"] = (float(max(gens)), "count")
        run.layers["nrt.tombstones"] = (float(statistics.median(tombs)), "count")
        run.layers["maint.compactions"] = (float(compactions), "count")
        t_probe = time.perf_counter()
        run.probe("analysis.tokens_per_s", "1/s",
                  lambda: run.probe_analysis(rows, int(base.ptr[-1]) + int(sentinels.ptr[-1])))
        run.probe("codec.decode_postings_per_s", "1/s", run.probe_decode)
        run.probe_floors()
        run.trace_work_s += time.perf_counter() - t_probe


WORKLOADS = {"serve_warm": serve_warm, "ingest_nrt": ingest_nrt}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--root", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    if args.trace:
        os.environ["LSS_TIMING"] = "1"
    run = Run(args)
    run.spark = None
    try:
        WORKLOADS[args.workload](run)
    finally:
        if run.spark is not None:
            run.spark.stop()
    if run.traced:
        t_parse = time.perf_counter()
        groups = tr.event_log_groups(os.path.join(args.root, "eventlog"))
        run.layer_metrics(groups)
        run.layers["trace.overhead_s"] = (
            run.trace_work_s + run.spans.tagging_s + time.perf_counter() - t_parse, "s")
    for f in run.failures + run.incorrect:
        print("failed:", f, file=sys.stderr)
    result = {
        "correct": not run.incorrect,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in run.metrics.items()},
        "layers": {k: {"value": v, "unit": u} for k, (v, u) in run.layers.items()},
    }
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
