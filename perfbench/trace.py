"""Per-layer measurement from outside the engine.

Three sources, all read by the benchmark rather than reported by the
engine:

- spans: wall time around each call into a module's public entry point
  (`Spans`), kept in memory for the whole run;
- Spark's own event log: every timed call runs under a job group, and
  `event_log_groups` sums task metrics and the Python-runner SQL
  metrics per group;
- the `[build-phase] <name>: <s>s` lines `index/builder.py` prints to
  stderr when LSS_TIMING=1 (`phase_times`).
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import statistics
import time
from collections import defaultdict

# Python-runner SQL metric names (Spark's PythonSQLMetrics); timings
# are milliseconds, sizes bytes.
PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"


class Spans:
    """Named wall-time samples. With `spark` set, a span given a
    `group` also tags the Spark jobs it starts with that job group."""

    def __init__(self, spark=None):
        self.spark = spark
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.tagging_s = 0.0  # time spent setting and clearing job groups

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        sc = self.spark.sparkContext if self.spark is not None else None
        tag = sc is not None and group is not None
        if tag:
            t = time.perf_counter()
            sc.setJobGroup(group, name)
            self.tagging_s += time.perf_counter() - t
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.samples[name].append(t1 - t0)
            if tag:
                sc.setLocalProperty("spark.jobGroup.id", None)
                self.tagging_s += time.perf_counter() - t1

    def median(self, name: str) -> float | None:
        xs = self.samples.get(name)
        return statistics.median(xs) if xs else None


_PHASE = re.compile(r"\[build-phase\] (\w+): ([0-9.]+)s")


@contextlib.contextmanager
def capture_stderr():
    """Collect what the enclosed calls print to sys.stderr."""
    buf = io.StringIO()
    with contextlib.redirect_stderr(buf):
        yield buf


def phase_times(text: str) -> dict[str, float]:
    out: dict[str, float] = {}
    for name, sec in _PHASE.findall(text):
        out[name] = out.get(name, 0.0) + float(sec)
    return out


def _num(x) -> float:
    try:
        return float(x)
    except (TypeError, ValueError):
        return 0.0


def _lines(files):
    for path in files:
        with open(path) as fh:
            yield from fh


def event_log_groups(log_dir: str) -> dict[str, dict[str, float]]:
    """Sum, per job group, what the event log in `log_dir` records:
    jobs, stages run, tasks, Python stages, job wall time, executor CPU,
    GC, shuffle write, spill, input records and the Python-runner
    metrics. Call after the session stopped (the log is complete)."""
    files = []
    for dp, _dirs, names in os.walk(log_dir):
        # rolling logs: eventlog_v2_<app>/events_<n>_<app>; else one file
        for n in names:
            if n.startswith("events_") or dp == log_dir:
                files.append(os.path.join(dp, n))
    files.sort(key=lambda p: [int(x) if x.isdigit() else 0
                              for x in os.path.basename(p).split("_")[1:2]])
    if not files:
        raise RuntimeError(f"no event log in {log_dir}")
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    python_stages: set[tuple[str, int]] = set()
    ran_stages: set[tuple[str, int]] = set()
    for line in _lines(files):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if g is None:
                continue
            job_group[ev["Job ID"]] = g
            for sid in ev.get("Stage IDs", ()):
                stage_group[sid] = g
            out[g]["jobs"] += 1
            out[g]["job_ms"] -= _num(ev.get("Submission Time"))
        elif kind == "SparkListenerJobEnd":
            g = job_group.get(ev["Job ID"])
            if g is not None:
                out[g]["job_ms"] += _num(ev.get("Completion Time"))
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev.get("Stage ID"))
            if g is None:
                continue
            o = out[g]
            ran_stages.add((g, ev["Stage ID"]))
            o["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            o["cpu_ms"] += _num(m.get("Executor CPU Time")) / 1e6
            o["gc_ms"] += _num(m.get("JVM GC Time"))
            o["spill_bytes"] += _num(m.get("Memory Bytes Spilled")) + _num(
                m.get("Disk Bytes Spilled"))
            o["shuffle_bytes"] += _num(
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written"))
            o["input_rows"] += _num(
                (m.get("Input Metrics") or {}).get("Records Read"))
            for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                name = acc.get("Name")
                if name == PY_RUN:
                    python_stages.add((g, ev["Stage ID"]))
                    o["py_run_ms"] += _num(acc.get("Update"))
                elif name == PY_START:
                    o["py_start_ms"] += _num(acc.get("Update"))
                elif name == PY_INIT:
                    o["py_init_ms"] += _num(acc.get("Update"))
                elif name == PY_SENT:
                    o["py_sent_bytes"] += _num(acc.get("Update"))
    for g, sid in ran_stages:
        out[g]["stages"] += 1
    for g, sid in python_stages:
        out[g]["python_stages"] += 1
    return {g: dict(v) for g, v in out.items()}


def median_of(groups: dict, names: list[str], field: str) -> float | None:
    """Median of `field` over the named groups (a group that started no
    Spark job counts as 0)."""
    xs = [groups.get(n, {}).get(field, 0.0) for n in names]
    return statistics.median(xs) if xs else None
