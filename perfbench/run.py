"""Engine benchmark: one run of one workload, as one command.

    python3 perfbench/run.py --workload serve_warm --seed 1 --seconds 20 --trace 0

Run from the repository root. The run happens in a child process
(worker.py) that gets its own session and process group, its own temp
root under .perfbench_tmp/ and its own TMPDIR and SPARK_LOCAL_DIRS. This
supervisor kills the group when the child ends or overruns, checks that
no process of the group survived and removes the temp root. In traced
runs it also samples the resident memory of the child's process session
(driver, JVM, Python workers) from /proc.

--trace 0 prints the end-to-end metrics. --trace 1 runs the workload
with tracing on (Spark event log, LSS_TIMING=1, a job group per timed
call, layer probes after the timed part) and prints the per-layer
metrics instead.

The last line of stdout is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve_warm", "ingest_nrt")
CHILD_TIMEOUT_S = 170.0
PAGE = os.sysconf("SC_PAGE_SIZE")


def session_pids(sid: int) -> list[int]:
    """Pids of live processes in session `sid`."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        # fields[0] is the state, fields[3] the session id
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append(int(name))
    return out


def session_rss(sid: int) -> tuple[int, int, int]:
    """(RSS bytes of the whole session, RSS bytes of its processes other
    than Python workers, number of Python worker processes)."""
    total = driver = workers = 0
    for pid in session_pids(sid):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                rss = int(fh.read().split()[1]) * PAGE
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                is_worker = b"pyspark.daemon" in fh.read()
        except OSError:
            continue
        total += rss
        if is_worker:
            workers += 1
        else:
            driver += rss
    return total, driver, workers


def kill_session(proc: subprocess.Popen) -> list[int]:
    """Terminate every process of the child's session and wait for them;
    returns the pids still alive afterwards."""
    sid = proc.pid
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(sid, sig)
        except ProcessLookupError:
            pass
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            if proc.poll() is None:
                time.sleep(0.05)
                continue
            if not session_pids(sid):
                return []
            time.sleep(0.1)
    proc.poll()
    # processes whose parent died are reparented, but keep the session
    for pid in session_pids(sid):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    time.sleep(0.5)
    return session_pids(sid)


def run_child(args, tmp_root: str) -> tuple[dict, list[float]]:
    """Run worker.py once; returns its result and, when traced, the
    peaks of session_rss over the run (MB, MB, count)."""
    os.makedirs(os.path.join(tmp_root, "tmp"))
    os.makedirs(os.path.join(tmp_root, "local"))
    env = dict(os.environ)
    env.update({
        "TMPDIR": os.path.join(tmp_root, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(tmp_root, "local"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # every JVM of the run (spark-submit's launcher and the driver)
        # keeps its temp files and perf data out of /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(tmp_root, 'tmp')} -XX:-UsePerfData",
    })
    env.pop("LSS_TIMING", None)
    out = os.path.join(tmp_root, "result.json")
    log_path = os.path.join(tmp_root, "worker.log")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--root", tmp_root, "--out", out]
    peak = [0, 0, 0]
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                                stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            if args.trace:
                deadline = time.monotonic() + CHILD_TIMEOUT_S
                while proc.poll() is None and time.monotonic() < deadline:
                    peak = [max(a, b) for a, b in zip(peak, session_rss(proc.pid))]
                    time.sleep(0.2)
            else:
                try:
                    proc.wait(timeout=CHILD_TIMEOUT_S)
                except subprocess.TimeoutExpired:
                    pass
        finally:
            timed_out = proc.poll() is None
            survivors = kill_session(proc)
    if survivors:
        raise RuntimeError(f"processes of the run survived: {survivors}")
    if timed_out or proc.returncode != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as fh:
            tail = fh.read()[-6000:]
        why = "timed out" if timed_out else f"exit code {proc.returncode}"
        raise RuntimeError(f"worker {why}:\n{tail}")
    with open(log_path, errors="replace") as fh:
        for line in fh:
            if line.startswith(("failed:", "layer missing:")):
                print(line.rstrip(), file=sys.stderr)
    with open(out) as fh:
        return json.load(fh), [peak[0] / 2**20, peak[1] / 2**20, float(peak[2])]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("lucene_solr_spark") is None:
        print(f"lucene_solr_spark is not importable from {ROOT}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_tmp")
    tmp_root = os.path.join(base, f"run-{os.getpid()}-{time.time_ns()}")
    # a SIGTERM from whoever runs us still cleans up the child group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        res, (tree_mb, driver_mb, workers) = run_child(args, tmp_root)
        if args.trace:
            metrics = dict(res["layers"])
            metrics["mem.peak_tree_rss_mb"] = {"value": tree_mb, "unit": "MB"}
            metrics["mem.peak_driver_rss_mb"] = {"value": driver_mb, "unit": "MB"}
            metrics["mem.python_workers"] = {"value": workers, "unit": "count"}
        else:
            metrics = dict(res["metrics"])
    except RuntimeError as e:
        print(str(e), file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(tmp_root, ignore_errors=True)
        try:
            os.rmdir(base)  # only when no other run is using it
        except OSError:
            pass
    if os.path.exists(tmp_root):
        print(f"temp root {tmp_root} was not removed", file=sys.stderr)
        return 1
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
