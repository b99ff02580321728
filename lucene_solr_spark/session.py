"""Session helpers: builder defaults + shipping the package to executors.

Production deployment is `spark-submit --py-files dist/lucene_solr_spark.zip`
(BASELINE.md §3). For interactive/driver-created sessions,
`ensure_on_workers(spark)` zips this package and registers it via
`sparkContext.addPyFile`, so pandas-UDF deserialization finds the module
on every executor regardless of the driver's cwd.
"""

from __future__ import annotations

import os
import zipfile

_SHIPPED: set[str] = set()


def _package_files() -> list[tuple[str, str]]:
    """(path, archive name) of every .py file of the package, sorted."""
    import lucene_solr_spark

    pkg_dir = os.path.dirname(os.path.abspath(lucene_solr_spark.__file__))
    out = []
    for root, _dirs, files in os.walk(pkg_dir):
        if "__pycache__" in root:
            continue
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(root, f)
                rel = os.path.join(
                    "lucene_solr_spark", os.path.relpath(full, pkg_dir)
                )
                out.append((full, rel))
    return sorted(out, key=lambda x: x[1])


def package_zip(dest_dir: str | None = None) -> str:
    """Build a zip of the lucene_solr_spark package; returns its path."""
    import lucene_solr_spark

    pkg_dir = os.path.dirname(os.path.abspath(lucene_solr_spark.__file__))
    dest_dir = dest_dir or os.path.join(os.path.dirname(pkg_dir), "dist")
    os.makedirs(dest_dir, exist_ok=True)
    zpath = os.path.join(dest_dir, "lucene_solr_spark.zip")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
        for full, rel in _package_files():
            zf.write(full, rel)
    return zpath


def _shared_package_zip() -> str:
    """The package zip in ONE temp directory per package content
    (`lss_pyfiles_<content hash>`), shared by every application and
    process shipping the same code. It is never deleted — a running
    application may still serve it to executors — and a content change
    gets a new directory, so the temp dir holds one zip per code
    version instead of one per application. Built in a private
    subdirectory and renamed into place, so concurrent builders never
    expose a partial zip."""
    import hashlib
    import shutil
    import tempfile

    h = hashlib.sha1()
    for full, rel in _package_files():
        with open(full, "rb") as fh:
            h.update(rel.encode() + b"\0" + fh.read() + b"\0")
    d = os.path.join(tempfile.gettempdir(), f"lss_pyfiles_{h.hexdigest()[:16]}")
    zpath = os.path.join(d, "lucene_solr_spark.zip")
    if not os.path.exists(zpath):
        os.makedirs(d, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=".build_", dir=d)
        try:
            os.replace(package_zip(tmp), zpath)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return zpath


def ensure_on_workers(spark) -> None:
    """Idempotently ship this package to executors via addPyFile."""
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED:
        return
    try:
        spark.sparkContext.addPyFile(_shared_package_zip())
    except Exception:
        # already importable on workers (e.g. launched via --py-files or
        # from the repo root) — addPyFile duplicates raise; either is fine
        pass
    _SHIPPED.add(app_id)


def get_spark(master: str = "local[*]", app_name: str = "lucene_solr_spark",
              shuffle_partitions: int = 32, extra: dict | None = None):
    """Opinionated session builder: AQE on, Arrow on, package shipped."""
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    ensure_on_workers(spark)
    return spark


# glibc/pymalloc tuning for Arrow-batched python workers.
#
# Rationale (measured on the sandbox, a Firecracker guest): guest
# page faults exit to the host and serialize there, so 32 concurrent
# python workers each faulting a fresh heap (pymalloc arena churn +
# glibc mmap/munmap of large buffers) collapse to ~1/12th speed.
# Routing CPython allocations through a persistent, never-trimmed
# glibc heap makes worker memory fault ONCE per (reused) worker; the
# steady state then scales linearly with cores. On a real multi-node
# cluster the same settings reduce allocator jitter but matter less.
WORKER_MALLOC_ENV = {
    "PYTHONMALLOC": "malloc",
    "MALLOC_ARENA_MAX": "1",
    "MALLOC_MMAP_THRESHOLD_": "1073741824",
    "MALLOC_TRIM_THRESHOLD_": "1073741824",
    "MALLOC_MMAP_MAX_": "0",
}


def apply_worker_malloc_env() -> None:
    """Set the allocator tuning in os.environ BEFORE SparkSession
    creation (local mode: the JVM and its python workers inherit it).
    On a cluster, pass the same dict as spark.executorEnv.* instead."""
    for k, v in WORKER_MALLOC_ENV.items():
        os.environ.setdefault(k, v)
