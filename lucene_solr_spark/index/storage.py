"""Index-table storage seam — parquet directories (sandbox default) or
Iceberg catalog tables (the production target the north rule names).

The reference publishes an index as a set of immutable segment files
plus a `segments_N` commit point written last (IndexWriter two-phase
commit, lucene/core/.../index/IndexWriter.java:178-186,2876-2913); a
crashed writer leaves the previous commit point intact. This engine
keeps the same shape: every logical index table (postings, norms,
doc_map, term_stats, checkpoints, segments) is written through ONE
seam — `TableIO` — and the small `manifest` (our segments_N) publishes
LAST, so a reader never observes a partially-written index.

Two implementations:

- ``ParquetIO`` (default): each logical table is a subdirectory of the
  index dir; atomicity comes from Spark's parquet committer per table
  plus the manifest-last publish. This is what the sandbox runs — no
  extra jars needed.

- ``IcebergIO``: each logical table is ``{prefix}_{name}`` in a Spark
  catalog (prefix like ``cat.db.myindex``); ``overwrite`` is one
  `createOrReplace` snapshot commit, ``append`` is one `.append()`
  snapshot commit — the idempotent-snapshot-append semantics the north
  rule asks for (re-running a failed job replaces/extends snapshots
  instead of corrupting files; Iceberg's optimistic-commit protocol
  replaces the driver-side parquet committer, BENCH.md "at 100 TB").
  The manifest rides a one-row JSON table ``{prefix}_manifest`` whose
  write is itself one atomic snapshot commit. Requires the
  iceberg-spark-runtime jar + a configured catalog
  (``spark.sql.catalog.<cat>`` confs); constructing it without one
  raises immediately with the missing confs named — this sandbox ships
  no Iceberg jar, so the branch is exercised by seam tests
  (tests/test_storage.py) and the error path, not end-to-end.

Resolution: ``resolve_io(spark, out)`` returns IcebergIO for
``iceberg://cat.db.name`` specs, ParquetIO for filesystem paths.

Division of labour: ``build_index`` stages and publishes its parquet
directory natively (segments/checkpoints are scratch space — at
cluster scale a job-local HDFS/S3 prefix; a small NRT delta built in
the driver by ``build_collected`` writes none), and ``publish_index`` below
re-publishes any built index — base + NRT delta generations + deletes,
folded into ONE point-in-time snapshot — through a TableIO
destination, manifest LAST. ``IndexSearcher`` opens either form: a
directory, or a published ``iceberg://`` spec. Re-running a publish is
idempotent: every table write is a replace-snapshot commit, and a
half-finished publish is invisible because the manifest never swapped
(exactly the crashed-IndexWriter contract above).
"""

from __future__ import annotations

import json
import os
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ICEBERG_SCHEME = "iceberg://"


def resolve_io(spark: SparkSession, out: str) -> "TableIO":
    """Storage for an index location spec: ``iceberg://cat.db.name`` ->
    IcebergIO(prefix='cat.db.name'), anything else -> ParquetIO(dir)."""
    if out.startswith(ICEBERG_SCHEME):
        return IcebergIO(spark, out[len(ICEBERG_SCHEME):])
    return ParquetIO(spark, out)


class TableIO:
    """One write/read seam for every index table (see module docstring)."""

    def write(self, df: DataFrame, name: str, mode: str = "overwrite",
              partition_by: Iterable[str] = ()) -> None:
        raise NotImplementedError

    def read(self, name: str) -> DataFrame:
        raise NotImplementedError

    def exists(self, name: str) -> bool:
        raise NotImplementedError

    def write_manifest(self, manifest: dict) -> None:
        raise NotImplementedError

    def read_manifest(self) -> dict:
        raise NotImplementedError


class ParquetIO(TableIO):
    """Sandbox default: logical table = subdirectory of the index dir,
    manifest = manifest.json written last (the segments_N analog)."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir

    def _path(self, name: str) -> str:
        return os.path.join(self.index_dir, name)

    def write(self, df: DataFrame, name: str, mode: str = "overwrite",
              partition_by: Iterable[str] = ()) -> None:
        w = df.write.mode(mode)
        pb = list(partition_by)
        if pb:
            w = w.partitionBy(*pb)
        w.parquet(self._path(name))

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self._path(name))

    def exists(self, name: str) -> bool:
        return os.path.isdir(self._path(name))

    def write_manifest(self, manifest: dict) -> None:
        with open(self._path("manifest.json"), "w") as fh:
            json.dump(manifest, fh, indent=1)

    def read_manifest(self) -> dict:
        with open(self._path("manifest.json")) as fh:
            return json.load(fh)


class IcebergIO(TableIO):
    """Catalog tables ``{prefix}_{name}``; every write is ONE Iceberg
    snapshot commit (append or replace). See module docstring."""

    def __init__(self, spark: SparkSession, prefix: str):
        self.spark = spark
        self.prefix = prefix
        cat = prefix.split(".", 1)[0]
        conf = f"spark.sql.catalog.{cat}"
        if spark.conf.get(conf, None) is None:
            raise RuntimeError(
                f"Iceberg catalog {cat!r} is not configured. An "
                f"iceberg:// index needs the iceberg-spark-runtime jar "
                f"on the classpath and catalog confs, e.g. "
                f"--conf {conf}=org.apache.iceberg.spark.SparkCatalog "
                f"--conf {conf}.type=hive|hadoop|rest (+ warehouse/uri). "
                f"This sandbox ships no Iceberg jar — use a filesystem "
                f"path (parquet) instead."
            )

    def table(self, name: str) -> str:
        return f"{self.prefix}_{name}"

    def write(self, df: DataFrame, name: str, mode: str = "overwrite",
              partition_by: Iterable[str] = ()) -> None:
        w = df.writeTo(self.table(name)).using("iceberg")
        pb = list(partition_by)
        if pb:
            from pyspark.sql import functions as F

            w = w.partitionedBy(*[F.col(c) for c in pb])
        if mode == "append":
            # idempotent snapshot append: table must exist (the builder
            # always writes generation 0 with overwrite first)
            w.append()
        else:
            w.createOrReplace()

    def read(self, name: str) -> DataFrame:
        return self.spark.read.table(self.table(name))

    def exists(self, name: str) -> bool:
        return self.spark.catalog.tableExists(self.table(name))

    def write_manifest(self, manifest: dict) -> None:
        df = self.spark.createDataFrame(
            [(json.dumps(manifest),)], "manifest_json string"
        )
        df.writeTo(self.table("manifest")).using("iceberg").createOrReplace()

    def read_manifest(self) -> dict:
        row = self.spark.read.table(self.table("manifest")).first()
        return json.loads(row.manifest_json)


# ----------------------------------------------------------------------
# publish: fold a point-in-time view into one snapshot at a TableIO dest
# ----------------------------------------------------------------------


def publish_index(spark: SparkSession, index_dir: str, dest: str) -> dict:
    """Publish the point-in-time view of a built index to ``dest``.

    The Solr replication / Lucene commit analog (solr/core/.../handler/
    IndexFetcher.java fetches the committed segment set; the commit
    point file lands last): the base index, every NRT delta generation
    and the tombstone table are folded into ONE consistent snapshot at
    the destination — postings/norms/doc_map/term_stats as
    replace-snapshot table writes, the manifest LAST, so a reader of
    ``dest`` never observes a torn copy and a crashed publish leaves
    the previous published snapshot intact.

    Delta postings keep generation-local docIDs (their blobs are
    delta-encoded — rewriting them would decode/re-encode every block);
    instead the per-shard docID offsets that `IndexSearcher.open`
    computes are baked into the published manifest (``doc_offsets``),
    and `IndexSearcher.__init__` restores them. Scores and ranks are
    therefore bitwise-identical between the source view and the
    published copy (tests/test_storage.py pins this).

    ``dest`` may be a filesystem path (ParquetIO) or an
    ``iceberg://cat.db.name`` catalog spec (IcebergIO) — at the 100 TB
    design point the latter makes every table write one atomic Iceberg
    snapshot commit and re-publishing is a pure snapshot replace.

    Returns the published manifest dict.
    """
    import os as _os

    from lucene_solr_spark.search.searcher import IndexSearcher

    s = IndexSearcher.open(spark, index_dir)
    _check_dest(index_dir, dest)
    return _publish_view(spark, s, dest, str(index_dir))


def _check_dest(src_dir: str, dest: str) -> None:
    import os as _os

    if not str(dest).startswith("iceberg://") and _os.path.abspath(
        dest
    ) == _os.path.abspath(src_dir):
        raise ValueError(
            "publish destination equals the source index directory — "
            "publishing reads the source while writing the destination"
        )


def add_indexes(spark: SparkSession, dirs: list[str], dest: str) -> dict:
    """IndexWriter.addIndexes analog (index/IndexWriter.java
    addIndexes(Directory...)): fold SEVERAL independent indexes into
    one consistent index at ``dest``. The reference copies segments
    in and rebases docIDs via MergeState docBase maps; here the
    open_multi view (cumulative docBase remap + global stats over the
    union) is published exactly like an NRT fold — so BM25 df/avgdl
    become corpus-global and ranks/scores equal an index built over
    the concatenated corpus (pinned in tests/test_add_indexes.py).
    Keys are NOT deduplicated (the reference's addIndexes does not
    dedup either); sources must share codec and default field and be
    tombstone-free (compact first)."""
    from lucene_solr_spark.search.searcher import IndexSearcher

    s = IndexSearcher.open_multi(spark, list(dirs))
    for d in dirs:
        _check_dest(d, dest)
    return _publish_view(spark, s, dest, ",".join(str(d) for d in dirs))


def _publish_view(spark: SparkSession, s, dest: str, origin: str) -> dict:
    io = resolve_io(spark, dest)

    # every data table lands before the manifest (commit-point-last)
    io.write(s.doc_map(), "doc_map")
    io.write(s._norms, "norms")
    io.write(s._postings, "postings", partition_by=("shard",))
    io.write(s._term_stats, "term_stats")
    io.write(
        s._term_stats.select(
            F.reverse(F.col("term")).alias("rterm"), "term", "df"
        ).sortWithinPartitions("rterm"),
        "term_stats_rev",
    )
    if s._has_tombstones():
        # the view's own open-time snapshot: a delete landing mid-publish
        # must not be written beside tables that predate it
        io.write(s._tombs, "tombstones")

    manifest = dict(s.manifest)
    manifest.pop("delta_generations", None)
    shard_bases = {str(k): int(v) for k, v in manifest["shard_bases"].items()}
    for gdir, shard_off, _doc_off in s._gens:
        gio = resolve_io(spark, gdir)
        gm = gio.read_manifest()
        for local, base in gm["shard_bases"].items():
            # generation-local base; the global docID offset rides
            # doc_offsets (query-time remap, same as the open() view)
            shard_bases[str(int(local) + shard_off)] = int(base)
    manifest["shard_bases"] = shard_bases
    manifest["doc_offsets"] = {
        str(k): int(v) for k, v in s._doc_offsets.items()
    }
    manifest["max_doc"] = int(s.max_doc)
    manifest["sum_total_term_freq"] = int(
        s._field_stats[s._default_field]
    )
    manifest["field_stats"] = {
        f: int(v) for f, v in s._field_stats.items()
    }
    manifest["published_from"] = origin
    io.write_manifest(manifest)
    return manifest


def backup_index(index_dir: str, backup_dir: str) -> str:
    """Snapshot backup — the ReplicationHandler `command=backup`
    analog (solr/core/.../handler/ReplicationHandler.java SnapShooter:
    copy the CURRENT committed file set aside without folding).

    Unlike publish_index, the generation structure is preserved
    verbatim (base tables + every `delta/batch_*` generation +
    tombstones) — a restored copy resumes NRT appends exactly where
    the source stood. Delta generations are recorded with
    index-relative paths (streaming/nrt.py:84), so a tree copy is
    self-contained. Crash safety: the tree is copied to a hidden
    sibling and atomically renamed into place — a reader (or a crash)
    never observes a torn backup, the same contract as the
    manifest-written-last table writes. Directory-backed indexes only
    (an Iceberg-backed index backs up via catalog snapshot tags).
    Returns the backup path."""
    import shutil

    if str(index_dir).startswith("iceberg://") or str(
        backup_dir
    ).startswith("iceberg://"):
        raise ValueError(
            "backup_index copies directory trees; Iceberg-backed "
            "indexes snapshot via catalog tags"
        )
    if not os.path.exists(os.path.join(index_dir, "manifest.json")):
        raise ValueError(f"not an index directory: {index_dir}")
    backup_dir = str(backup_dir)
    if os.path.exists(backup_dir):
        raise ValueError(f"backup destination exists: {backup_dir}")
    parent = os.path.dirname(os.path.abspath(backup_dir)) or "."
    os.makedirs(parent, exist_ok=True)
    tmp = os.path.join(
        parent, f".{os.path.basename(backup_dir)}.inprogress"
    )
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    shutil.copytree(index_dir, tmp)
    os.rename(tmp, backup_dir)
    return backup_dir


def restore_index(backup_dir: str, dest: str, overwrite: bool = False) -> str:
    """Restore a backup_index snapshot — `command=restore`
    (ReplicationHandler RestoreCore: swap the backed-up file set in
    as the live index). Same atomic-rename contract; with
    overwrite=True an existing index at `dest` is replaced only after
    the new tree is fully in place beside it."""
    import shutil

    if not os.path.exists(os.path.join(backup_dir, "manifest.json")):
        raise ValueError(f"not a backup directory: {backup_dir}")
    dest = str(dest)
    if os.path.exists(dest) and not overwrite:
        raise ValueError(f"restore destination exists: {dest}")
    parent = os.path.dirname(os.path.abspath(dest)) or "."
    os.makedirs(parent, exist_ok=True)
    tmp = os.path.join(parent, f".{os.path.basename(dest)}.inprogress")
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    shutil.copytree(backup_dir, tmp)
    if os.path.exists(dest):
        old = os.path.join(parent, f".{os.path.basename(dest)}.old")
        if os.path.exists(old):
            shutil.rmtree(old)
        os.rename(dest, old)
        os.rename(tmp, dest)
        shutil.rmtree(old)
    else:
        os.rename(tmp, dest)
    return dest
