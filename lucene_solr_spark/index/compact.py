"""Index compaction: absorb NRT delta generations + apply deletes.

Reference semantics: a merge rewrites segments without their deleted
docs — docIDs compact via the deletion-aware DocMap + docBase
concatenation (index/SegmentMerger.java:74-130, MergeState.java:63-142),
and collection statistics (docFreq, sumTotalTermFreq, maxDoc) stop
counting the removed docs. After compaction the index is a single
generation again and tombstones are cleared. SegmentMerger merges ALL
fields (SegmentMerger.java:74-130) — per-field postings (field-prefixed
terms) and per-(shard, field) norm blobs are carried through.

Spark shape — FULLY DISTRIBUTED (no O(max_doc) driver state):
- alive set       = doc_map ⋈(anti) tombstone-resolved deletes
- per-shard stats = one groupBy (the ONLY driver materialization is
  N_routes × N_shards rows: count / min docID / Σdoc_len)
- new docIDs      = shard_new_base + rank-among-alive-within-shard;
  shards' doc runs are contiguous and monotone in docID, so the rank
  is computable inside each shard's task (Lucene's DocMap: new id =
  old id − deleted-below, MergeState.java:63-142)
- postings        = (postings ∪ norm-blob rows) ⋈(cogroup on shard)
  alive doc_map rows: decode, drop dead, remap via searchsorted on the
  shard's alive ids, re-encode blocks — one applyInPandas pass per
  shard. The shard's per-field norm blobs ride the left side so
  block-max metadata re-encodes with the TERM'S FIELD norms, not the
  default field's.
- norms / doc_map = one applyInPandas per shard over the alive rows

split_index shares the same pass: every kernel emits a `route` column
(hash-range of the uniqueKey, SolrIndexSplitter semantics), outputs are
written partitioned by route in ONE job, and the route=i directories
are renamed into the N independent index roots — one source scan total,
not one compact() per output.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from lucene_solr_spark.index.builder import (
    FIELD_SEP,
    NORMS_SCHEMA,
    POSTINGS_SCHEMA,
)
from lucene_solr_spark.index.codec import (
    decode_position_lists,
    decode_posting_list,
    encode_position_lists,
    encode_posting_lists,
)

from pyspark.sql.types import IntegerType, StructField, StructType


def _routed(schema: StructType) -> StructType:
    return StructType(
        [StructField("route", IntegerType())] + list(schema.fields)
    )


_POST_COLS = [f.name for f in POSTINGS_SCHEMA.fields]
_NORM_COLS = [f.name for f in NORMS_SCHEMA.fields]
_BLOCK_COLS = (
    "block_last", "block_doc_off", "block_tf_off",
    "block_max_tf", "block_max_norm",
)


def compact(
    spark: SparkSession, index_dir: str, out_dir: str, keep=None
) -> dict:
    """Compact base + deltas + tombstones of `index_dir` into a fresh
    single-generation index at `out_dir`. Returns the new manifest.

    `keep` (optional pyspark Column over doc_map rows) restricts the
    surviving docs."""
    return _compact_routed(spark, index_dir, [out_dir], None, keep)[0]


def split_index(
    spark: SparkSession, index_dir: str, out_dirs: list[str]
) -> list[dict]:
    """Split one index into len(out_dirs) disjoint indexes by hash
    range of the uniqueKey (solr/.../update/SolrIndexSplitter.java
    semantics: murmur-hash-range routing; here pmod(xxhash64(key))).
    Each split is a fully independent index with its own recomputed
    collection statistics — exactly what SolrIndexSplitter produces.
    Deletes/deltas of the source are absorbed in the same SINGLE pass
    (all N outputs come from one scan of the source postings)."""
    n = len(out_dirs)
    route = F.pmod(F.xxhash64(F.col("key")), F.lit(n)).cast("int")
    return _compact_routed(spark, index_dir, out_dirs, route)


def _frame(out: dict, cols: list[str]) -> pd.DataFrame:
    """A kernel's output columns as a frame. pandas types the columns of
    an empty frame float64, which Arrow cannot convert to the binary and
    list columns; an empty frame (e.g. a shard whose docs are all
    deleted) gets object columns instead."""
    if len(out[cols[0]]):
        return pd.DataFrame(out)[cols]
    return pd.DataFrame({c: pd.Series([], dtype=object) for c in cols})


def _write_routed(df, order_by, partition_shard, tmp_root, name, out_dirs,
                  spark, empty_schema):
    """Write `df` (carrying a `route` column) once, partitioned by
    route, then rename each route=i directory into out_dirs[i]/name.
    Routes with no rows get an explicit empty table."""
    parts = ["route", "shard"] if partition_shard else ["route"]
    tmp = os.path.join(tmp_root, name)
    w = df
    if order_by:
        w = w.repartition(
            max(spark.sparkContext.defaultParallelism, 1), *parts
        ).sortWithinPartitions(*parts, *order_by)
    w.write.mode("overwrite").partitionBy(*parts).parquet(tmp)
    for i, od in enumerate(out_dirs):
        dst = os.path.join(od, name)
        if os.path.isdir(dst):
            shutil.rmtree(dst)
        src = os.path.join(tmp, f"route={i}")
        if os.path.isdir(src):
            os.replace(src, dst)
        else:  # empty split: write a schema-bearing empty table
            spark.createDataFrame([], empty_schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(dst)
    shutil.rmtree(tmp, ignore_errors=True)


def _compact_routed(
    spark: SparkSession,
    index_dir: str,
    out_dirs: list[str],
    route: Column | None,
    keep=None,
) -> list[dict]:
    from lucene_solr_spark.search.searcher import IndexSearcher
    from lucene_solr_spark.session import ensure_on_workers

    ensure_on_workers(spark)
    n_routes = len(out_dirs)
    s = IndexSearcher.open(spark, index_dir)
    default_field = s._default_field
    all_fields = list(s.manifest.get("fields", [default_field]))
    codec = s.manifest["config"].get("codec", "vbyte")
    doc_map = s.doc_map()
    doc_offsets = dict(s._doc_offsets)  # shard -> generation docID offset

    alive = s._drop_deleted(doc_map)
    if keep is not None:
        alive = alive.where(keep)
    alive = alive.withColumn(
        "route", (route if route is not None else F.lit(0)).cast("int")
    ).persist()

    # ---- per-(route, shard) stats: the only driver-side state ----
    stats = (
        alive.groupBy("route", "shard")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").alias("mn"),
            F.sum("doc_len").alias("dl"),
        )
        .collect()
    )
    per_route: dict[int, list] = {}
    for r in stats:
        per_route.setdefault(int(r.route), []).append(r)
    # per route: old shard -> (new shard, new docID base); shard run
    # order (min docID) defines the docBase concatenation order
    bmap_val: dict[int, dict[int, tuple[int, int]]] = {}
    route_max_doc: dict[int, int] = {}
    route_sttf: dict[int, int] = {}
    for rt, rows in per_route.items():
        rows.sort(key=lambda r: r.mn)
        acc = 0
        mp: dict[int, tuple[int, int]] = {}
        for ns, r in enumerate(rows):
            mp[int(r.shard)] = (ns, acc)
            acc += int(r.n)
        bmap_val[rt] = mp
        route_max_doc[rt] = acc
        route_sttf[rt] = sum(int(r.dl) for r in rows)
    bmap = spark.sparkContext.broadcast(bmap_val)
    doff = spark.sparkContext.broadcast(doc_offsets)

    for od in out_dirs:
        os.makedirs(od, exist_ok=True)
    tmp_root = out_dirs[0] + ".tmp_compact"
    key_t = "string" if s.manifest.get("key_kind") == "s" else "long"

    # ---- doc_map per shard (route fan-out inside the shard task) ----
    def build_dm(pdf: pd.DataFrame) -> pd.DataFrame:
        m = bmap.value
        pdf = pdf.sort_values("doc_id")
        old = int(pdf["shard"].iloc[0])
        routes = pdf["route"].to_numpy(np.int64)
        frames = []
        for rt in np.unique(routes):
            sub = pdf[routes == rt]
            ns, nb = m[int(rt)][old]
            frames.append(
                pd.DataFrame(
                    {
                        "route": np.full(len(sub), rt, np.int32),
                        "doc_id": nb + np.arange(len(sub), dtype=np.int64),
                        "key": sub["key"].to_numpy(),
                        "shard": np.full(len(sub), ns, np.int32),
                        "g": np.full(len(sub), ns, np.int64),
                        "doc_len": sub["doc_len"].to_numpy(np.int64),
                        "norm": sub["norm"].to_numpy(np.int32),
                    }
                )
            )
        return pd.concat(frames, ignore_index=True)

    dm_schema = (
        f"route int, doc_id long, key {key_t}, shard int, g long, "
        "doc_len long, norm int"
    )
    _write_routed(
        alive.groupBy("shard").applyInPandas(build_dm, dm_schema),
        None, False, tmp_root, "doc_map", out_dirs, spark,
        dm_schema.replace("route int, ", ""),
    )

    # ---- norms per (shard, field): gather alive bytes from the blobs
    # (Lucene53NormsFormat merge analog — carries EVERY field) ----
    def build_norms(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        cols = ["route"] + _NORM_COLS
        if len(right) == 0:
            return _frame({c: [] for c in cols}, cols)
        m = bmap.value
        right = right.sort_values("doc_id")
        old = int(right["shard"].iloc[0])
        gen_off = int(doff.value.get(old, 0))
        alive_glob = right["doc_id"].to_numpy(np.int64)
        routes = right["route"].to_numpy(np.int64)
        # per field: the alive docs' norm bytes, in surviving-doc order
        gathered: list[tuple[str, np.ndarray]] = []
        if len(left):
            for row in left.itertuples(index=False):
                f = row.field if row.field is not None else default_field
                arr = np.frombuffer(bytes(row.norms), np.uint8)
                gathered.append(
                    (f, arr[alive_glob - gen_off - int(row.base)])
                )
        else:  # legacy index without norm blobs: doc_map norm column
            gathered.append(
                (default_field, right["norm"].to_numpy(np.uint8))
            )
        out = {c: [] for c in cols}
        for rt in np.unique(routes):
            msk = routes == rt
            ns, nb = m[int(rt)][old]
            for f, vals in gathered:
                blob = vals[msk]
                out["route"].append(int(rt))
                out["shard"].append(ns)
                out["field"].append(f)
                out["base"].append(nb)
                out["n_docs"].append(len(blob))
                out["norms"].append(blob.tobytes())
        return _frame(out, cols)

    _write_routed(
        s._norms.groupBy("shard")
        .cogroup(alive.groupBy("shard"))
        .applyInPandas(build_norms, _routed(NORMS_SCHEMA)),
        None, False, tmp_root, "norms", out_dirs, spark, NORMS_SCHEMA,
    )

    # ---- postings rewrite: cogroup(postings ∪ norm rows, alive) ----
    # The norm-blob rows ride the postings side so each shard task can
    # re-encode block-max metadata with the term's OWN field's norms.
    left_df = s._postings.unionByName(
        s._norms.select("shard", "field", "base", "norms"),
        allowMissingColumns=True,
    )

    def rewrite(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        cols = ["route"] + _POST_COLS
        empty = _frame({c: [] for c in cols}, cols)
        if len(left) == 0 or len(right) == 0:
            return empty
        is_norm = left["term"].isna()
        post = left[~is_norm]
        if len(post) == 0:
            return empty
        m = bmap.value
        old = int(post["shard"].iloc[0])
        gen_off = int(doff.value.get(old, 0))
        right = right.sort_values("doc_id")
        alive_glob = right["doc_id"].to_numpy(np.int64)
        routes_arr = right["route"].to_numpy(np.int64)
        routes = np.unique(routes_arr)
        # rank of each alive doc within its route (the per-route DocMap)
        rank_in_route = np.empty(len(alive_glob), np.int64)
        for rt in routes:
            msk = routes_arr == rt
            rank_in_route[msk] = np.arange(int(msk.sum()), dtype=np.int64)
        # per-field alive norm bytes (old-doc order)
        fnorms: dict[str, np.ndarray] = {}
        for row in left[is_norm].itertuples(index=False):
            f = row.field if row.field is not None else default_field
            arr = np.frombuffer(bytes(row.norms), np.uint8)
            fnorms[f] = arr[alive_glob - gen_off - int(row.base)]
        if default_field not in fnorms:
            fnorms[default_field] = right["norm"].to_numpy(np.uint8)
        out = {c: [] for c in cols}
        for row in post.sort_values(["term", "part"]).itertuples(index=False):
            d, t = decode_posting_list(
                bytes(row.doc_enc), bytes(row.tf_enc), int(row.df),
                codec=codec,
            )
            # decoded ids are generation-local; lift to global first
            d_glob = d + gen_off
            pos = np.searchsorted(alive_glob, d_glob)
            pos_c = np.minimum(pos, max(len(alive_glob) - 1, 0))
            keep_m = alive_glob[pos_c] == d_glob
            if not keep_m.any():
                continue
            term = row.term
            i = term.find(FIELD_SEP)
            fname = default_field if i < 0 else term[:i]
            norm_src = fnorms.get(fname, fnorms[default_field])
            pos_abs = (
                decode_position_lists(bytes(row.pos_enc), t)
                if row.pos_enc is not None
                else None
            )
            for rt in routes:
                sel = keep_m & (routes_arr[pos_c] == rt)
                if not sel.any():
                    continue
                ns, nb = m[int(rt)][old]
                pk = pos_c[sel]
                # new id = shard base + rank among the route's alive docs
                new_d = nb + rank_in_route[pk]
                new_t = t[sel]
                enc = encode_posting_lists(
                    np.array([len(new_d)], np.int64),
                    new_d, new_t, norm_src[pk], codec=codec,
                )
                out["route"].append(int(rt))
                out["shard"].append(ns)
                out["term"].append(term)
                out["part"].append(int(row.part))
                out["df"].append(int(len(new_d)))
                out["cf"].append(int(new_t.sum()))
                out["doc_enc"].append(enc["doc_enc"][0])
                out["tf_enc"].append(enc["tf_enc"][0])
                for kcol in _BLOCK_COLS:
                    out[kcol].append(enc[kcol][0])
                # positions survive: per-doc runs are doc-local, so keep
                # the alive docs' runs and re-encode (no rebase needed)
                pay_enc = getattr(row, "pay_enc", None)  # absent pre-.pay indexes
                keep_rep = (
                    np.repeat(sel, t)
                    if (pos_abs is not None or pay_enc is not None)
                    else None
                )
                if pos_abs is not None:
                    out["pos_enc"].append(
                        encode_position_lists(
                            pos_abs[keep_rep], new_t,
                            np.array([int(new_t.sum())]),
                        )[0]
                    )
                else:
                    out["pos_enc"].append(None)
                # payloads are raw <f4 aligned with the position
                # stream: keep the alive docs' values, no re-encode
                if pay_enc is not None:
                    pay_vals = np.frombuffer(bytes(pay_enc), "<f4")
                    out["pay_enc"].append(pay_vals[keep_rep].tobytes())
                else:
                    out["pay_enc"].append(None)
        return _frame(out, cols)

    new_post = (
        left_df.groupBy("shard")
        .cogroup(alive.groupBy("shard"))
        .applyInPandas(rewrite, _routed(POSTINGS_SCHEMA))
    )
    _write_routed(
        new_post, ["term", "part"], True, tmp_root, "postings",
        out_dirs, spark, POSTINGS_SCHEMA,
    )
    alive.unpersist()

    # ---- per-output term stats + manifest (stats recomputed per split,
    # SolrIndexSplitter semantics) — these scan the already-split
    # outputs, not the source ----
    multi_field = len(all_fields) > 1
    field_expr = F.when(
        F.instr("term", FIELD_SEP) > 0,
        F.substring_index("term", FIELD_SEP, 1),
    ).otherwise(F.lit(default_field))
    manifests = []
    for rt, od in enumerate(out_dirs):
        pf = spark.read.parquet(os.path.join(od, "postings"))
        term_stats = pf.groupBy("term").agg(
            F.sum("df").alias("df"), F.sum("cf").alias("cf")
        )
        term_stats.coalesce(4).sortWithinPartitions("term").write.mode(
            "overwrite"
        ).parquet(os.path.join(od, "term_stats"))
        # reversed dictionary for leading-wildcard seeks (kept in sync
        # with every term_stats rewrite; see index/builder.py)
        spark.read.parquet(os.path.join(od, "term_stats")).select(
            F.reverse(F.col("term")).alias("rterm"), "term", "df"
        ).coalesce(4).sortWithinPartitions("rterm").write.mode(
            "overwrite"
        ).parquet(os.path.join(od, "term_stats_rev"))
        sttf = int(route_sttf.get(rt, 0))
        if multi_field:
            field_stats = {
                r["field"]: int(r["sttf"])
                for r in pf.groupBy(field_expr.alias("field"))
                .agg(F.sum("cf").alias("sttf"))
                .collect()
            }
            field_stats.setdefault(default_field, sttf)
        else:
            field_stats = {default_field: sttf}
        bases = {
            str(ns): nb for ns, nb in sorted(bmap_val.get(rt, {}).values())
        } or {"0": 0}
        manifest = {
            "version": 1,
            "config": s.manifest["config"],
            "key_kind": s.manifest.get("key_kind", "l"),
            "max_doc": int(route_max_doc.get(rt, 0)),
            "sum_total_term_freq": sttf,
            "field_stats": {k: int(v) for k, v in field_stats.items()},
            "fields": all_fields,
            "n_input_rows": int(route_max_doc.get(rt, 0)),
            "seg_bases": bases,
            "shard_bases": bases,
            "compacted_from": index_dir,
        }
        with open(os.path.join(od, "manifest.json"), "w") as fh:
            json.dump(manifest, fh, indent=1)
        manifests.append(manifest)
    return manifests
