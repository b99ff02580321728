"""Distributed inverted-index construction (segment build + merge).

Mirrors the reference's indexing lifecycle (SURVEY.md §3.4) Spark-first:

- DWPT / flush  (index/DocumentsWriterPerThread.java, DefaultIndexingChain.java:277)
    -> one `applyInArrow` group per SEGMENT (index/arrow_builder.py):
       tokens arrive JVM-analyzed, each field is inverted in turn into
       sorted (term, doc) postings with pyarrow/numpy, and 128-entry
       delta blocks + per-block max metadata are encoded in ONE
       vectorized pass.
- SegmentMerger docBase remap  (index/SegmentMerger.java:74-130, MergeState.java:129-142)
    -> segments are doc-disjoint ascending runs, so the shard-level merge
       is an ordered CONCATENATION: only each run's first varint (absolute
       docID) is rewritten; no decode/re-encode of posting bodies.
- TieredMergePolicy skew handling  (index/TieredMergePolicy.java:45-48)
    -> hot terms (large per-segment df) are split into doc-range PARTS so
       no single reducer or row ever holds an unbounded posting list;
       query-side scoring is distributive over doc-disjoint parts.
- Shard routing  (solr HashBasedRouter.java:31-34)
    -> deterministic sharding: 'range_int' (dense integer keys; internal
       docID == key, so an external SQL oracle can replicate tie-breaks)
       or 'hash' (xxhash64(key) pmod shards, Solr-style).
- Two-phase commit / tlog  (index/IndexWriter.java:196,1053-1066, solr UpdateLog.java)
    -> per-segment checkpoint rows with lineage fingerprints; a re-run
       skips segments already built (idempotent appends). In production
       the final writes are Iceberg snapshot appends; the sandbox uses
       parquet directories behind the same writer seam.

Doc-ID contract (determinism across cluster sizes): global doc_id =
seg_base(g) + rank-of-key-within-segment, where segments g are a
deterministic function of the key and seg bases are the cumulative doc
counts in g order — the MergeState.docBase concatenation rule.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

import sys as _sys
import time as _time


class PhaseTimer:
    """Prints per-phase wall times to stderr when LSS_TIMING=1."""

    def __init__(self):
        self.enabled = os.environ.get("LSS_TIMING") == "1"
        self.t = _time.perf_counter()

    def mark(self, name: str) -> None:
        if self.enabled:
            now = _time.perf_counter()
            print(f"[build-phase] {name}: {now - self.t:.2f}s", file=_sys.stderr)
            self.t = now

from lucene_solr_spark.index.codec import vbyte_encode


# Term = (field, bytes) (index/Term.java:36). Internally a non-default
# field's term is stored as "<field>\x1d<token>" — the dictionary then
# sorts by (field, term), exactly Lucene's per-field BlockTree ordering,
# and every (term)-keyed stage (merge, stats, pushdown) works unchanged.
FIELD_SEP = "\x1d"


@dataclass
class IndexConfig:
    n_shards: int = 4
    segs_per_shard: int = 4
    analyzer: str = "standard"
    id_col: str = "doc_id"
    text_col: str = "text"
    # additional analyzed fields (source columns), each with its own
    # postings (field-prefixed terms), doc lengths, norms and
    # collection stats (FieldInfos analog, index/FieldInfos.java),
    # analyzed with the same `analyzer`. Positions, payloads and
    # synonyms apply to the default field only.
    extra_fields: tuple = ()
    sharding: str = "range_int"  # 'range_int' | 'hash'
    # write the .pos analog (per-doc delta position streams) — needed
    # for PhraseQuery; off by default (DOCS_AND_FREQS IndexOptions)
    index_positions: bool = False
    # merge-time skew handling: a segment-level posting with df above this
    # marks the term hot; hot terms merge into doc-range parts of at most
    # `hot_segs_per_part` segments each (salted two-level reduce).
    hot_seg_df: int = 50_000
    hot_segs_per_part: int = 4
    merge_buckets: int = 32  # merge reducers per shard-set (term-hash buckets)
    # posting-block body codec: 'vbyte' (VInt) or 'for' (bit-packed
    # frames, ForUtil.java:36-47 analog — the PForDelta-family variant
    # the north star names). Pluggable behind one seam (index/codec.py).
    codec: str = "vbyte"
    # write the .pay analog (per-position float payload streams,
    # raw <f4 aligned 1:1 with pos_enc — FieldInfo.IndexOptions
    # ..._AND_PAYLOADS). Requires index_positions and an analyzer
    # whose token structs carry a `pay` field (delimited_payload).
    # Single-field only; incompatible with index-time synonyms.
    index_payloads: bool = False
    # index-time synonym map {term: (syn, ...)} applied to the DEFAULT
    # field after the analyzer chain (SynonymFilter analog with
    # includeOrig=true — see analysis/synonyms.py for the mirrored
    # semantics: injected tokens share the position, count toward
    # sum_dl/avgdl but are discounted from the norm byte like every
    # posIncr-0 overlap). Incompatible with the stemming analyzers.
    synonyms: dict | None = None


SEGMENT_SCHEMA = StructType(
    [
        StructField("g", LongType()),  # global segment index; shard = g // segs_per_shard
        StructField("kind", StringType()),  # 'p' = posting row, 'm' = segment meta row
        StructField("term", StringType()),
        StructField("df", LongType()),
        StructField("cf", LongType()),
        StructField("doc_enc", BinaryType()),
        StructField("tf_enc", BinaryType()),
        StructField("block_last", ArrayType(LongType())),
        StructField("block_doc_off", ArrayType(IntegerType())),
        StructField("block_tf_off", ArrayType(IntegerType())),
        StructField("block_max_tf", ArrayType(IntegerType())),
        StructField("block_max_norm", ArrayType(IntegerType())),
        StructField("pos_enc", BinaryType()),  # .pos analog (optional)
        StructField("pay_enc", BinaryType()),  # .pay analog (optional)
        # meta-row payloads (one 'm' row per segment AND FIELD)
        StructField("field", StringType()),  # meta rows: which field
        StructField("sum_dl", LongType()),  # Σ doc_len of this field
        StructField("keys_enc", BinaryType()),  # int64 LE keys, sorted
        StructField("doc_lens_enc", BinaryType()),  # int32 LE
        StructField("norms_enc", BinaryType()),  # uint8
        StructField("n_docs", LongType()),
        StructField("fingerprint", StringType()),
    ]
)

POSTINGS_SCHEMA = StructType(
    [
        StructField("shard", IntegerType()),
        StructField("term", StringType()),
        StructField("part", IntegerType()),
        StructField("df", LongType()),
        StructField("cf", LongType()),
        StructField("doc_enc", BinaryType()),
        StructField("tf_enc", BinaryType()),
        StructField("block_last", ArrayType(LongType())),
        StructField("block_doc_off", ArrayType(IntegerType())),
        StructField("block_tf_off", ArrayType(IntegerType())),
        StructField("block_max_tf", ArrayType(IntegerType())),
        StructField("block_max_norm", ArrayType(IntegerType())),
        StructField("pos_enc", BinaryType()),
        StructField("pay_enc", BinaryType()),
    ]
)


def _read_first_varint(buf: bytes) -> tuple[int, int]:
    """Decode the first VByte value -> (value, nbytes)."""
    val = 0
    shift = 0
    for i, byte in enumerate(buf):
        val |= (byte & 0x7F) << shift
        if not byte & 0x80:
            return val, i + 1
        shift += 7
    raise ValueError("truncated varint")


def _encode_varint(v: int) -> bytes:
    arr, _ = vbyte_encode(np.array([v], np.uint64))
    return arr.tobytes()


def _make_merger(
    seg_bases: dict[int, int], segs_per_shard: int, codec: str = "vbyte"
):
    """Merge segment posting runs -> shard posting rows (ordered concat).

    Rows of one (shard, bucket) group, many terms at once. For each
    (term, part): rebase each segment run to global docIDs (the run's
    first delta becomes `global_doc0 - prev_run_last`), then byte-
    concat. vbyte: only the head varint is rewritten; for: the run's
    FIRST block is decoded/re-encoded (its bit width may change), the
    rest concatenates untouched."""
    from lucene_solr_spark.index.codec import for_decode_block, for_encode_block

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame(columns=[f.name for f in POSTINGS_SCHEMA.fields])
        pdf = pdf.sort_values(["term", "part", "g"], kind="mergesort")
        out = {name: [] for name in (
            "shard", "term", "part", "df", "cf", "doc_enc", "tf_enc",
            "block_last", "block_doc_off", "block_tf_off", "block_max_tf",
            "block_max_norm", "pos_enc", "pay_enc",
        )}
        terms = pdf["term"].to_numpy()
        parts = pdf["part"].to_numpy()
        gs = pdf["g"].to_numpy()
        doc_encs = pdf["doc_enc"].to_numpy()
        tf_encs = pdf["tf_enc"].to_numpy()
        b_last = pdf["block_last"].to_numpy()
        b_doff = pdf["block_doc_off"].to_numpy()
        b_toff = pdf["block_tf_off"].to_numpy()
        b_mtf = pdf["block_max_tf"].to_numpy()
        b_mnorm = pdf["block_max_norm"].to_numpy()
        pos_encs = pdf["pos_enc"].to_numpy() if "pos_enc" in pdf else None
        pay_encs = pdf["pay_enc"].to_numpy() if "pay_enc" in pdf else None
        dfs = pdf["df"].to_numpy()
        cfs = pdf["cf"].to_numpy()

        i = 0
        n = len(pdf)
        while i < n:
            j = i
            while j < n and terms[j] == terms[i] and parts[j] == parts[i]:
                j += 1
            # merge runs [i, j) of one (term, part)
            doc_parts: list[bytes] = []
            tf_parts: list[bytes] = []
            pos_parts: list[bytes] = []
            pay_parts: list[bytes] = []
            blast_parts, bdoff_parts, btoff_parts = [], [], []
            bmtf_parts, bmnorm_parts = [], []
            doc_bytes_acc = 0
            tf_bytes_acc = 0
            prev_last_global = None
            for r in range(i, j):
                base = seg_bases[int(gs[r])]
                enc = bytes(doc_encs[r])
                if codec == "for":
                    bdo0 = np.asarray(b_doff[r], np.int64)
                    b0_end = int(bdo0[1]) if len(bdo0) > 1 else len(enc)
                    vals = for_decode_block(enc[:b0_end]).astype(np.int64)
                    global0 = int(vals[0]) + base
                    delta0 = (
                        global0
                        if prev_last_global is None
                        else global0 - prev_last_global
                    )
                    vals[0] = delta0
                    head = for_encode_block(vals.astype(np.uint64))
                    shift = len(head) - b0_end
                    doc_parts.append(head + enc[b0_end:])
                else:
                    local0, nb_old = _read_first_varint(enc)
                    global0 = local0 + base
                    delta0 = (
                        global0
                        if prev_last_global is None
                        else global0 - prev_last_global
                    )
                    head = _encode_varint(delta0)
                    shift = len(head) - nb_old
                    doc_parts.append(head + enc[nb_old:])
                tf_parts.append(bytes(tf_encs[r]))
                if pos_encs is not None and pos_encs[r] is not None:
                    # positions are doc-local deltas: plain concat, no rebase
                    pos_parts.append(bytes(pos_encs[r]))
                if pay_encs is not None and pay_encs[r] is not None:
                    # payloads are raw <f4 aligned with pos: plain concat
                    pay_parts.append(bytes(pay_encs[r]))
                blast = np.asarray(b_last[r], np.int64) + base
                bdoff = np.asarray(b_doff[r], np.int64).copy()
                bdoff[1:] += shift
                blast_parts.append(blast)
                bdoff_parts.append(bdoff + doc_bytes_acc)
                btoff_parts.append(np.asarray(b_toff[r], np.int64) + tf_bytes_acc)
                bmtf_parts.append(np.asarray(b_mtf[r], np.int32))
                bmnorm_parts.append(np.asarray(b_mnorm[r], np.int32))
                doc_bytes_acc += len(doc_parts[-1])
                tf_bytes_acc += len(tf_parts[-1])
                prev_last_global = int(blast[-1])
            out["shard"].append(int(gs[i]) // segs_per_shard)
            out["term"].append(terms[i])
            out["part"].append(int(parts[i]))
            out["df"].append(int(dfs[i:j].sum()))
            out["cf"].append(int(cfs[i:j].sum()))
            out["doc_enc"].append(b"".join(doc_parts))
            out["tf_enc"].append(b"".join(tf_parts))
            out["pos_enc"].append(b"".join(pos_parts) if pos_parts else None)
            out["pay_enc"].append(b"".join(pay_parts) if pay_parts else None)
            out["block_last"].append(np.concatenate(blast_parts))
            out["block_doc_off"].append(np.concatenate(bdoff_parts).astype(np.int32))
            out["block_tf_off"].append(np.concatenate(btoff_parts).astype(np.int32))
            out["block_max_tf"].append(np.concatenate(bmtf_parts))
            out["block_max_norm"].append(np.concatenate(bmnorm_parts))
            i = j
        return pd.DataFrame(out)

    return merge


NORMS_SCHEMA = StructType(
    [
        StructField("shard", IntegerType()),
        StructField("field", StringType()),
        StructField("base", LongType()),
        StructField("n_docs", LongType()),
        StructField("norms", BinaryType()),
    ]
)


def _doc_map_schema(key_kind: str) -> StructType:
    return StructType(
        [
            StructField("doc_id", LongType()),
            StructField("key", StringType() if key_kind == "s" else LongType()),
            StructField("shard", IntegerType()),
            StructField("g", LongType()),
            StructField("doc_len", LongType()),
            StructField("norm", IntegerType()),
        ]
    )


def _check_config(cfg: IndexConfig) -> None:
    if cfg.synonyms:
        from lucene_solr_spark.analysis.analyzers import DICT_STEMMERS

        if cfg.analyzer in DICT_STEMMERS:
            raise ValueError(
                "synonyms are incompatible with stemming analyzers: the "
                "stemmer runs on the term dictionary, after expansion, so "
                "injected synonyms would be stemmed too — configure one "
                "or the other"
            )
    if cfg.index_payloads:
        if not cfg.index_positions:
            raise ValueError("index_payloads requires index_positions")
        if cfg.extra_fields or cfg.synonyms:
            raise ValueError(
                "index_payloads is a single-field, no-synonyms path "
                "(the .pay stream mirrors pos_enc)"
            )
        if cfg.analyzer != "delimited_payload":
            raise ValueError(
                "index_payloads needs a payload-bearing analyzer chain "
                "(delimited_payload)"
            )


def _keyed(src: DataFrame, cfg: IndexConfig) -> tuple[DataFrame, str]:
    """(key, text, xf{i}) projection of the source and its key kind:
    's' (string keys) or 'l' (int64 keys)."""
    key_type = dict((f.name, f.dataType.simpleString()) for f in src.schema.fields)[
        cfg.id_col
    ]
    key_kind = "s" if key_type == "string" else "l"
    sel = [
        F.col(cfg.id_col).cast("string" if key_kind == "s" else "long").alias("key"),
        F.col(cfg.text_col).cast("string").alias("text"),
    ]
    for i, xf in enumerate(cfg.extra_fields):
        sel.append(F.col(xf).cast("string").alias(f"xf{i}"))
    return src.select(*sel), key_kind


def _hash_segment(cfg: IndexConfig) -> Column:
    """Segment g of a key under 'hash' sharding (Solr-style
    xxhash64(key) pmod shards, then a second hash within the shard)."""
    return (
        F.pmod(F.xxhash64(F.col("key")), F.lit(cfg.n_shards)) * cfg.segs_per_shard
        + F.pmod(F.xxhash64(F.col("key"), F.lit(1)), F.lit(cfg.segs_per_shard))
    ).cast("long")


def _analysis_cols(cfg: IndexConfig) -> list[Column]:
    """The JVM-analyzed `toks{i}` (and `nlen{i}`) column of every field,
    over the `text` / `xf{i}` columns of `_keyed` — the segment
    builder's input next to `key` and `g`."""
    from lucene_solr_spark.analysis.jvm import (
        JVM_ANALYZERS,
        JVM_ANALYZERS_POS,
        JVM_NORM_LEN,
    )

    text_cols = ["text"] + [f"xf{i}" for i in range(len(cfg.extra_fields))]
    seg_cols = []
    for fi, text_col in enumerate(text_cols):
        text = F.col(text_col)
        positions = cfg.index_positions and fi == 0
        toks_expr = (JVM_ANALYZERS_POS if positions else JVM_ANALYZERS)[
            cfg.analyzer
        ](text)
        # discountOverlaps (BM25Similarity.java:141): overlap-emitting
        # chains / synonym expansion ship a norm-length column =
        # tokens minus same-position overlaps (for synonyms that is
        # the pre-expansion size — includeOrig keeps every original)
        nlen_expr = None
        if cfg.analyzer in JVM_NORM_LEN:
            nlen_expr = JVM_NORM_LEN[cfg.analyzer](text)
        if cfg.synonyms and fi == 0:
            from lucene_solr_spark.analysis.synonyms import (
                expand_tokens_col,
                expand_tokens_pos_col,
            )

            if nlen_expr is None:
                nlen_expr = F.size(toks_expr)
            toks_expr = (
                expand_tokens_pos_col(toks_expr, cfg.synonyms)
                if positions
                else expand_tokens_col(toks_expr, cfg.synonyms)
            )
        seg_cols.append(toks_expr.alias(f"toks{fi}"))
        if nlen_expr is not None:
            seg_cols.append(nlen_expr.cast("long").alias(f"nlen{fi}"))
    return seg_cols


def _segment_builder(cfg: IndexConfig, key_kind: str):
    from lucene_solr_spark.analysis.analyzers import DICT_STEMMERS
    from lucene_solr_spark.index.arrow_builder import make_arrow_segment_builder

    return make_arrow_segment_builder(
        key_kind, cfg.index_positions,
        fields=(cfg.text_col,) + tuple(cfg.extra_fields),
        codec=cfg.codec, stem=DICT_STEMMERS.get(cfg.analyzer),
        with_payloads=cfg.index_payloads,
    )


def seg_bases(seg_meta: list[tuple[int, int]]) -> tuple[dict[int, int], int]:
    """Doc base of every segment from sorted (g, n_docs) pairs — the
    MergeState.docBase concatenation rule. Returns (bases, max_doc)."""
    bases: dict[int, int] = {}
    acc = 0
    for g, nd in seg_meta:
        bases[g] = acc
        acc += nd
    return bases, acc


def explode_meta(pdfs, bases: dict[int, int], key_kind: str,
                 segs_per_shard: int):
    """Default-field segment meta rows -> doc_map rows (vectorized),
    one frame per segment."""
    for pdf in pdfs:
        for row in pdf.itertuples(index=False):
            g = int(row.g)
            if key_kind == "s":
                raw = bytes(row.keys_enc)
                keys = raw.decode("utf-8").split("\n") if raw else []
            else:
                keys = np.frombuffer(row.keys_enc, "<i8")
            dls = np.frombuffer(row.doc_lens_enc, "<i4")
            nrm = np.frombuffer(row.norms_enc, np.uint8)
            base = bases[g]
            yield pd.DataFrame(
                {
                    "doc_id": base + np.arange(len(keys), dtype=np.int64),
                    "key": keys,
                    "shard": np.int32(g // segs_per_shard),
                    "g": np.int64(g),
                    "doc_len": dls.astype(np.int64),
                    "norm": nrm.astype(np.int32),
                }
            )


def build_norms(pdf: pd.DataFrame, bases: dict[int, int],
                segs_per_shard: int) -> pd.DataFrame:
    """One (shard, field)'s segment meta rows -> its norm blob row
    (Lucene53NormsFormat analog)."""
    pdf = pdf.sort_values("g")
    blob = b"".join(bytes(x) for x in pdf["norms_enc"])
    base = bases[int(pdf["g"].iloc[0])]
    return pd.DataFrame(
        {
            "shard": [int(pdf["g"].iloc[0]) // segs_per_shard],
            "field": [pdf["field"].iloc[0]],
            "base": [base],
            "n_docs": [len(blob)],
            "norms": [blob],
        }
    )


def _manifest(cfg: IndexConfig, key_kind: str, seg_meta, bases, max_doc,
              field_stats: dict, n_total: int) -> dict:
    shard_bases = {}
    for g, _nd in seg_meta:
        shard_bases.setdefault(g // cfg.segs_per_shard, bases[g])
    cfg_dict = asdict(cfg)
    cfg_dict["extra_fields"] = list(cfg.extra_fields)
    return {
        "version": 1,
        "config": cfg_dict,
        "key_kind": key_kind,
        "max_doc": int(max_doc),
        "sum_total_term_freq": int(field_stats.get(cfg.text_col, 0) or 0),
        "field_stats": {k: int(v) for k, v in field_stats.items()},
        "fields": [cfg.text_col] + list(cfg.extra_fields),
        "n_input_rows": int(n_total),
        "seg_bases": {str(k): v for k, v in bases.items()},
        "shard_bases": {str(k): v for k, v in shard_bases.items()},
    }


def _write_manifest(out_dir: str, manifest: dict) -> None:
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1)


def build_index(
    spark: SparkSession,
    src: DataFrame,
    out_dir: str,
    config: IndexConfig | None = None,
    resume: bool = True,
) -> dict:
    """Build the full index at `out_dir`. Returns the manifest dict."""
    from lucene_solr_spark.session import ensure_on_workers

    cfg = config or IndexConfig()
    _check_config(cfg)
    ensure_on_workers(spark)
    os.makedirs(out_dir, exist_ok=True)
    _pt = PhaseTimer()
    G = cfg.n_shards * cfg.segs_per_shard

    keyed, key_kind = _keyed(src, cfg)

    if key_kind == "s" and cfg.sharding == "range_int":
        raise ValueError("range_int sharding requires integer keys; use sharding='hash'")

    if cfg.sharding == "range_int":
        lo, hi, n_total = keyed.agg(
            F.min("key"), F.max("key"), F.count(F.lit(1))
        ).first()
        span = int(hi) - int(lo) + 1
        g_col = ((F.col("key") - F.lit(int(lo))) * G / F.lit(span)).cast("long")
        g_col = F.least(g_col, F.lit(G - 1))
    elif cfg.sharding == "hash":
        n_total = keyed.count()
        g_col = _hash_segment(cfg)
    else:
        raise ValueError(f"unknown sharding {cfg.sharding}")

    with_g = keyed.withColumn("g", g_col)

    # ---- resumable segment build (tlog/commit analog) ----
    ckpt_path = os.path.join(out_dir, "checkpoints")
    seg_path = os.path.join(out_dir, "segments")
    done: set[int] = set()
    if resume and os.path.isdir(ckpt_path):
        done = {
            r.g for r in spark.read.parquet(ckpt_path).select("g").distinct().collect()
        }
    todo = with_g
    if done:
        todo = with_g.where(~F.col("g").isin([int(x) for x in done]))

    # ---- per-field JVM analysis + one applyInArrow segment stage ----
    seg_rows = todo.select("key", "g", *_analysis_cols(cfg)).groupBy(
        "g"
    ).applyInArrow(_segment_builder(cfg, key_kind), SEGMENT_SCHEMA)
    mode = "append" if done else "overwrite"
    seg_rows.write.mode(mode).parquet(seg_path)
    _pt.mark("seg_build_write")

    segments = spark.read.parquet(seg_path)

    # checkpoint/lineage table: one row per segment with metrics
    # (meta rows exist per (g, field); the default field's row carries
    # keys/fingerprint)
    meta = segments.where(
        (F.col("kind") == "m") & (F.col("field") == cfg.text_col)
    ).select("g", "n_docs", "fingerprint")
    post_metrics = (
        segments.where(F.col("kind") == "p")
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("df").alias("n_postings"),
            F.sum("cf").alias("sum_cf"),
            F.sum(F.length("doc_enc") + F.length("tf_enc")).alias("bytes"),
        )
    )
    ckpt = meta.join(post_metrics, "g", "left").fillna(
        0, subset=["n_terms", "n_postings", "sum_cf", "bytes"]
    )
    ckpt.write.mode("overwrite").parquet(ckpt_path)
    ckpt_rows = spark.read.parquet(ckpt_path).select("g", "n_docs").collect()
    # per-field collection stats (CollectionStatistics.sumTotalTermFreq
    # per field): Σ doc_len from the per-(segment, field) meta rows
    field_stats = {
        r["field"]: int(r["sttf"])
        for r in segments.where(F.col("kind") == "m")
        .groupBy("field")
        .agg(F.sum("sum_dl").alias("sttf"))
        .collect()
    }
    _pt.mark("checkpoint")

    seg_meta = sorted((int(r.g), int(r.n_docs)) for r in ckpt_rows)
    bases, max_doc = seg_bases(seg_meta)
    bases_b = spark.sparkContext.broadcast(bases)
    segs = cfg.segs_per_shard

    # ---- doc_map: explode segment meta rows (vectorized) ----
    meta_rows = segments.where(
        (F.col("kind") == "m") & (F.col("field") == cfg.text_col)
    ).select("g", "keys_enc", "doc_lens_enc", "norms_enc")
    doc_map = meta_rows.mapInPandas(
        lambda it: explode_meta(it, bases_b.value, key_kind, segs),
        _doc_map_schema(key_kind),
    )
    doc_map.write.mode("overwrite").parquet(os.path.join(out_dir, "doc_map"))
    _pt.mark("doc_map")

    # ---- per-(shard, field) norm blobs (Lucene53NormsFormat analog) ----
    norms_df = (
        segments.where(F.col("kind") == "m")
        .select("g", "field", "norms_enc")
        .withColumn("shard", (F.col("g") / cfg.segs_per_shard).cast("int"))
        .groupBy("shard", "field")
        .applyInPandas(lambda pdf: build_norms(pdf, bases_b.value, segs), NORMS_SCHEMA)
    )
    norms_df.write.mode("overwrite").parquet(os.path.join(out_dir, "norms"))
    _pt.mark("norms")

    # ---- merge: ordered concat per (shard, term, part), salted for skew ----
    posting_rows = segments.where(F.col("kind") == "p")
    part_col = F.when(
        F.col("df") > cfg.hot_seg_df,
        (F.pmod(F.col("g"), F.lit(cfg.segs_per_shard)) / cfg.hot_segs_per_part).cast("int"),
    ).otherwise(F.lit(0))
    bucketed = posting_rows.withColumn("part", part_col).withColumn(
        "bucket",
        F.pmod(F.xxhash64("term", "part"), F.lit(cfg.merge_buckets)).cast("int"),
    ).withColumn("shard", (F.col("g") / cfg.segs_per_shard).cast("int"))

    merged = bucketed.groupBy("shard", "bucket").applyInPandas(
        _make_merger(bases, cfg.segs_per_shard, cfg.codec), POSTINGS_SCHEMA
    )
    # Range-partition by (shard, term): write parallelism is decoupled
    # from shard count (a shard's terms span several contiguous-range
    # files) while keeping term-sorted files so parquet min/max pruning
    # still short-circuits term lookups (the FST .tip analog).
    # repartitionByRange needs a sampling pass — persist `merged` so the
    # expensive merge kernel runs once, not twice.
    from pyspark import StorageLevel

    merged = merged.persist(StorageLevel.MEMORY_AND_DISK)
    n_write = max(cfg.n_shards, spark.sparkContext.defaultParallelism)
    (
        merged.repartitionByRange(n_write, "shard", "term")
        .sortWithinPartitions("shard", "term", "part")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(os.path.join(out_dir, "postings"))
    )
    merged.unpersist()
    postings_dir = os.path.join(out_dir, "postings")
    if not any(f.endswith(".parquet") for _, _, fs in os.walk(postings_dir)
               for f in fs):
        # no doc yielded a token: the partitioned write left no file,
        # so keep a readable (schema-bearing, empty) table, as
        # build_collected does
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        pq.write_table(to_arrow_schema(POSTINGS_SCHEMA).empty_table(),
                       os.path.join(postings_dir, "part-00000-empty.parquet"))
    _pt.mark("merge_write")

    # ---- global term stats (df/cf across shards) ----
    postings_final = spark.read.parquet(os.path.join(out_dir, "postings"))
    term_stats = postings_final.groupBy("term").agg(
        F.sum("df").alias("df"), F.sum("cf").alias("cf")
    )
    term_stats.coalesce(max(1, cfg.merge_buckets // 8)).sortWithinPartitions(
        "term"
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "term_stats"))
    # reversed dictionary (ReversedWildcardFilterFactory analog,
    # solr/core/.../analysis/ReversedWildcardFilterFactory.java): the
    # same vocabulary keyed by reverse(term) and SORTED on it, so a
    # leading-wildcard expansion (*foo -> rterm startswith 'oof')
    # becomes a min/max-pruned parquet seek instead of a full
    # dictionary regex scan. Vocabulary-sized — negligible next to
    # postings.
    spark.read.parquet(os.path.join(out_dir, "term_stats")).select(
        F.reverse(F.col("term")).alias("rterm"), "term", "df"
    ).coalesce(max(1, cfg.merge_buckets // 8)).sortWithinPartitions(
        "rterm"
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "term_stats_rev"))
    _pt.mark("term_stats")

    # ---- collection stats + manifest ----
    manifest = _manifest(cfg, key_kind, seg_meta, bases, max_doc,
                         field_stats, n_total)
    _write_manifest(out_dir, manifest)
    return manifest


# ---------------------------------------------------------------------
# In-driver build of a small batch (the NRT flush fast path)
# ---------------------------------------------------------------------


def collect_segment_input(src: DataFrame,
                          cfg: IndexConfig) -> tuple["pa.Table", str]:
    """Run the segment stage's input projection — key, g and the
    JVM-analyzed `toks{i}` / `nlen{i}` columns that `build_index` feeds
    its applyInArrow stage — as ONE Spark job and collect it as Arrow.
    'hash' sharding only (a 'range_int' g needs a min/max job first).
    Returns (rows, key_kind)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    if cfg.sharding != "hash":
        raise ValueError("collect_segment_input needs sharding='hash'")
    keyed, key_kind = _keyed(src, cfg)
    seg_input = keyed.withColumn("g", _hash_segment(cfg)).select(
        "key", "g", *_analysis_cols(cfg)
    )
    # plain (not large_) string/list types, whatever the session's
    # arrow conf: the builder's output schemas are the Spark path's
    rows = seg_input.toArrow().cast(to_arrow_schema(seg_input.schema))
    return rows, key_kind


def _to_arrow(pdf: pd.DataFrame, schema: StructType) -> "pa.Table":
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    return pa.Table.from_pandas(
        pdf, schema=to_arrow_schema(schema), preserve_index=False
    ).replace_schema_metadata()


def build_collected(
    rows: "pa.Table",
    out_dir: str,
    cfg: IndexConfig,
    key_kind: str,
    timer: PhaseTimer | None = None,
) -> dict:
    """`build_index` over rows `collect_segment_input` collected, run in
    this process: the same segment builder per g, seg-base rule,
    merger, doc_map explode and norm blobs, written with pyarrow as the
    same tables (postings in `shard=` dirs, doc_map, norms, term_stats,
    term_stats_rev) and manifest; `out_dir` is replaced. One segment
    per shard (segs_per_shard=1), so shard == g and every posting row
    is part 0 of its term (the merge's hot-term split is within a
    shard's segments). No segments/ or checkpoints/ scratch: the build
    is one call, with nothing to resume. Returns the manifest."""
    import shutil
    import uuid

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    _check_config(cfg)
    if cfg.segs_per_shard != 1:
        raise ValueError("build_collected builds one segment per shard")
    pt = timer or PhaseTimer()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)

    def write(tbl: pa.Table, *parts: str) -> None:
        d = os.path.join(out_dir, *parts)
        os.makedirs(d, exist_ok=True)
        pq.write_table(tbl, os.path.join(d, f"part-00000-{uuid.uuid4()}.parquet"))

    build = _segment_builder(cfg, key_kind)
    g_of_row = rows.column("g").to_numpy()
    # the segment builder pins Arrow's pool to one thread (one task =
    # one core); that must not outlive this call in the driver
    n_cpu = pa.cpu_count()
    try:
        segments = pa.concat_tables(
            [build(rows.take(np.flatnonzero(g_of_row == g)))
             for g in np.unique(g_of_row)]
        )
    finally:
        pa.set_cpu_count(n_cpu)
    pt.mark("seg_build_write")

    is_meta = pc.equal(segments.column("kind"), "m")
    meta = segments.filter(is_meta).select(
        ["g", "field", "sum_dl", "keys_enc", "doc_lens_enc", "norms_enc", "n_docs"]
    ).to_pandas()
    default_meta = meta[meta["field"] == cfg.text_col]
    field_stats = {
        f: int(v) for f, v in meta.groupby("field")["sum_dl"].sum().items()
    }
    seg_meta = sorted(
        (int(g), int(n)) for g, n in zip(default_meta["g"], default_meta["n_docs"])
    )
    bases, max_doc = seg_bases(seg_meta)
    pt.mark("checkpoint")

    write(_to_arrow(pd.concat(
        list(explode_meta([default_meta], bases, key_kind, 1)),
        ignore_index=True,
    ), _doc_map_schema(key_kind)), "doc_map")
    pt.mark("doc_map")

    write(_to_arrow(pd.concat(
        [build_norms(grp, bases, 1) for _, grp in meta.groupby(["g", "field"])],
        ignore_index=True,
    ), NORMS_SCHEMA), "norms")
    pt.mark("norms")

    posting_rows = segments.filter(pc.invert(is_meta)).select(
        ["g", "term", "df", "cf", "doc_enc", "tf_enc", "block_last",
         "block_doc_off", "block_tf_off", "block_max_tf", "block_max_norm",
         "pos_enc", "pay_enc"]
    ).to_pandas()
    posting_rows["part"] = np.int32(0)
    merge = _make_merger(bases, 1, cfg.codec)
    merged = _to_arrow(pd.concat(
        [merge(grp) for _, grp in posting_rows.groupby("g")]
        or [merge(posting_rows)],
        ignore_index=True,
    ), POSTINGS_SCHEMA).sort_by(
        [("shard", "ascending"), ("term", "ascending"), ("part", "ascending")]
    )
    shard_col = merged.column("shard").to_numpy()
    for shard in np.unique(shard_col):
        write(merged.filter(pa.array(shard_col == shard)).drop_columns(["shard"]),
              "postings", f"shard={int(shard)}")
    if not merged.num_rows:  # no tokens at all: keep a readable table
        write(merged, "postings")
    pt.mark("merge_write")

    agg = merged.group_by("term").aggregate([("df", "sum"), ("cf", "sum")])
    term_stats = pa.table(
        {"term": agg.column("term"), "df": agg.column("df_sum"),
         "cf": agg.column("cf_sum")}
    ).sort_by("term")
    write(term_stats, "term_stats")
    write(pa.table(
        {"rterm": pc.utf8_reverse(term_stats.column("term")),
         "term": term_stats.column("term"), "df": term_stats.column("df")}
    ).sort_by("rterm"), "term_stats_rev")
    pt.mark("term_stats")

    manifest = _manifest(cfg, key_kind, seg_meta, bases, max_doc,
                         field_stats, rows.num_rows)
    _write_manifest(out_dir, manifest)
    return manifest
