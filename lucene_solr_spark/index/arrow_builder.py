"""Arrow-native segment construction — the one segment engine.

A Python-object-per-token builder materializes every token as a Python
string (millions of small allocations per segment); on virtualized
hosts the resulting page-fault traffic serializes in the kernel and
caps scaling. This builder keeps the whole invert pipeline in native
memory:

- tokenization happens JVM-side (analysis/jvm.py) — the group input
  arrives as one Arrow list<string> (or list<struct<term,pos>>) column
  per field
- term ids come from pyarrow `dictionary_encode` (C++ hash table)
- ordering/counting is numpy over int arrays
- only the ~|dict| unique terms are ever materialized as Python
  strings (for the output term column)

Fields are inverted in turn, like the per-field loop of
DefaultIndexingChain (index/DefaultIndexingChain.java:461-499); the
tests duel the resulting indexes against the independent brute-force
oracle (search/oracle.py).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from lucene_solr_spark.functions.smallfloat import encode_norm
from lucene_solr_spark.index.builder import FIELD_SEP
from lucene_solr_spark.index.codec import (
    encode_position_lists,
    encode_posting_lists,
)

_LIST_I32 = pa.list_(pa.int32())
_LIST_I64 = pa.list_(pa.int64())


def _arrow_schema():
    return pa.schema(
        [
            ("g", pa.int64()),
            ("kind", pa.string()),
            ("term", pa.string()),
            ("df", pa.int64()),
            ("cf", pa.int64()),
            ("doc_enc", pa.binary()),
            ("tf_enc", pa.binary()),
            ("block_last", _LIST_I64),
            ("block_doc_off", _LIST_I32),
            ("block_tf_off", _LIST_I32),
            ("block_max_tf", _LIST_I32),
            ("block_max_norm", _LIST_I32),
            ("pos_enc", pa.binary()),
            ("pay_enc", pa.binary()),
            ("field", pa.string()),
            ("sum_dl", pa.int64()),
            ("keys_enc", pa.binary()),
            ("doc_lens_enc", pa.binary()),
            ("norms_enc", pa.binary()),
            ("n_docs", pa.int64()),
            ("fingerprint", pa.string()),
        ]
    )


def _list_array(parts: list[np.ndarray], dtype) -> pa.Array:
    if parts:
        offsets = np.zeros(len(parts) + 1, np.int32)
        np.cumsum([len(p) for p in parts], out=offsets[1:])
        values = np.concatenate(parts) if offsets[-1] else np.array([], dtype)
        return pa.ListArray.from_arrays(
            pa.array(offsets), pa.array(values.astype(dtype))
        )
    return pa.array([], pa.list_(pa.from_numpy_dtype(dtype)))


def _invert(toks: pa.ListArray, nlen, index_positions: bool,
            with_payloads: bool, stem, codec: str):
    """One field of one segment -> (doc_lens, norms, postings) where
    postings is None for an empty field, else (uniques, dfs, cfs, enc,
    pos_encs, pay_encs) with `uniques` the sorted term dictionary."""
    n_docs = len(toks)
    offsets = toks.offsets.to_numpy()
    doc_lens = np.diff(offsets).astype(np.int64)
    # discountOverlaps (BM25Similarity.java:141 — default true):
    # chains that emit same-position tokens (synonyms, shingles,
    # edge grams) ship an `nlen` column = tokens minus overlaps;
    # the norm byte encodes THAT length, while doc_lens (all
    # emitted tokens) keeps feeding sum_dl / avgdl
    # (sumTotalTermFreq counts every posting).
    norm_lens = doc_lens if nlen is None else nlen
    norms = encode_norm(norm_lens)
    total = int(doc_lens.sum())
    if not total:
        return doc_lens, norms, None

    pos_encs = None
    pay_encs = None
    if index_positions:
        vals = toks.values  # StructArray(term, pos[, pay])
        terms_flat = vals.field("term")
        flat_pos = vals.field("pos").to_numpy().astype(np.int64)
        if with_payloads:
            # nulls (no payload at that position) -> NaN
            flat_pay = (
                vals.field("pay")
                .to_numpy(zero_copy_only=False)
                .astype(np.float32)
            )
    else:
        terms_flat = toks.values
    denc = pc.dictionary_encode(terms_flat)
    if isinstance(denc, pa.ChunkedArray):
        denc = denc.combine_chunks()
    codes_raw = denc.indices.to_numpy().astype(np.int64)
    dictionary = denc.dictionary
    if stem is not None:
        # stem the dictionary; colliding stems merge via the
        # inverse map (np.unique sorts by codepoint = utf-8
        # byte order, the Term comparison contract)
        stems = np.array(
            [stem(t) for t in dictionary.to_pylist()], object
        )
        uniq, inv = np.unique(stems, return_inverse=True)
        uniques = uniq.tolist()
        codes = inv.astype(np.int64)[codes_raw]
    else:
        # byte-order ranks for the dictionary -> sorted term ids
        sort_idx = (
            pc.array_sort_indices(dictionary).to_numpy().astype(np.int64)
        )
        rank = np.empty(len(dictionary), np.int64)
        rank[sort_idx] = np.arange(len(dictionary), dtype=np.int64)
        codes = rank[codes_raw]
        uniques = dictionary.take(pa.array(sort_idx)).to_pylist()
    n_terms = len(uniques)

    doc_ord = np.repeat(np.arange(n_docs, dtype=np.int64), doc_lens)
    if index_positions:
        order = np.lexsort((flat_pos, doc_ord, codes))
        c_s = codes[order]
        d_s = doc_ord[order]
        p_s = flat_pos[order]
        newrun = np.empty(total, bool)
        newrun[0] = True
        newrun[1:] = (c_s[1:] != c_s[:-1]) | (d_s[1:] != d_s[:-1])
        run_id = np.cumsum(newrun) - 1
        tfs = np.bincount(run_id).astype(np.int64)
        doc_local = d_s[newrun]
        term_of_run = c_s[newrun]
        dfs = np.bincount(term_of_run, minlength=n_terms).astype(np.int64)
        pos_per_term = np.bincount(c_s, minlength=n_terms).astype(np.int64)
        pos_encs = encode_position_lists(p_s, tfs, pos_per_term)
        if with_payloads:
            # .pay analog: raw <f4 stream aligned 1:1 with the
            # position stream (same (term, doc, pos) order);
            # per-doc runs are delimited by the SAME tf counts,
            # so merge is plain byte concat like pos_enc
            pay_s = flat_pay[order]
            bounds = np.cumsum(pos_per_term)[:-1]
            pay_encs = [
                chunk.astype("<f4").tobytes()
                for chunk in np.split(pay_s, bounds)
            ]
    else:
        pair = codes * n_docs + doc_ord
        upair, tfs = np.unique(pair, return_counts=True)
        tfs = tfs.astype(np.int64)
        doc_local = upair % n_docs
        dfs = np.bincount(upair // n_docs, minlength=n_terms).astype(
            np.int64
        )
    cfs = np.add.reduceat(tfs, np.cumsum(dfs) - dfs).astype(np.int64)
    enc = encode_posting_lists(
        dfs, doc_local, tfs, norms[doc_local], codec=codec
    )
    return doc_lens, norms, (uniques, dfs, cfs, enc, pos_encs, pay_encs)


def _field_rows(schema, g: int, field: str, doc_lens, norms, postings,
                keys_b, fingerprint) -> pa.Table:
    """One field's posting rows plus its meta row."""
    n_docs = len(doc_lens)
    if postings is None:
        uniques, dfs, cfs, enc, pos_encs, pay_encs = [], [], [], None, None, None
    else:
        uniques, dfs, cfs, enc, pos_encs, pay_encs = postings
    n_post = len(uniques)
    n_rows = n_post + 1

    def col(vals, typ):
        return pa.array(vals, typ)

    none_post = [None] * n_post
    arrays = [
        col([g] * n_rows, pa.int64()),
        col(["p"] * n_post + ["m"], pa.string()),
        col(uniques + [None], pa.string()),
        col(list(dfs) + [None], pa.int64()),
        col(list(cfs) + [None], pa.int64()),
        col((enc["doc_enc"] if enc else []) + [None], pa.binary()),
        col((enc["tf_enc"] if enc else []) + [None], pa.binary()),
    ]
    for k, typ, dt in (
        ("block_last", _LIST_I64, np.int64),
        ("block_doc_off", _LIST_I32, np.int32),
        ("block_tf_off", _LIST_I32, np.int32),
        ("block_max_tf", _LIST_I32, np.int32),
        ("block_max_norm", _LIST_I32, np.int32),
    ):
        if enc:
            la = _list_array([np.asarray(x) for x in enc[k]], dt)
            arrays.append(pa.concat_arrays([la, pa.nulls(1, typ)]))
        else:
            arrays.append(pa.nulls(1, typ))
    arrays.append(
        col((pos_encs if pos_encs is not None else none_post) + [None], pa.binary())
    )
    arrays.append(
        col((pay_encs if pay_encs is not None else none_post) + [None], pa.binary())
    )
    arrays.append(col(none_post + [field], pa.string()))
    arrays.append(col(none_post + [int(doc_lens.sum())], pa.int64()))
    arrays.append(col(none_post + [keys_b], pa.binary()))
    arrays.append(
        col(none_post + [doc_lens.astype("<i4").tobytes()], pa.binary())
    )
    arrays.append(
        col(none_post + [norms.astype(np.uint8).tobytes()], pa.binary())
    )
    arrays.append(col(none_post + [n_docs], pa.int64()))
    arrays.append(col(none_post + [fingerprint], pa.string()))
    return pa.Table.from_arrays(arrays, schema=schema)


def make_arrow_segment_builder(
    key_kind: str, index_positions: bool, fields: tuple = ("text",),
    codec: str = "vbyte", stem=None, with_payloads: bool = False,
):
    """Returns the applyInArrow function building ONE segment's rows.

    key_kind 'l' = int64 keys (dense ids), 's' = utf-8 string keys
    (e.g. urls — the Solr uniqueKey analog). String keys sort by
    codepoint, which equals utf-8 bytewise order (Lucene's term/key
    comparison contract, index/Term.java:49-57).

    `fields` is the ordered field list; field i arrives as a tokens
    column `toks{i}` (plus `nlen{i}` when its chain emits overlaps).
    fields[0] is the default field: unprefixed terms, the only field
    with positions / payloads, and the only meta row carrying the
    segment's keys and fingerprint. Later fields' terms are prefixed
    `<field>FIELD_SEP` on the sorted dictionary, and each field gets
    its own doc lengths / norms meta row (the FieldInfos analog).

    `stem`: optional per-term stemmer (analyzers.DICT_STEMMERS — the
    PorterStemFilter seam). Applied to the pyarrow DICTIONARY only
    (|vocab| python calls per segment batch, never per token); terms
    whose stems collide merge into one posting via a code remap, and
    positions / doc lengths are untouched (stemming drops nothing)."""

    def build_segment(tbl: pa.Table) -> pa.Table:
        # One Spark task = one core slot: cap Arrow's internal thread
        # pool (it defaults to ALL host cores) so concurrent tasks
        # don't oversubscribe the machine. On a cluster this is the
        # correct per-slot budget; locally it also makes the N-core
        # level actually USE N cores — without it a local[2] run
        # silently multithreads inside pyarrow and any measured
        # scaling efficiency vs local[8] is fiction.
        if pa.cpu_count() != 1:
            pa.set_cpu_count(1)
        schema = _arrow_schema()
        if tbl.num_rows == 0:
            return schema.empty_table()
        tbl = tbl.sort_by("key")  # Arrow string sort = bytewise = codepoint order
        g = int(tbl.column("g")[0].as_py())

        keys_col = tbl.column("key")
        if key_kind == "s":
            # keys_enc is "\n"-joined: a key holding one cannot round-trip
            if pc.any(pc.match_substring(keys_col, "\n")).as_py():
                raise ValueError("string keys must not contain newlines")
            keys_b = "\n".join(keys_col.to_pylist()).encode("utf-8")
        else:
            keys_b = (
                keys_col.combine_chunks().to_numpy().astype("<i8").tobytes()
            )
        fingerprint = hashlib.sha256(keys_b).hexdigest()[:16]

        tables = []
        for fi, field in enumerate(fields):
            default = fi == 0
            nlen = None
            if f"nlen{fi}" in tbl.schema.names:
                nlen = (
                    tbl.column(f"nlen{fi}").combine_chunks().to_numpy()
                    .astype(np.int64)
                )
            doc_lens, norms, postings = _invert(
                tbl.column(f"toks{fi}").combine_chunks(), nlen,
                index_positions and default, with_payloads and default,
                stem, codec,
            )
            if postings is not None and not default:
                prefix = f"{field}{FIELD_SEP}"
                postings = ([prefix + t for t in postings[0]],) + postings[1:]
            tables.append(_field_rows(
                schema, g, field, doc_lens, norms, postings,
                keys_b if default else None,
                fingerprint if default else None,
            ))
        return tables[0] if len(tables) == 1 else pa.concat_tables(tables)

    return build_segment
