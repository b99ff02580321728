"""BM25 top-k searcher over the sharded index tables.

Query lifecycle mirrors IndexSearcher.search (SURVEY.md §3.1):

1. rewrite(query) to fixpoint (logical plan), then _spec: ONE boolean
   representation — term, AND, OR (incl. min_should_match), NOT,
   req+opt, dismax and every nested BooleanQuery compile through _tree
   to the term/bool/dismax node tree; only phrase, multi_phrase and
   spans keep their own positional kernels.
2. bind global stats: (df, cf) per term from the driver TermStates cache
   (_term_states — a never-seen term is a binary search in the driver's
   copy of the term dictionary on the driver tier, else one pushed-down
   `term IN` seek), maxDoc/sumTotalTermFreq from the manifest -> float32
   idf, avgdl, the 256-entry norm cache
   (BM25Similarity.computeWeight:200-212).
3. per-shard execution — ONE seam, _run_shards, for every scoring
   caller (search, search_many, the similarity wrappers, early
   termination, the term automaton), with two tiers that run the SAME
   per-shard function (Lucene's leaf slice running the caller's
   kernel; the seam shifts docIDs by the generation offset):
   - Spark tier: scan `postings` with `term IN (...)` pushed to parquet
     (BlockTree term seek analog) minus the positions/payload streams
     no spec reads, cogroup with the shard's norms + open-time liveDocs
     row (pinned, exchange-free after preload), then ONE applyInPandas
     group per shard.
   - driver tier: after a preload() of an index whose postings + norms
     files take at most IN_PROCESS_MAX_BYTES, the driver holds a copy
     of the pins and the term dictionary (_DriverIndex) and plans and
     scores every shard in process — binary-search term seeks, no
     Spark job, no Python stage, cold terms included (Lucene's
     IndexSearcher looping over an in-process reader's leaves).
     Scoring then runs inside search(), not at collect().
   The scoring kernel is _score_spec: decode blocks, vectorized float32
   scoring, bounded top-k ordered (score desc, doc asc)
   (TopScoreDocCollector.java:63-80, HitQueue.java:76-81).
4. global merge: score desc, doc_id asc, first k — ORDER BY ... LIMIT k
   on the Spark tier; a numpy top-k (_merge_topk, per qid for
   search_many) on the driver tier, returned as a DataFrame over local
   rows (a LocalRelation: collect() starts no job). Global docIDs are
   monotone in (shard, local doc), so both reproduce TopDocs.merge's
   tie-breaks exactly (score desc, earlier shard, shard-internal order;
   TopDocs.java:94-116).

Pluggable similarity (IndexSearcher.setSimilarity, SURVEY §2.6): the
classic TF-IDF, SweetSpot and SimilarityBase (LM/DFR/IB/Multi) wrappers
build a _Similarity on the driver and run the SAME spec, seam and
kernels as BM25 — _score_spec / _eval_tree take a `leaf_fn(term, tf,
norm_bytes, boost)` leaf scorer and a `coord` flag (ClassicSimilarity
overlap/maxOverlap on the root disjunction), so min_should_match,
liveDocs and the candidate-threaded intersection hold for every
similarity.

Block-max fast paths (Ding & Suel SIGIR'11; north-rule addition, SURVEY §4.5),
all output-identical to the exhaustive path (tested):
- bare term root: blocks visited in upper-bound order, decode stops
  when the kth score beats every remaining block bound
  (_score_term_pruned).
- required clauses (AND / NOT / req+opt, at any depth): _eval_tree
  evaluates them cheapest-first (_tree_cost, the shard-local postings
  count) and threads the shrinking candidate set down, so later term
  leaves decode only the 128-blocks overlapping it via the per-block
  last-docID skip entries (ConjunctionDISI.java:84-133 + advance()).
  Similarity-independent: runs under every leaf_fn.
- pure-SHOULD root of term leaves (OR, msm <= 1): block-max WAND — doc
  space segmented at block boundaries, per-segment bound = sum of
  covering blocks' max impacts, visited bound-desc until the kth score
  wins (_score_or_wand). The stored block maxima are BM25 impacts, so
  this and the pruned term path are off under a leaf_fn and need a
  bounded k.
"""

from __future__ import annotations

import json
import os
import sys
from functools import partial, reduce
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from lucene_solr_spark import B, K1
from lucene_solr_spark.functions import bm25
from lucene_solr_spark.index.codec import decode_blocks, decode_posting_list
from lucene_solr_spark.search.query import (
    BlendedTermQuery,
    BooleanAnd,
    BooleanMustShould,
    BooleanNot,
    BooleanOr,
    BooleanQuery,
    BoostQuery,
    CommonTermsQuery,
    ConstantScoreQuery,
    DisjunctionMax,
    DisMaxQuery,
    FieldValueQuery,
    MatchAllDocsQuery,
    FuzzyQuery,
    MultiPhraseQuery,
    PhraseQuery,
    PrefixQuery,
    Query,
    RegexpQuery,
    SpanContainingQuery,
    SpanFirstQuery,
    SpanMultiTermQueryWrapper,
    SpanNearQuery,
    SpanNotQuery,
    SpanOrQuery,
    SpanQuery,
    SpanTermQuery,
    SpanWithinQuery,
    TermQuery,
    TermRangeQuery,
    TermsQuery,
    TooManyClauses,
    WildcardQuery,
    rewrite,
    BoostingQuery,
    PayloadNearQuery,
    SpanPayloadCheckQuery,
    SpanPositionRangeQuery,
)


# Query classes _spec compiles through _tree. The flat ones are what the
# similarity wrappers and early termination accept; the SimilarityBase
# family also takes the nested ones. BooleanNot / BooleanMustShould /
# DisjunctionMax compile to the tree too, for search and explain only.
_FLAT_QUERIES = (TermQuery, BooleanAnd, BooleanOr)
_NESTED_QUERIES = (BooleanQuery, BoostQuery, ConstantScoreQuery, DisMaxQuery,
                   MatchAllDocsQuery)


def _topk_arrays(docs: np.ndarray, scores: np.ndarray, k: int):
    """Bounded top-k, order = score desc then doc asc (HitQueue.java:76-81).

    Exact under ties: selects every doc scoring >= the kth-largest score
    before the (doc-asc) tie-break sort, so boundary ties resolve by docID
    exactly like the reference's heap."""
    if k is None:  # unbounded: full result set, still tie-break ordered
        order = np.lexsort((docs, -scores))
        return docs[order], scores[order]
    if k <= 0 or len(docs) == 0:
        return docs[:0], scores[:0]
    if len(docs) > max(4 * k, 64):
        kth = np.partition(scores, len(scores) - k)[len(scores) - k]
        mask = scores >= kth
        docs, scores = docs[mask], scores[mask]
    order = np.lexsort((docs, -scores))[:k]
    return docs[order], scores[order]


def _apply_cursor(docs: np.ndarray, scores: np.ndarray, cursor):
    """searchAfter paging predicate (TopScoreDocCollector.java:87-121,
    PagingTopScoreDocCollector): keep only hits STRICTLY after the
    (score, docID) cursor in the global (score desc, docID asc) order.
    Applied before heap insertion, so the pruned kernels' kth floor is
    page-N's own competition threshold. Score comparison is at f32
    precision — the cursor is a page-(N-1) result score."""
    if cursor is None or len(docs) == 0:
        return docs, scores
    s32 = np.float32(cursor[0])
    ad = np.int64(cursor[1])
    sf = scores.astype(np.float32, copy=False)
    m = (sf < s32) | ((sf == s32) & (docs > ad))
    return docs[m], scores[m]


class _LazyTerms:
    """Lazy per-term access to a shard's matched posting rows.

    Mirrors the reference's two-level access: block metadata (the skip
    list: last docID + block-max impact per 128-block) is available
    without touching posting bytes; bodies decode on demand — fully
    (`full`) or only the blocks overlapping a candidate set
    (`decode_for`, the `advance()`/skip-read analog,
    Lucene50PostingsReader.java:395-435)."""

    def __init__(self, pdf: pd.DataFrame, codec: str = "vbyte"):
        self.codec = codec
        self.has_pos = "pos_enc" in pdf.columns
        self.rows: dict[str, list] = {}
        self.dfs: dict[str, int] = {}
        for term, grp in pdf.sort_values("part").groupby("term", sort=False):
            self.rows[term] = list(grp.itertuples(index=False))
            self.dfs[term] = int(grp["df_total"].iloc[0])
        self._full: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        self._blk: dict[tuple, tuple[np.ndarray, np.ndarray]] = {}
        self._ldf: dict[str, int] = {}
        # decode telemetry (lets tests prove the skip path really ran:
        # a pruned execution decodes blocks, not whole lists)
        self.n_full_decodes = 0
        self.n_block_decodes = 0

    def __contains__(self, term: str) -> bool:
        return term in self.rows

    def local_df(self, term: str) -> int:
        """Shard-local postings count (decode-cost estimate)."""
        if term not in self._ldf:
            self._ldf[term] = sum(int(r.df) for r in self.rows[term])
        return self._ldf[term]

    def full(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        if term not in self._full:
            self.n_full_decodes += 1
            ds, ts = [], []
            for row in self.rows[term]:
                d, t = decode_posting_list(
                    bytes(row.doc_enc), bytes(row.tf_enc), int(row.df),
                    codec=self.codec,
                )
                ds.append(d)
                ts.append(t)
            self._full[term] = (np.concatenate(ds), np.concatenate(ts))
        return self._full[term]

    def tf_at(self, term: str, doc: int) -> int:
        """The term's freq in `doc` (0 when absent) — explain lookups."""
        if term not in self.rows:
            return 0
        d, tf = self.full(term)
        p = int(np.searchsorted(d, doc))
        return int(tf[p]) if p < len(d) and d[p] == doc else 0

    def pos_stream(self, term: str) -> bytes | None:
        if not self.has_pos:
            return None
        ps = [bytes(r.pos_enc) for r in self.rows[term] if r.pos_enc is not None]
        return b"".join(ps) if ps else None

    def pay_stream(self, term: str) -> bytes | None:
        """Concatenated .pay analog (raw <f4 aligned with pos_stream —
        same part order, same per-doc tf delimiting)."""
        rows = self.rows[term]
        if not rows or not hasattr(rows[0], "pay_enc"):
            return None
        ps = [bytes(r.pay_enc) for r in rows if r.pay_enc is not None]
        return b"".join(ps) if ps else None

    def block_bounds(self, term: str):
        """(block_last arrays per part row) for skip decisions."""
        return [np.asarray(r.block_last, np.int64) for r in self.rows[term]]

    def decode_for(self, term: str, cand: np.ndarray):
        """Decode only blocks whose doc range can contain `cand` docs.

        Returns (docs, tfs) covering every cand doc the term has;
        decode work is proportional to touched blocks, not df."""
        if term in self._full:
            return self._full[term]
        ds, ts = [], []
        for ri, row in enumerate(self.rows[term]):
            bl = np.asarray(row.block_last, np.int64)
            sel = cand[
                (cand <= int(bl[-1])) if len(bl) else np.zeros(len(cand), bool)
            ]
            if len(sel) == 0:
                continue
            bids = np.unique(np.searchsorted(bl, sel))
            bids = bids[bids < len(bl)]
            if len(bids) == 0:
                continue
            missing = [b for b in bids.tolist() if (term, ri, b) not in self._blk]
            if missing:
                self.n_block_decodes += len(missing)
                # one decode per block: merged rows carry IRREGULAR block
                # sizes (each source segment's tail run is its own block),
                # so a block's posting count is only known after decoding
                # its byte range — never assume BLOCK_SIZE postings.
                bdo = np.asarray(row.block_doc_off, np.int64)
                bto = np.asarray(row.block_tf_off, np.int64)
                for b in missing:
                    db, tb = decode_blocks(
                        bytes(row.doc_enc),
                        bytes(row.tf_enc),
                        np.asarray([b], np.int64),
                        bl,
                        bdo,
                        bto,
                        int(row.df),
                        codec=self.codec,
                    )
                    self._blk[(term, ri, b)] = (db, tb)
            for b in bids.tolist():
                db, tb = self._blk[(term, ri, b)]
                ds.append(db)
                ts.append(tb)
        if not ds:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        return np.concatenate(ds), np.concatenate(ts)


from lucene_solr_spark.index.builder import FIELD_SEP  # noqa: E402
# internal term key = "<field>\x1d<token>" for non-default fields


def _field_key(term: str) -> str:
    """'' for the default field, else the field name (Term.field)."""
    i = term.find(FIELD_SEP)
    return "" if i < 0 else term[:i]


def _nc(term: str, norms_map: dict, caches: dict):
    """(norm bytes, norm cache) of the term's field."""
    f = _field_key(term)
    return norms_map[f], caches[f]


def _decode_shard(
    pdf: pd.DataFrame,
    norms_pdf: pd.DataFrame | None = None,
    default_field: str | None = None,
    codec: str = "vbyte",
):
    """Build lazy shard accessors.

    Returns (base, norms_map, lt, dfs, per_pos_fn) with lt a
    _LazyTerms and norms_map a dict field-key -> uint8 norm bytes
    ('' = default field). The shard's norm blobs come from `norms_pdf`
    (the cogrouped norms side — one small row per shard AND FIELD) or,
    for legacy/joined single-field frames, from columns on `pdf`."""
    src = norms_pdf if norms_pdf is not None else pdf
    base = int(src["base"].iloc[0])
    norms_map: dict[str, np.ndarray] = {}
    if "field" in src.columns:
        # A null field means a pre-multi-field norms row unioned via
        # allowMissingColumns (mixed-generation index: base built before
        # the per-field schema, NRT delta after) — treat it as the
        # DEFAULT field so base-shard scoring keeps working.
        fields = [
            (row.field if row.field is not None else default_field)
            for row in src.itertuples(index=False)
        ]
        n_fields = len(set(fields))
        for f, row in zip(fields, src.itertuples(index=False)):
            arr = np.frombuffer(row.norms, np.uint8)
            norms_map[f] = arr
            if f == default_field or n_fields == 1:
                norms_map[""] = arr
    else:
        norms_map[""] = np.frombuffer(src["norms"].iloc[0], np.uint8)
    lt = _LazyTerms(pdf, codec=codec)
    return base, norms_map, lt, lt.dfs, lt


def _local_deleted(norms_pdf: pd.DataFrame, off: int) -> np.ndarray | None:
    """Per-shard tombstoned docIDs (generation-local) from the cogrouped
    norms row's packed `deleted_bm` bitmap column, if present — the
    liveDocs-bitset wire format (Lucene50LiveDocsFormat analog): one
    BIT per local docID up to the shard's highest deleted doc, 64x
    smaller on the wire than the former int64 array. Unpacked to a
    local-ID array task-side so the np.isin kernels stay unchanged."""
    if "deleted_bm" not in norms_pdf.columns:
        return None
    blob = norms_pdf["deleted_bm"].iloc[0]
    if blob is None or len(blob) == 0:
        return None
    bits = np.unpackbits(np.frombuffer(bytes(blob), np.uint8))
    return np.nonzero(bits)[0].astype(np.int64)


def _alive(docs: np.ndarray, deleted: np.ndarray | None) -> np.ndarray:
    """liveDocs filter (Lucene50LiveDocsFormat analog): drop tombstoned
    docs from a candidate set; scoring statistics stay untouched."""
    if deleted is None or len(deleted) == 0 or len(docs) == 0:
        return docs
    return docs[~np.isin(docs, deleted)]


def _score_spec(
    pdf: pd.DataFrame,
    decoded,
    spec: dict,
    idfs: dict[str, np.float32],
    caches: dict[str, np.ndarray] | np.ndarray,
    k: int,
    prune: bool,
    deleted: np.ndarray | None = None,
    prune_min: int = 0,
    cursor: tuple[float, int] | None = None,
    leaf_fn=None,
    coord: bool = False,
) -> pd.DataFrame:
    """Score one decoded shard against one query spec -> top-k rows.

    `caches` maps field key ('' = default field) -> the 256-float norm
    cache of that field (per-field avgdl, BM25Similarity.java:206-211);
    a bare array is accepted as the single-field shorthand.

    Pluggable similarity (IndexSearcher.setSimilarity, SURVEY §2.6):
    `leaf_fn(term, tf, norm_bytes, boost) -> f32 scores` replaces the
    BM25 leaf of _eval_tree; `coord=True` multiplies the root
    disjunction's sum by overlap/maxOverlap (ClassicSimilarity.coord).
    The block-max impact paths (_score_term_pruned, _score_or_wand)
    bound BM25 scores only, so they are off under a leaf_fn; the
    tree's candidate-threaded skip reads do not depend on the
    similarity and stay on.

    `prune_min`: the block-skip fast paths only pay off when the
    shard-local decode work is large — per-block skip reads carry
    fixed per-block overhead that exceeds one vectorized exhaustive
    decode on short lists (the BooleanWeight scorer-vs-bulkScorer
    cost decision, BooleanWeight.java:232-256). Below `prune_min`
    total shard-local postings the exhaustive kernels run instead;
    0 forces pruning (used by the parity tests)."""
    base, norms_map, lt, _dfs, _ = decoded
    if not isinstance(caches, dict):
        caches = {"": caches}
    if prune and prune_min:
        cost = sum(
            lt.local_df(t) for t in set(spec.get("terms", ())) if t in lt
        )
        if cost < prune_min:
            prune = False

    kind = spec["kind"]
    if kind == "tree":
        node = spec["tree"]
        if prune and k is not None and leaf_fn is None:
            # block-max impact pruning (BM25 bounds, bounded heap);
            # top-level shape routing (BooleanWeight.java:232-359):
            # bare term leaf -> block-max term; pure-SHOULD-of-terms
            # -> block-max WAND — boost folds into the leaf weight
            # bitwise-exactly (weight = f32(idf)*f32(boost))
            if node["kind"] == "term" and node["term"] in lt:
                t = node["term"]
                bst = np.float32(
                    np.float32(1.0) * np.float32(node.get("boost", 1.0))
                )
                nrm, cch = _nc(t, norms_map, caches)
                fid = {t: np.float32(np.float32(idfs[t]) * bst)}
                docs, scores = _score_term_pruned(
                    pdf, t, base, nrm, fid, cch, k, deleted, codec=lt.codec,
                    cursor=cursor,
                )
                return pd.DataFrame(
                    {"doc_id": docs, "score": scores.astype(np.float32)}
                )
            wor = _tree_as_weighted_or(node, idfs)
            if wor is not None:
                terms_w, folded = wor
                pres = [t for t in terms_w if t in lt and t in folded]
                if len(pres) > 1:
                    docs, scores = _score_or_wand(
                        lt, pres, base, norms_map, folded, caches, k, deleted,
                        cursor=cursor,
                    )
                    return pd.DataFrame({"doc_id": docs, "score": scores})
        # prune=True threads candidate sets down required-clause chains
        # so term leaves block-skip; liveDocs apply at collection time,
        # after per-doc accumulation (BulkScorer.score(collector,
        # liveDocs) semantics)
        docs, scores = _eval_tree(
            node, lt, base, norms_map, idfs, caches, prune=prune,
            leaf_fn=leaf_fn, coord=coord,
        )
        if deleted is not None and len(deleted) and len(docs):
            m = ~np.isin(docs, deleted)
            docs, scores = docs[m], scores[m]
    elif kind == "phrase":
        docs, scores = _eval_phrase(
            spec["terms"], lt, base, norms_map, idfs, caches,
            deleted=deleted, slop=int(spec.get("slop", 0)),
        )
    elif kind == "multi_phrase":
        docs, scores = _eval_multi_phrase(
            spec["positions"], lt, base, norms_map,
            np.float32(spec["idf_sum"]), caches, deleted=deleted,
        )
    elif kind == "spans":
        from lucene_solr_spark.search.spans import eval_spans

        docs, scores = eval_spans(
            spec["node"], lt, base, norms_map, idfs, caches,
            deleted=deleted,
        )
    else:
        raise ValueError(f"unknown query kind {kind}")
    docs, scores = _apply_cursor(docs, scores, cursor)
    docs, scores = _topk_arrays(docs, scores, k)
    return pd.DataFrame({"doc_id": docs, "score": scores.astype(np.float32)})


def _sloppy_freq(pos_lists: list[list[int]], slop: int) -> float:
    """Unordered sloppy-phrase frequency of ONE document: f64 sum of
    slop factors 1/(1+matchLength) over minimal windows of the
    adjusted (pos - queryOffset) position lists — one window per slot.

    Single merged ascending sweep (ties -> smaller slot, the
    reference's PhrasePositions pq offset tie-break,
    SloppyPhraseScorer.java:98-124): once every slot has been seen,
    each event closes the smallest window ending at it
    (start = min over slots of the last position seen); windows
    sharing a start keep only the first (smallest) one, so no emitted
    window contains another. matchLength = window spread, counted when
    <= slop (SimScorer.computeSlopFactor)."""
    k = len(pos_lists)
    events = sorted(
        (int(p), i) for i, arr in enumerate(pos_lists) for p in arr
    )
    last: list = [None] * k
    n_seen = 0
    prev_s: float = float("-inf")
    acc = 0.0
    for pos, i in events:
        if last[i] is None:
            n_seen += 1
        last[i] = pos
        if n_seen == k:
            s = min(last)
            if s > prev_s:
                prev_s = s
                ml = pos - s
                if ml <= slop:
                    acc += 1.0 / (1.0 + ml)
    return acc


def _sloppy_freqs_bulk(
    keysets: list[np.ndarray], slop: int, M: np.int64
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized _sloppy_freq over EVERY candidate doc at once:
    keysets[i] = sorted (doc*M + adjusted position) keys of query slot
    i. One global merged sweep — k maximum.accumulate passes recover
    each slot's latest position at every event (doc boundaries respected
    by checking the carried key's doc), completion/minimal-window/
    first-per-start logic identical to the scalar sweep (parity
    pytest-pinned against _sloppy_freq on random inputs).

    Returns (docs sorted asc, f64 freqs) for docs with freq > 0."""
    E = (np.empty(0, np.int64), np.empty(0, np.float64))
    k = len(keysets)
    keys = np.concatenate(keysets)
    if len(keys) == 0:
        return E
    slots = np.concatenate(
        [np.full(len(ks), i, np.int64) for i, ks in enumerate(keysets)]
    )
    order = np.lexsort((slots, keys))  # pos asc, slot asc at ties (pq)
    keys, slots = keys[order], slots[order]
    docs_e = keys // M
    pos_e = keys % M
    big = np.int64(np.iinfo(np.int64).max)
    complete = np.ones(len(keys), bool)
    s = np.full(len(keys), big)
    for i in range(k):
        lastk = np.maximum.accumulate(
            np.where(slots == i, keys, np.int64(-1))
        )
        seen = (lastk >= 0) & (lastk // M == docs_e)
        complete &= seen
        s = np.minimum(s, np.where(seen, lastk % M, big))
    if not complete.any():
        return E
    d, sw, e = docs_e[complete], s[complete], pos_e[complete]
    # first event per (doc, start): s is non-decreasing within a doc,
    # so consecutive-dedupe keeps the smallest window per start
    key2 = d * M + sw
    keep = np.empty(len(key2), bool)
    keep[0] = True
    keep[1:] = key2[1:] != key2[:-1]
    d, sw, e = d[keep], sw[keep], e[keep]
    ml = (e - sw).astype(np.float64)
    ok = ml <= slop
    d, w = d[ok], 1.0 / (1.0 + ml[ok])
    if len(d) == 0:
        return E
    udocs, first = np.unique(d, return_index=True)
    return udocs, np.add.reduceat(w, first)


def _eval_phrase(
    seq: list[str],
    lt: "_LazyTerms",
    base: int,
    norms_map: dict,
    idfs: dict,
    caches: dict,
    boost: float = 1.0,
    deleted: np.ndarray | None = None,
    slop: int = 0,
) -> tuple[np.ndarray, np.ndarray]:
    """Phrase leaf: (docs, f32 scores) with tf = phrase freq and
    idf = f32 sum of term idfs (PhraseQuery.java:64).

    slop == 0: exact phrase (ExactPhraseScorer.java:27) — set-at-a-
    time: per term i the key doc*2^32 + (pos - i) must exist for all i.

    slop > 0: UNORDERED within-slop matching over position-adjusted
    streams, like the reference (SloppyPhraseScorer.java:98-124
    advances PhrasePositions by pos - queryOffset, so "b a"~2 matches
    "a b"): each query slot i contributes its adjusted position list
    pos - i; a match is a window over one adjusted position per slot
    with spread (max - min) = matchLength <= slop, weighted by the
    slop factor 1/(1+matchLength) (SimScorer.computeSlopFactor,
    BM25Similarity.java:240-243), summed per doc in f64 then cast f32;
    the float freq feeds the same BM25 kernel (tf/(tf+c) is float math
    in the reference too).

    Window ENUMERATION is minimal-interval: one merged ascending sweep
    (ties -> smaller query offset, the reference's pq tie-break)
    emits, for each completed event, the smallest window ending there,
    keeping the first window per start (_sloppy_freq). Hit SETS equal
    the reference's greedy matcher exactly (both accept a doc iff its
    globally minimal window fits the slop); per-doc freq can differ by
    one window on crossed/repeated patterns where Lucene's pointer
    state re-counts a passed position — the remaining (small,
    documented) deviation; repeated query terms match per-slot
    adjusted streams rather than requiring distinct doc tokens."""
    from lucene_solr_spark.index.codec import decode_position_lists

    E = (np.empty(0, np.int64), np.empty(0, np.float32))
    uniq_terms = list(dict.fromkeys(seq))
    pos_streams = {t: lt.pos_stream(t) for t in uniq_terms}
    if any(t not in lt or pos_streams[t] is None for t in uniq_terms):
        return E
    inter = reduce(
        lambda a, b: a[np.isin(a, b, assume_unique=True)],
        [lt.full(t)[0] for t in uniq_terms],
    )
    inter = _alive(inter, deleted)
    if len(inter) == 0:
        return E
    M = np.int64(1) << np.int64(32)
    if slop <= 0:
        off = np.int64(len(seq))
        keysets = []
        for i, t in enumerate(seq):
            d, tf = lt.full(t)
            pos_abs = decode_position_lists(pos_streams[t], tf)
            doc_rep = np.repeat(d, tf)
            mask = np.isin(doc_rep, inter, assume_unique=False)
            keys = doc_rep[mask] * M + (pos_abs[mask] - np.int64(i) + off)
            keysets.append(keys)
        phrase_keys = reduce(
            lambda a, b: a[np.isin(a, b, assume_unique=True)], keysets
        )
        if len(phrase_keys) == 0:
            return E
        udocs, freqs = np.unique(phrase_keys // M, return_counts=True)
    else:
        # sorted (doc*M + adjusted pos) per query SLOT, restricted to
        # candidate docs; adjusted = pos - slot + len(seq) (the +len
        # shift keeps adjusted positions positive so the doc*M packing
        # never underflows into the previous doc's key range)
        off = np.int64(len(seq))
        keysets = []
        for i, t in enumerate(seq):
            d, tf = lt.full(t)
            pos_abs = decode_position_lists(pos_streams[t], tf)
            doc_rep = np.repeat(d, tf)
            mask = np.isin(doc_rep, inter, assume_unique=False)
            keysets.append(
                np.sort(doc_rep[mask] * M + (pos_abs[mask] - np.int64(i) + off))
            )
        udocs, freqs64 = _sloppy_freqs_bulk(keysets, slop, M)
        if len(udocs) == 0:
            return E
        freqs = freqs64.astype(np.float32)
    # idf = float32 sum over the phrase's terms in order
    # (BM25Similarity.computeWeight over TermStatistics[])
    idf_sum = np.float32(0.0)
    for t in seq:
        idf_sum = np.float32(idf_sum + idfs[t])
    # phrase terms share one field (enforced at compile time)
    nrm, cch = _nc(seq[0], norms_map, caches)
    scores = bm25.score_term(
        freqs, nrm[udocs - base], idf_sum, cch, boost=boost
    )
    return udocs, scores.astype(np.float32)


def _eval_multi_phrase(
    positions: list,
    lt: "_LazyTerms",
    base: int,
    norms_map: dict,
    idf_sum: np.float32,
    caches: dict,
    boost: float = 1.0,
    deleted: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """MultiPhraseQuery leaf (search/MultiPhraseQuery.java:538 LoC):
    position i matches ANY of positions[i]'s terms. Same set-at-a-time
    key algebra as the exact phrase, with a per-position UNION of the
    alternatives' (doc, pos) keys before the cross-position
    intersection. `idf_sum` is the GLOBAL f32 sum over the query's
    indexed terms (MultiPhraseWeight pulls TermStatistics once, not
    per segment) — computed driver-side so shard-local term absence
    cannot skew the weight; tf = matching start positions."""
    from lucene_solr_spark.index.codec import decode_position_lists

    E = (np.empty(0, np.int64), np.empty(0, np.float32))
    present_per_pos = []
    for alts in positions:
        ok = [t for t in alts if t in lt and lt.pos_stream(t) is not None]
        if not ok:
            return E
        present_per_pos.append(ok)
    per_pos_docs = [
        reduce(np.union1d, [lt.full(t)[0] for t in ok])
        for ok in present_per_pos
    ]
    inter = reduce(
        lambda a, b: a[np.isin(a, b, assume_unique=True)], per_pos_docs
    )
    inter = _alive(inter, deleted)
    if len(inter) == 0:
        return E
    M = np.int64(1) << np.int64(32)
    off = np.int64(len(positions))
    keysets = []
    for i, ok in enumerate(present_per_pos):
        ks = []
        for t in ok:
            d, tf = lt.full(t)
            pos_abs = decode_position_lists(lt.pos_stream(t), tf)
            doc_rep = np.repeat(d, tf)
            mask = np.isin(doc_rep, inter, assume_unique=False)
            ks.append(doc_rep[mask] * M + (pos_abs[mask] - np.int64(i) + off))
        keys = np.unique(np.concatenate(ks))
        if len(keys) == 0:
            return E
        keysets.append(keys)
    phrase_keys = reduce(
        lambda a, b: a[np.isin(a, b, assume_unique=True)], keysets
    )
    if len(phrase_keys) == 0:
        return E
    udocs, freqs = np.unique(phrase_keys // M, return_counts=True)
    nrm, cch = _nc(present_per_pos[0][0], norms_map, caches)
    scores = bm25.score_term(
        freqs, nrm[udocs - base], idf_sum, cch, boost=boost
    )
    return udocs, scores.astype(np.float32)


def _tree_cost(node: dict, lt: "_LazyTerms") -> int:
    """Shard-local decode-cost / result-size estimate of a tree node
    (the Scorer.cost() analog, ConjunctionDISI.java:84-91): terms cost
    their local postings count; a conjunction costs its cheapest
    required clause (its result cannot be larger); disjunctions cost
    the sum; field_exists matches ~every doc so it never leads."""
    k = node["kind"]
    if k == "term":
        t = node["term"]
        return lt.local_df(t) if t in lt else 0
    if k == "phrase":
        if any(t not in lt for t in node["terms"]):
            return 0
        return min(lt.local_df(t) for t in node["terms"])
    if k == "spans":
        from lucene_solr_spark.search.spans import span_all_terms

        terms = set(span_all_terms(node["node"]))
        present = [lt.local_df(t) for t in terms if t in lt]
        # conservative: a span result can't exceed its largest term's
        # postings; absent terms zero a near but not an or — keep the
        # estimate safe (ordering-only, never affects correctness)
        return sum(present) if present else 0
    if k == "const":
        return sum(lt.local_df(t) for t in node["terms"] if t in lt)
    if k == "constwrap":
        return _tree_cost(node["query"], lt)
    if k in ("field_exists", "match_all"):
        return 1 << 30
    if k == "dismax":
        return sum(_tree_cost(s, lt) for s in node["clauses"])
    req = [
        _tree_cost(s, lt)
        for occ, s in node["clauses"]
        if occ in ("MUST", "FILTER")
    ]
    if req:
        return min(req)
    return sum(
        _tree_cost(s, lt) for occ, s in node["clauses"] if occ == "SHOULD"
    )


def _tree_as_weighted_or(node: dict, idfs: dict):
    """If `node` is a single-level pure-SHOULD bool of term leaves
    (msm<=1, distinct terms), return (terms_in_clause_order,
    folded_idfs): folded = f32(f32(idf) * f32(total_boost)) — exactly
    the leaf weight score_term computes (f32 idf*boost product), so
    block-max WAND over the folded weights is bitwise-identical to the
    exhaustive tree walk. Nested bools must NOT flatten (the inner
    node's f64->f32 sum cast would be lost). The BooleanWeight
    'opt-only -> DisjunctionSumScorer with per-clause boost' rewrite
    (BooleanWeight.java:300-359)."""
    if node["kind"] != "bool" or int(node.get("msm", 0)) > 1:
        return None
    b0 = np.float32(np.float32(1.0) * np.float32(node.get("boost", 1.0)))
    terms, folded = [], {}
    for occ, sub in node["clauses"]:
        if occ != "SHOULD" or sub["kind"] != "term":
            return None
        t = sub["term"]
        if t in folded:  # duplicate clause terms: keep exhaustive path
            return None
        lb = np.float32(b0 * np.float32(sub.get("boost", 1.0)))
        if t in idfs:
            folded[t] = np.float32(np.float32(idfs[t]) * lb)
        terms.append(t)
    return (terms, folded) if len(terms) > 1 else None


def _eval_tree(
    node: dict,
    lt: "_LazyTerms",
    base: int,
    norms_map: dict,
    idfs: dict,
    caches: dict,
    pboost: float = 1.0,
    prune: bool = False,
    cand: np.ndarray | None = None,
    leaf_fn=None,
    coord: bool = False,
) -> tuple[np.ndarray, np.ndarray]:
    """Recursive nested-query evaluation -> (sorted docs, f32 scores).

    Node kinds: term, phrase, const (pre-expanded multi-term rewrite),
    constwrap (generic ConstantScoreQuery), field_exists, dismax, bool.
    Boosts multiply down the tree and fold into leaf weights —
    weight = idf * boost * topLevelBoost (BM25Similarity.java:288-293,
    BooleanWeight normalize cascade). Composition semantics per
    BooleanWeight.java:260-359 (see query.BooleanQuery docstring).

    Candidate-driven pruning (prune=True — the ConjunctionDISI
    leapfrog generalized to arbitrary nesting, BooleanWeight.java:
    260-359 + advance()): a bool node with required clauses evaluates
    them cheapest-first (_tree_cost) and threads the shrinking
    intersection down as `cand`; term leaves under a cand decode ONLY
    the 128-blocks overlapping it (lt.decode_for — the skip-read).
    Contract: given `cand`, a node returns complete exact scores for
    every matching doc in cand; docs OUTSIDE cand may appear (whole
    decoded blocks spill) and may carry partial disjunction scores,
    but every ancestor gathers child scores only at docs within the
    cand it passed down, so spill never reaches the output (top-level
    cand is None => exact full results). Score ACCUMULATION stays in
    clause order regardless of evaluation order, so pruned output is
    bitwise identical to exhaustive (tested).

    `coord=True` (ClassicSimilarity.coord, only for THIS node — the
    classic family accepts flat term/and/or queries, so only a root
    disjunction carries it): a pure disjunction's f32 sum is multiplied
    by f32(matching clauses) / f32(SHOULD clauses), then cast to f32."""
    E = (np.empty(0, np.int64), np.empty(0, np.float32))
    boost = np.float32(np.float32(pboost) * np.float32(node.get("boost", 1.0)))
    kind = node["kind"]
    use_cand = prune and cand is not None

    if kind == "term":
        t = node["term"]
        if t not in lt:
            return E
        d, tf = lt.decode_for(t, cand) if use_cand else lt.full(t)
        if len(d) == 0:
            return E
        nrm, cch = _nc(t, norms_map, caches)
        if leaf_fn is not None:
            # pluggable SimilarityBase leaf (boost folds INSIDE the
            # similarity's float chain — stats.getTotalBoost())
            s = leaf_fn(t, tf, nrm[d - base], boost)
        else:
            s = bm25.score_term(tf, nrm[d - base], idfs[t], cch,
                                boost=boost)
        return d, s.astype(np.float32)

    if kind == "phrase":
        if leaf_fn is not None:
            raise ValueError(
                "phrase leaves are BM25-only (pluggable-similarity "
                "trees support term/const/dismax/bool nodes)"
            )
        # positions path decodes fully (two-phase verification needs
        # the whole occurrence stream); rare in MUST position
        return _eval_phrase(
            node["terms"], lt, base, norms_map, idfs, caches, boost=boost,
            slop=int(node.get("slop", 0)),
        )

    if kind == "spans":
        # SpanQuery leaf inside a boolean tree (the surround parser's
        # DistanceQuery operands compose under AND/OR/NOT,
        # queryparser/surround/query/SrndBooleanQuery.java): evaluate
        # the span kernel fully (positions need the whole occurrence
        # stream, like phrase) and gather at the candidate set
        if leaf_fn is not None:
            raise ValueError(
                "span leaves are BM25-only (pluggable-similarity "
                "trees support term/const/dismax/bool nodes)"
            )
        from lucene_solr_spark.search.spans import eval_spans

        d, s = eval_spans(
            node["node"], lt, base, norms_map, idfs, caches, boost=boost
        )
        if use_cand and len(d):
            m = np.isin(d, cand, assume_unique=True)
            d, s = d[m], s[m]
        return d, s

    if kind == "const":
        # CONSTANT_SCORE multi-term rewrite, pre-expanded against the
        # dictionary (MultiTermQuery.java:68-94): every matching doc
        # scores the boost
        ds = []
        for t in node["terms"]:
            if t not in lt:
                continue
            d = lt.decode_for(t, cand)[0] if use_cand else lt.full(t)[0]
            if len(d):
                ds.append(d)
        if not ds:
            return E
        u = reduce(np.union1d, ds)
        return u, np.full(len(u), boost, np.float32)

    if kind == "constwrap":
        d, _ = _eval_tree(
            node["query"], lt, base, norms_map, idfs, caches, 1.0,
            prune=prune, cand=cand, leaf_fn=leaf_fn,
        )
        return d, np.full(len(d), boost, np.float32)

    if kind == "match_all":
        # MatchAllDocsQuery leaf: every doc in the segment, constant
        # score = boost. The default-field norms blob enumerates the
        # segment's doc space (one byte per doc, zero or not), so the
        # walk never needs postings.
        nrm = norms_map.get("")
        if nrm is None:
            return E
        d = np.int64(base) + np.arange(len(nrm), dtype=np.int64)
        if use_cand:
            d = d[np.isin(d, cand, assume_unique=True)]
        return d, np.full(len(d), boost, np.float32)

    if kind == "field_exists":
        # FieldValueQuery leaf (search/FieldValueQuery.java): docs whose
        # field norm byte != 0 — usable as a FILTER/MUST clause
        nrm = norms_map.get(node["field"])
        if nrm is None:
            return E
        d = np.int64(base) + np.flatnonzero(nrm).astype(np.int64)
        if use_cand:
            d = d[np.isin(d, cand, assume_unique=True)]
        return d, np.full(len(d), boost, np.float32)

    if kind == "dismax":
        subs = [
            _eval_tree(sub, lt, base, norms_map, idfs, caches, boost,
                       prune=prune, cand=cand, leaf_fn=leaf_fn)
            for sub in node["clauses"]
        ]
        subs = [(d, s) for d, s in subs if len(d)]
        if not subs:
            return E
        union = reduce(np.union1d, [d for d, _ in subs])
        acc32 = np.zeros(len(union), np.float32)
        mx = np.full(len(union), -np.inf, np.float32)
        for d, s in subs:
            pos = np.searchsorted(union, d)
            acc32[pos] += s
            np.maximum.at(mx, pos, s)
        tie = np.float32(node.get("tie", 0.0))
        return union, (mx + (acc32 - mx) * tie).astype(np.float32)

    if kind == "bool":
        clauses = list(node["clauses"])
        msm = int(node.get("msm", 0))
        req = [
            (i, occ, sub)
            for i, (occ, sub) in enumerate(clauses)
            if occ in ("MUST", "FILTER")
        ]

        if req:
            # evaluation order: cheapest required clause leads
            # (ConjunctionDISI cost sort); accumulation below stays in
            # clause order for bitwise parity with the exhaustive path
            order = (
                sorted(req, key=lambda x: (_tree_cost(x[2], lt), x[0]))
                if prune
                else req
            )
            results: dict[int, tuple[np.ndarray, np.ndarray]] = {}
            docs: np.ndarray | None = None
            for i, _occ, sub in order:
                sub_cand = (docs if docs is not None else cand) if prune else None
                r = _eval_tree(sub, lt, base, norms_map, idfs, caches,
                               boost, prune=prune, cand=sub_cand, leaf_fn=leaf_fn)
                results[i] = r
                if docs is None:
                    docs = (
                        r[0]
                        if not use_cand
                        else cand[np.isin(cand, r[0], assume_unique=True)]
                    )
                else:
                    docs = docs[np.isin(docs, r[0], assume_unique=True)]
                if len(docs) == 0:
                    return E
            for occ, sub in clauses:
                if occ != "MUST_NOT" or len(docs) == 0:
                    continue
                nd, _ = _eval_tree(sub, lt, base, norms_map, idfs, caches,
                                   boost, prune=prune,
                                   cand=docs if prune else None, leaf_fn=leaf_fn)
                if len(nd):
                    docs = docs[~np.isin(docs, nd, assume_unique=True)]
            if len(docs) == 0:
                return E
            # required score: f32 of the double sum in clause order
            # (ConjunctionScorer.score())
            req64 = np.zeros(len(docs), np.float64)
            for i, occ, _sub in req:
                if occ != "MUST":
                    continue  # FILTER never scores
                d, s = results[i]
                pos = np.searchsorted(d, docs)
                req64 += s[pos].astype(np.float64)
            req_s = req64.astype(np.float32)
            # optional contributions (ReqOptSumScorer / msm-required)
            opt64 = np.zeros(len(docs), np.float64)
            nmatch = np.zeros(len(docs), np.int32)
            for occ, sub in clauses:
                if occ != "SHOULD":
                    continue
                d, s = _eval_tree(sub, lt, base, norms_map, idfs, caches,
                                  boost, prune=prune,
                                  cand=docs if prune else None, leaf_fn=leaf_fn)
                if len(d) == 0:
                    continue
                pos = np.searchsorted(d, docs)
                pos_c = np.minimum(pos, len(d) - 1)
                hit = d[pos_c] == docs
                opt64[hit] += s[pos_c[hit]].astype(np.float64)
                nmatch[hit] += 1
            if msm > 0:
                keep = nmatch >= msm
                docs, req_s, opt64 = docs[keep], req_s[keep], opt64[keep]
                if len(docs) == 0:
                    return E
            total = (req_s + opt64.astype(np.float32)).astype(np.float32)
            return docs, total

        # pure disjunction (DisjunctionSumScorer / MinShouldMatchSumScorer)
        live = []
        for occ, sub in clauses:
            if occ != "SHOULD":
                continue
            r = _eval_tree(sub, lt, base, norms_map, idfs, caches, boost,
                           prune=prune, cand=cand, leaf_fn=leaf_fn)
            if len(r[0]):
                live.append(r)
        if not live:
            return E
        union = reduce(np.union1d, [d for d, _ in live])
        acc64 = np.zeros(len(union), np.float64)
        nmatch = np.zeros(len(union), np.int32)
        for d, s in live:
            pos = np.searchsorted(union, d)
            acc64[pos] += s.astype(np.float64)
            nmatch[pos] += 1
        keep = np.ones(len(union), bool)
        for occ, sub in clauses:
            if occ != "MUST_NOT":
                continue
            nd, _ = _eval_tree(sub, lt, base, norms_map, idfs, caches,
                               boost, prune=prune,
                               cand=union if prune else None, leaf_fn=leaf_fn)
            if len(nd):
                keep &= ~np.isin(union, nd)
        if msm > 1:
            keep &= nmatch >= msm
        union, total = union[keep], acc64[keep].astype(np.float32)
        if len(union) == 0:
            return E
        if coord:
            n_should = sum(occ == "SHOULD" for occ, _ in clauses)
            overlap = nmatch[keep].astype(np.float32) / np.float32(n_should)
            total = (total * overlap).astype(np.float32)
        return union, total

    raise ValueError(f"unknown tree node kind {kind}")


def _explain_node(
    node: dict,
    lt: "_LazyTerms",
    base: int,
    norms_map: dict,
    idfs: dict,
    caches: dict,
    doc_local: int,
    leaf_stats: dict,
    pboost: float = 1.0,
) -> dict:
    """Recursive Explanation tree for ONE doc (IndexSearcher.java:
    561-588 explains every query shape clause-by-clause): each node's
    (match, score) comes from the SAME kernel the search runs
    (_eval_tree with the identical boost cascade), so the root score is
    bitwise the search score; term leaves add the BM25 decomposition
    (field, global df and f32 idf, weightValue = f32 idf*boost*(k1+1),
    tf, norm byte, norm cache, avgdl — BM25Similarity.explain:244-268).
    `leaf_stats` maps each term to its driver-side {field, df, idf,
    avgdl} (the TermStates pull), so a leaf absent from the doc's
    shard still reports the global statistics."""
    d, s = _eval_tree(
        node, lt, base, norms_map, idfs, caches, pboost, prune=False
    )
    pos = int(np.searchsorted(d, doc_local))
    match = pos < len(d) and d[pos] == doc_local
    out: dict = {
        "kind": node["kind"],
        "match": bool(match),
        "score": float(s[pos]) if match else 0.0,
    }
    boost = np.float32(
        np.float32(pboost) * np.float32(node.get("boost", 1.0))
    )
    kind = node["kind"]
    if kind == "term":
        t = node["term"]
        out["term"] = t
        out.update(leaf_stats[t])
        out["boost"] = float(boost)
        out["weight_value"] = float(
            (np.float32(out["idf"]) * boost) * (np.float32(K1) + np.float32(1.0))
        )
        out["tf"] = lt.tf_at(t, doc_local)
        nrm, cch = _nc(t, norms_map, caches)
        nb = int(nrm[doc_local - base]) if 0 <= doc_local - base < len(nrm) else 0
        out["norm_byte"] = nb
        out["norm_cache"] = float(cch[nb])
        out["description"] = "weight(term) = idf*boost*(k1+1)*tf/(tf+cache[norm])"
    elif kind == "phrase":
        out["terms"] = list(node["terms"])
        out["slop"] = int(node.get("slop", 0))
        out["idfs"] = {t: float(idfs.get(t, 0.0)) for t in node["terms"]}
        out["boost"] = float(boost)
        out["description"] = (
            "phrase: BM25 over sloppy freq, idf = f32 sum of term idfs"
        )
    elif kind in ("const", "field_exists"):
        if kind == "const":
            out["expanded_terms"] = list(node["terms"])
        else:
            out["field"] = node["field"]
        out["boost"] = float(boost)
        out["description"] = "constant score = boost"
    elif kind == "constwrap":
        out["boost"] = float(boost)
        out["description"] = "constant score over wrapped matches"
        out["details"] = [
            _explain_node(node["query"], lt, base, norms_map, idfs,
                          caches, doc_local, leaf_stats, 1.0)
        ]
    elif kind == "spans":
        from lucene_solr_spark.search.spans import span_all_terms

        out["terms"] = sorted(set(span_all_terms(node["node"])))
        out["boost"] = float(boost)
        out["description"] = (
            "spans leaf: freq = sum of slop factors over enumerated "
            "spans (SpanScorer), idf = f32 sum of the scoring terms"
        )
    elif kind == "dismax":
        out["tie"] = float(node.get("tie", 0.0))
        out["description"] = "max(sub) + tie*(sum-max) (DisjunctionMax)"
        out["details"] = [
            _explain_node(sub, lt, base, norms_map, idfs, caches,
                          doc_local, leaf_stats, boost)
            for sub in node["clauses"]
        ]
    elif kind == "bool":
        out["min_should_match"] = int(node.get("msm", 0))
        out["description"] = (
            "sum of MUST + matching SHOULD, MUST_NOT excludes "
            "(BooleanWeight composition)"
        )
        out["details"] = [
            {
                "occur": occ,
                **_explain_node(sub, lt, base, norms_map, idfs, caches,
                                doc_local, leaf_stats, boost),
            }
            for occ, sub in node["clauses"]
        ]
    return out


def _tree_terms(node: dict) -> list[str]:
    """All dictionary terms a tree touches (for the pushed-down scan)."""
    k = node["kind"]
    if k == "term":
        return [node["term"]]
    if k in ("phrase", "const"):
        return list(node["terms"])
    if k == "spans":
        from lucene_solr_spark.search.spans import span_all_terms

        return list(dict.fromkeys(span_all_terms(node["node"])))
    if k == "constwrap":
        return _tree_terms(node["query"])
    if k in ("field_exists", "match_all"):
        return []
    if k == "dismax":
        return [t for sub in node["clauses"] for t in _tree_terms(sub)]
    if k == "bool":
        return [t for _, sub in node["clauses"] for t in _tree_terms(sub)]
    raise ValueError(f"unknown tree node kind {k}")


def _tree_has_phrase(node: dict) -> bool:
    k = node["kind"]
    if k in ("phrase", "spans"):
        return True
    if k == "constwrap":
        return _tree_has_phrase(node["query"])
    if k == "dismax":
        return any(_tree_has_phrase(s) for s in node["clauses"])
    if k == "bool":
        return any(_tree_has_phrase(s) for _, s in node["clauses"])
    return False


def _spec_needs_positions(spec: dict) -> bool:
    """Only phrase-bearing queries touch the positions stream — every
    other query must NOT ship `pos_enc` through the shard exchange
    (positions are typically the largest component of an index; the
    reference reads .pos only from PostingsEnum(FLAG_POSITIONS),
    Lucene50PostingsReader.java:189-204). _decode_shard handles the
    column's absence, so dropping it prunes the parquet ReadSchema."""
    k = spec["kind"]
    if k in ("phrase", "multi_phrase", "spans", "automaton"):
        return True
    if k == "tree":
        return _tree_has_phrase(spec["tree"])
    return False


def _spec_needs_payloads(spec: dict) -> bool:
    """Only a spans tree containing a paycheck node reads the .pay
    stream — everything else drops `pay_enc` before the exchange."""
    if spec["kind"] != "spans":
        return False
    from lucene_solr_spark.search.spans import span_needs_payloads

    return span_needs_payloads(spec["node"])


def _unread_columns(specs: list[dict]) -> tuple[str, ...]:
    """The positions / payload streams no spec reads, dropped before
    the shard exchange (and from the parquet ReadSchema);
    _decode_shard handles either column's absence."""
    if not any(_spec_needs_positions(s) for s in specs):
        return ("pos_enc", "pay_enc")
    if not any(_spec_needs_payloads(s) for s in specs):
        return ("pay_enc",)
    return ()


def _tree_has_field_exists(node: dict) -> bool:
    """True when the tree contains a leaf that matches docs WITHOUT
    touching any query term's postings (field_exists / match_all) —
    such trees must reach every shard, not only term-matched ones."""
    k = node["kind"]
    if k in ("field_exists", "match_all"):
        return True
    if k == "constwrap":
        return _tree_has_field_exists(node["query"])
    if k == "dismax":
        return any(_tree_has_field_exists(s) for s in node["clauses"])
    if k == "bool":
        return any(_tree_has_field_exists(s) for _, s in node["clauses"])
    return False


def _mtq_cond(q, field_prefix: str = ""):
    """Dictionary predicate of a multi-term query (the automaton ∩
    term-dict seek, MultiTermQuery.java:68-94) — pushed down to the
    term-sorted parquet scan. Expansion is scoped to ONE field's
    dictionary: `field_prefix` is '' for the default field (then
    field-prefixed internal terms are excluded, so PrefixQuery('s')
    cannot leak 'source\x1d...' postings) or '<field>\x1d' for a
    fielded query (the pattern applies to the token after the
    prefix)."""
    import re as _re

    if field_prefix:
        scope = F.col("term").startswith(field_prefix)
        pre = _re.escape(field_prefix)
    else:
        scope = ~F.col("term").contains(FIELD_SEP)
        pre = ""
    if isinstance(q, PrefixQuery):
        return F.col("term").startswith(field_prefix + q.prefix) & scope
    if isinstance(q, TermsQuery):
        # explicit term set: IN-list pushdown (PrefixCodedTerms seek)
        return F.col("term").isin(
            [field_prefix + t for t in q.terms_]
        ) & scope
    if isinstance(q, RegexpQuery):
        return F.col("term").rlike("^" + pre + "(?:" + q.pattern + ")$") & scope
    if isinstance(q, TermRangeQuery):
        # BETWEEN over the sorted dictionary (TermRangeQuery.java);
        # prefixed bounds keep the BETWEEN sargable on the internal key
        cond = scope
        if q.lower is not None:
            lo = field_prefix + q.lower
            cond = cond & (
                F.col("term") >= lo if q.include_lower else F.col("term") > lo
            )
        if q.upper is not None:
            hi = field_prefix + q.upper
            cond = cond & (
                F.col("term") <= hi if q.include_upper else F.col("term") < hi
            )
        return cond
    # WildcardQuery
    regex = "^" + pre + "".join(
        ".*" if ch == "*" else "." if ch == "?" else _re.escape(ch)
        for ch in q.pattern
    ) + "$"
    return F.col("term").rlike(regex) & scope


def _score_or_wand(lt: _LazyTerms, present, base, norms_map, idfs, caches,
                   k, deleted: np.ndarray | None = None,
                   cursor: tuple[float, int] | None = None):
    """Block-max WAND for a sum-scored disjunction (Ding & Suel,
    SIGIR 2011 — the north-rule addition, SURVEY §4.5).

    Doc space is cut into segments at every term's 128-block
    boundaries; a segment's upper bound is the sum over terms of the
    covering block's max impact. Segments are visited in UB-desc
    order, decoding only the covering blocks, until the running kth
    score strictly beats every remaining segment bound. Output is
    bitwise identical to the exhaustive path (same per-doc f64
    accumulation order over `present`)."""
    K1f = np.float32(K1)
    one = np.float32(1.0)
    # per-term concatenated block metadata + UB arrays
    meta = {}
    for t in present:
        bl_parts, ub_parts = [], []
        wv = (np.float32(idfs[t]) * one) * (K1f + one)
        _nrm, cch = _nc(t, norms_map, caches)
        for row in lt.rows[t]:
            bl = np.asarray(row.block_last, np.int64)
            bmt = np.asarray(row.block_max_tf, np.float32)
            bmn = np.asarray(row.block_max_norm, np.int64)
            bl_parts.append(bl)
            ub_parts.append((wv * bmt) / (bmt + cch[bmn]))
        meta[t] = (np.concatenate(bl_parts), np.concatenate(ub_parts))

    bounds = np.unique(np.concatenate([meta[t][0] for t in present]))
    seg_lo = np.empty(len(bounds), np.int64)
    seg_lo[0] = np.iinfo(np.int64).min
    seg_lo[1:] = bounds[:-1]
    seg_ub = np.zeros(len(bounds), np.float64)
    for t in present:
        bl, ub = meta[t]
        idx = np.searchsorted(bl, bounds)
        valid = idx < len(bl)
        seg_ub[valid] += ub[idx[valid]].astype(np.float64)

    order = np.argsort(-seg_ub, kind="stable")
    docs_acc: list[np.ndarray] = []
    score_acc: list[np.ndarray] = []
    kth = -np.inf
    CHUNK = 8
    for s0 in range(0, len(order), CHUNK):
        sel = order[s0 : s0 + CHUNK]
        if kth > seg_ub[sel[0]]:
            break  # strictly above every remaining bound
        for si in sel:
            lo, hi = int(seg_lo[si]), int(bounds[si])
            per_term_docs = []
            per_term_scores = []
            for t in present:
                bl, _ub = meta[t]
                bid = int(np.searchsorted(bl, hi))
                if bid >= len(bl):
                    per_term_docs.append(None)
                    per_term_scores.append(None)
                    continue
                d, tf = lt.decode_for(t, np.array([hi], np.int64))
                m = (d > lo) & (d <= hi)
                dm = d[m]
                if len(dm) == 0:
                    per_term_docs.append(None)
                    per_term_scores.append(None)
                    continue
                nrm, cch = _nc(t, norms_map, caches)
                sc = bm25.score_term(tf[m], nrm[dm - base], idfs[t], cch)
                per_term_docs.append(dm)
                per_term_scores.append(sc)
            nz = [d for d in per_term_docs if d is not None]
            if not nz:
                continue
            u = np.unique(np.concatenate(nz))
            if deleted is not None and len(deleted):
                keep = ~np.isin(u, deleted)
            else:
                keep = None
            acc64 = np.zeros(len(u), np.float64)
            for dm, sc in zip(per_term_docs, per_term_scores):
                if dm is None:
                    continue
                pos = np.searchsorted(u, dm)
                acc64[pos] += sc.astype(np.float64)
            if keep is not None:
                u, acc64 = u[keep], acc64[keep]
            # searchAfter: filter before the heap so kth is page-N's
            # own floor (cursor-aware collector, VERDICT r02 #6)
            u, sc32 = _apply_cursor(u, acc64.astype(np.float32), cursor)
            docs_acc.append(u)
            score_acc.append(sc32)
        if not docs_acc:
            continue
        docs = np.concatenate(docs_acc)
        scores = np.concatenate(score_acc)
        if len(docs) >= k:
            top_d, top_s = _topk_arrays(docs, scores, k)
            if len(top_s) == k:
                kth = top_s[-1]
    if not docs_acc:
        return np.empty(0, np.int64), np.empty(0, np.float32)
    docs = np.concatenate(docs_acc)
    scores = np.concatenate(score_acc)
    return _topk_arrays(docs, scores, k)


def _score_term_pruned(pdf, term, base, norms, idfs, cache, k,
                       deleted: np.ndarray | None = None,
                       codec: str = "vbyte",
                       cursor: tuple[float, int] | None = None):
    """Block-max pruning for a single-term query (output-identical).

    Upper bound per block: weightValue * max_tf / (max_tf + cache[max_norm])
    — admissible because tf/(tf+c) is increasing in tf, decreasing in c,
    and cache[] is decreasing in the norm byte (shorter doc => larger byte
    => smaller cache => larger score)."""
    rows = pdf[pdf["term"] == term].sort_values("part")
    weight_value = (np.float32(idfs[term]) * np.float32(1.0)) * (
        np.float32(K1) + np.float32(1.0)
    )
    # gather per-block metadata across parts
    blk = []
    for row in rows.itertuples(index=False):
        mt = np.asarray(row.block_max_tf, np.float32)
        mn = np.asarray(row.block_max_norm, np.int64)
        ub = (weight_value * mt) / (mt + cache[mn])
        blk.append(ub)
    all_ub = np.concatenate(blk)
    order = np.argsort(-all_ub, kind="stable")

    # row-local block ids for each global block ordinal
    row_of = np.concatenate(
        [np.full(len(u), i, np.int64) for i, u in enumerate(blk)]
    )
    local_id = np.concatenate([np.arange(len(u), dtype=np.int64) for u in blk])

    docs_acc, score_acc = [], []
    kth = -np.inf
    CHUNK = 16
    row_list = list(rows.itertuples(index=False))
    for s in range(0, len(order), CHUNK):
        sel = order[s : s + CHUNK]
        if kth > all_ub[sel[0]]:
            # strictly above every remaining bound: no remaining doc can
            # even tie (a tie would still lose only on docID, which we
            # cannot rule out, so equality must keep scanning)
            break
        for ridx in np.unique(row_of[sel]):
            row = row_list[ridx]
            bids = np.sort(local_id[sel[row_of[sel] == ridx]])
            d, t = decode_blocks(
                bytes(row.doc_enc),
                bytes(row.tf_enc),
                bids,
                np.asarray(row.block_last, np.int64),
                np.asarray(row.block_doc_off, np.int64),
                np.asarray(row.block_tf_off, np.int64),
                int(row.df),
                codec=codec,
            )
            sc = bm25.score_term(t, norms[d - base], idfs[term], cache)
            if deleted is not None and len(deleted):
                m = ~np.isin(d, deleted)
                d, sc = d[m], sc[m]
            # searchAfter: drop page-(N-1) hits before the heap
            d, sc = _apply_cursor(d, sc, cursor)
            docs_acc.append(d)
            score_acc.append(sc)
        docs = np.concatenate(docs_acc)
        scores = np.concatenate(score_acc)
        if len(docs) >= k:
            top_d, top_s = _topk_arrays(docs, scores, k)
            if len(top_s) == k:
                kth = top_s[-1]
    docs = np.concatenate(docs_acc) if docs_acc else np.empty(0, np.int64)
    scores = (
        np.concatenate(score_acc).astype(np.float32)
        if score_acc
        else np.empty(0, np.float32)
    )
    return _topk_arrays(docs, scores, k)


# below this many shard-local postings the exhaustive vectorized kernels
# beat the block-skip paths (per-block overhead); see _score_spec.
PRUNE_MIN_POSTINGS = 16384

# Largest index, in on-disk bytes of its postings + norms files, that
# preload() also copies into the driver; _run_shards then scores every
# shard in process, with no Spark job and no Python stage per query.
# Measured on a 4-core host (local[4]) with perfbench-style pages
# (n_shards=4, segs_per_shard=2), per on-disk size (Arrow bytes of the
# driver copy): warm p50 of a 40-query pool and one 12-query
# search_many, driver vs Spark tier; then the growth of the driver's
# RSS at preload, Python process and JVM (Spark tier's JVM in brackets):
#   2k pages, 0.5 MB (2.2 MB): 55 vs 524 ms, 179 vs 836 ms; +11 MB, +9 MB
#   40k, 4.2 MB (8.7 MB): 46 vs 723 ms, 178 vs 840 ms; +26 MB, +22 MB
#   200k, 19 MB (33 MB): 63 vs 649 ms, 415 vs 1,238 ms; +72 MB, +55 MB
#   350k, 33 MB (56 MB): 116 vs 993 ms, 1,610 vs 2,728 ms; +66 MB,
#     +1.29 GB (+0.58 GB)
#   600k, 56 MB (95 MB): 175 vs 625 ms, 3,079 vs 2,704 ms; +106 MB,
#     +1.44 GB (+0.67 GB)
# A single query is faster in process at every size; a batch, whose
# kernels the Spark tier spreads over the cores, crosses over between
# 33 and 56 MB. The cap sits below that crossover. The Python process
# holds 1-5x the Arrow bytes (not the 10x of build_collected); the JVM
# buffers the collected Arrow on its way to Python, far below
# spark.driver.maxResultSize.
IN_PROCESS_MAX_BYTES = 32 << 20


class _DriverIndex:
    """The driver copy preload() takes of an index below
    IN_PROCESS_MAX_BYTES: the pinned postings as one Arrow table sorted
    by (shard, term, part), each shard's pinned norms rows with its
    open-time liveDocs bitmap, and the term dictionary as a sorted term
    array with its df and cf arrays (the terms index Lucene holds in
    heap from open, BlockTreeTermsReader). A query seeks its terms by
    binary search on each shard's slice of the sorted term column, and
    its global (df, cf) by binary search on the dictionary, so its cost
    scales with the rows it matches, not with the index.

    Both term columns are sorted by Arrow (UTF-8 byte order) and
    searched with numpy over Python strings (code-point order): for
    UTF-8 the two orders are the same."""

    def __init__(self, postings: pa.Table, norms: pa.Table,
                 term_stats: pa.Table):
        self.postings = postings.sort_by(
            [("shard", "ascending"), ("term", "ascending"),
             ("part", "ascending")]
        )
        shard = self.postings.column("shard").to_numpy()
        self._terms = self.postings.column("term").to_numpy(
            zero_copy_only=False
        )
        norms_pdf = norms.to_pandas()
        # shard -> its norms rows (one per field), as the cogroup's
        # right side hands them to per_shard
        self.norms = {
            int(s): g.reset_index(drop=True)
            for s, g in norms_pdf.groupby("shard", sort=True)
        }
        self._bounds = {
            s: (int(np.searchsorted(shard, s, "left")),
                int(np.searchsorted(shard, s, "right")))
            for s in self.norms
        }
        term_stats = term_stats.sort_by("term")
        self._dict = term_stats.column("term").to_numpy(zero_copy_only=False)
        self._df = term_stats.column("df").to_numpy()
        self._cf = term_stats.column("cf").to_numpy()

    @property
    def nbytes(self) -> int:
        """Bytes the copy holds: the postings table, the norms frames,
        and the term arrays with their Python str objects."""
        strs = sum(a.nbytes + sum(map(sys.getsizeof, a))
                   for a in (self._terms, self._dict))
        norms = sum(int(g.memory_usage(deep=True).sum())
                    for g in self.norms.values())
        return int(self.postings.nbytes + norms + strs
                   + self._df.nbytes + self._cf.nbytes)

    def term_states(self, terms: list[str]) -> dict[str, tuple[int, int]]:
        """Global (df, cf) of each of `terms` found in the dictionary,
        by one vectorised binary search (absent terms are left out)."""
        if not len(self._dict):
            return {}
        q = np.asarray(terms, dtype=object)
        i = np.minimum(np.searchsorted(self._dict, q), len(self._dict) - 1)
        hit = np.nonzero(self._dict[i] == q)[0]
        return {terms[j]: (int(self._df[i[j]]), int(self._cf[i[j]]))
                for j in hit}

    def seek(self, terms: list[str], dfs: dict[str, int],
             drop: tuple[str, ...]) -> dict[int, pd.DataFrame]:
        """Each shard's posting rows of the sorted distinct `terms`,
        without the `drop` columns and with `df_total` attached: the
        frames the cogroup's left side hands per_shard."""
        q = np.asarray(terms, dtype=object)
        idx, counts = [], []
        for lo, hi in self._bounds.values():
            col = self._terms[lo:hi]
            a = np.searchsorted(col, q, "left")
            b = np.searchsorted(col, q, "right")
            rows = [np.arange(lo + x, lo + y) for x, y in zip(a, b) if y > x]
            idx.extend(rows)
            counts.append(sum(len(r) for r in rows))
        table = self.postings.drop_columns(
            [c for c in drop if c in self.postings.column_names]
        )
        taken = table.take(
            np.concatenate(idx) if idx else np.empty(0, np.int64)
        ).to_pandas()
        taken["df_total"] = taken["term"].map(dfs).astype("int64")
        ends = np.cumsum(counts)
        return {
            s: taken.iloc[end - n:end].reset_index(drop=True)
            for s, n, end in zip(self._bounds, counts, ends)
        }


# Spark and pandas type of each column type a _run_shards schema uses
_COL_TYPES = {"long": (LongType(), "int64"), "int": (IntegerType(), "int32"),
              "float": (FloatType(), "float32"),
              "string": (StringType(), "object")}


def _columns(schema: str) -> list[list[str]]:
    """[name, type] per column of a "name type, ..." schema string."""
    return [f.split() for f in schema.split(",")]


def _no_rows(schema: str) -> pd.DataFrame:
    return pd.DataFrame({n: pd.Series(dtype=_COL_TYPES[t][1])
                         for n, t in _columns(schema)})


def _plan_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate of a frame (for a file scan, the bytes
    of its files), read off the optimized plan: no job runs."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def _merge_topk(rows: pd.DataFrame, k: int | None) -> pd.DataFrame:
    """The driver-side global merge of per-shard top-k rows: score
    desc, doc_id asc, first k — the order of the Spark tier's
    TakeOrderedAndProject (TopDocs.merge, TopDocs.java:94-116)."""
    docs, scores = _topk_arrays(
        rows["doc_id"].to_numpy(np.int64),
        rows["score"].to_numpy(np.float32), k,
    )
    return pd.DataFrame({"doc_id": docs, "score": scores})


class _Similarity(NamedTuple):
    """A non-BM25 similarity for the shared kernels (the
    IndexSearcher.setSimilarity seam, SURVEY §2.6). Built on the driver
    per query; only its leaf scorers ship to the shard tasks."""

    # (clause_terms, {term: (df, cf)}) -> {term: (leaf, explain stats)}
    # with leaf(tf, norm_bytes, boost=1.0) -> f32 scores
    weigh: Callable
    coord: bool  # ClassicSimilarity coord: overlap/maxOverlap on disjunctions
    trees: bool  # nested boolean trees accepted (SimilarityBase family)
    norm: tuple  # (explain key, 256-entry decode of the doc's norm byte)
    head: dict  # explain fields naming the similarity
    description: str


def _simbase_similarity(make_leaf, detail, model: str) -> _Similarity:
    """SimilarityBase flavor (LM/DFR/IB): per-term leaves from the
    term's (df, cf), coord disabled (Similarity.coord() stays 1)."""
    from lucene_solr_spark.functions.lm import DOCLEN_TABLE

    def weigh(clause_terms, stats):
        return {
            t: (make_leaf(t, *stats[t]), detail(t, *stats[t]))
            for t in clause_terms
        }

    return _Similarity(
        weigh, coord=False, trees=True, norm=("doc_len", DOCLEN_TABLE),
        head={"model": model},
        description=(
            "SimilarityBase: f64 sum of per-term f32 leaves, one "
            "f32 cast (coord disabled)"
        ),
    )


class IndexSearcher:
    """Searcher over an index directory produced by build_index."""

    def __init__(self, spark: SparkSession, index_dir: str):
        from lucene_solr_spark.session import ensure_on_workers

        from lucene_solr_spark.index.storage import resolve_io

        self.spark = spark
        self.index_dir = index_dir
        ensure_on_workers(spark)
        # storage seam: filesystem path -> ParquetIO, iceberg://cat.db.ix
        # -> IcebergIO catalog tables (index/storage.py). Everything the
        # searcher reads goes through it; NRT delta generations are the
        # one directory-only feature (published snapshots fold them in).
        self._io = resolve_io(spark, index_dir)
        self.manifest = self._io.read_manifest()
        self.max_doc = self.manifest["max_doc"]
        self.avgdl = bm25.avgdl(self.manifest["sum_total_term_freq"], self.max_doc)
        self.cache = bm25.norm_cache(self.avgdl)
        # per-field stats -> per-field norm caches ('' = default field)
        self._default_field = self.manifest["config"].get("text_col", "text")
        self._codec = self.manifest["config"].get("codec", "vbyte")
        self._field_stats = dict(
            self.manifest.get("field_stats")
            or {self._default_field: self.manifest["sum_total_term_freq"]}
        )
        self._rebuild_caches()
        self._postings = self._io.read("postings")
        self._norms = self._io.read("norms")
        self._term_stats = self._io.read("term_stats")
        # liveDocs fixed at open, like a SegmentReader's: a frame's file
        # listing is fixed when it is created, so every liveDocs reader
        # resolves this open-time snapshot (reopen to see later writes)
        self._tombs = (
            self._io.read("tombstones")
            if self._io.exists("tombstones") else None
        )
        self._live_norms: DataFrame | None = None
        self._driver: _DriverIndex | None = None  # in-process tier
        # driver-side TermStates cache (Lucene caches TermStates per
        # query term at createWeight time): term -> global (df, cf).
        # Bounded by the distinct terms ever queried on this reader
        # instance; neither changes within a reader generation (deletes
        # don't touch them, NRT appends open a NEW searcher).
        self._ts_cache: dict[str, tuple[int, int]] = {}
        self._rev_stats: DataFrame | None = None  # lazy reversed dict
        self._doc_map = None
        # multi-generation state (NRT delta segments; see streaming/nrt.py):
        # global shard id -> doc_id offset of its generation, and
        # (dir, shard_offset, doc_offset) per extra generation. A
        # published snapshot (storage.publish_index) bakes the offsets
        # into its manifest instead of carrying generation dirs.
        self._doc_offsets: dict[int, int] = {
            int(k): int(v)
            for k, v in (self.manifest.get("doc_offsets") or {}).items()
        }
        self._gens: list[tuple[str, int, int]] = []
        self._deleted: np.ndarray | None = None  # lazy tombstone resolve
        # total shard count of the point-in-time view (query-stage
        # parallelism is bounded by it — one leaf task per shard)
        self._n_shards = (
            max(int(x) for x in self.manifest["shard_bases"]) + 1
        )
        # cost floor for the block-skip fast paths (0 forces pruning)
        self.prune_min = PRUNE_MIN_POSTINGS
        # driver-side expansion guard (BooleanQuery.java:39-48): scoring
        # rewrites of multi-term/fuzzy queries raise TooManyClauses past
        # this many expanded terms unless a bounded top-terms rewrite
        # (max_expansions) was requested. The pure constant-score path
        # (_search_constant) is exempt — it never materializes the term
        # list on the driver (the CONSTANT_SCORE_FILTER bitset analog).
        self.max_clause_count = 1024

    @classmethod
    def open(cls, spark: SparkSession, index_dir: str) -> "IndexSearcher":
        """Open base + NRT delta generations as one point-in-time view.

        The Lucene analog is DirectoryReader.open over all committed
        segments: BM25 stats (maxDoc, avgdl, per-term df) span every
        generation (the df comes free from the window-sum over the
        UNION of postings), and delta docIDs are remapped by cumulative
        docBase offsets (MergeState.java:129-142)."""
        s = cls(spark, index_dir)
        gens = s.manifest.get("delta_generations") or []
        if not gens:
            return s
        return s._fold_dirs([os.path.join(index_dir, g["dir"]) for g in gens])

    @classmethod
    def open_multi(cls, spark: SparkSession, dirs: list[str]) -> "IndexSearcher":
        """MultiReader analog (index/MultiReader.java): one point-in-
        time view over SEVERAL independent indexes. Exactly open()'s
        generation fold with the extra indexes as the generations:
        cumulative docBase remap, global BM25 stats over the union.
        Keys are NOT deduplicated (MultiReader composes readers as-is);
        sources must share the codec and default field. Tombstoned
        sources are rejected — compact them first (the view's tombstone
        resolve is single-source)."""
        if not dirs:
            raise ValueError("open_multi needs at least one index dir")
        s = cls(spark, dirs[0])
        if s.manifest.get("delta_generations"):
            raise ValueError(
                "open_multi sources must be single-generation — "
                "publish/compact NRT indexes first"
            )
        from lucene_solr_spark.index.storage import resolve_io

        extra = list(dirs[1:])
        for d in [dirs[0]] + extra:
            if resolve_io(spark, d).exists("tombstones"):
                raise ValueError(
                    f"open_multi source {d} has tombstones — compact it "
                    "first (multi-view tombstone resolve is single-source)"
                )
        if not extra:
            return s
        return s._fold_dirs(extra)

    def _fold_dirs(self, gen_dirs: list[str]) -> "IndexSearcher":
        """Fold extra index directories into this searcher as doc-range
        generations (shard ids offset, docIDs remapped by cumulative
        docBase, stats summed — MergeState.java:129-142)."""
        s = self
        shard_off = max(int(x) for x in s.manifest["shard_bases"]) + 1
        doc_off = s.max_doc
        sttf = s.manifest["sum_total_term_freq"]
        postings = [s._postings]
        norms = [s._norms]
        stats = [s._term_stats]
        for gdir in gen_dirs:
            with open(os.path.join(gdir, "manifest.json")) as fh:
                gm = json.load(fh)
            if gm["config"].get("codec", "vbyte") != s._codec:
                raise ValueError(
                    f"codec mismatch folding {gdir}: "
                    f"{gm['config'].get('codec')} != {s._codec}"
                )
            gp = s.spark.read.parquet(os.path.join(gdir, "postings"))
            gn = s.spark.read.parquet(os.path.join(gdir, "norms"))
            postings.append(
                gp.withColumn("shard", (F.col("shard") + shard_off).cast("int"))
            )
            norms.append(
                gn.withColumn("shard", (F.col("shard") + shard_off).cast("int"))
            )
            stats.append(s.spark.read.parquet(os.path.join(gdir, "term_stats")))
            for local_shard in gm["shard_bases"]:
                s._doc_offsets[int(local_shard) + shard_off] = doc_off
            s._gens.append((gdir, shard_off, doc_off))
            doc_off += gm["max_doc"]
            sttf += gm["sum_total_term_freq"]
            for f, v in (gm.get("field_stats") or {}).items():
                if f != s._default_field:
                    s._field_stats[f] = s._field_stats.get(f, 0) + int(v)
            shard_off += max(int(x) for x in gm["shard_bases"]) + 1
        from functools import reduce as _reduce

        def union_all(dfs):
            return _reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs
            )

        s._postings = union_all(postings)
        s._norms = union_all(norms)
        s._term_stats = (
            union_all(stats)
            .groupBy("term")
            .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        )
        s.max_doc = doc_off
        s.avgdl = bm25.avgdl(sttf, s.max_doc)
        s.cache = bm25.norm_cache(s.avgdl)
        s._field_stats[s._default_field] = sttf
        s._n_shards = shard_off
        s._rebuild_caches()
        return s

    def preload(self) -> "IndexSearcher":
        """Serving mode: pin the postings / norms / term-dictionary
        frames in executor memory (MEMORY_AND_DISK) and materialize
        them once. The reference's analog is an open IndexReader over
        mmap'd, OS-cached segment files (every SearchTask reuses it);
        without this each query re-runs the parquet scan tasks. At
        cluster scale the pinned frames are partitioned across
        executors like any cached table — preload only what serves.

        The postings and norms are pinned ALREADY HASH-PARTITIONED on
        shard at the cogroup's partition count, so a warm query's
        filter/projection preserves the cached partitioning and the
        scoring cogroup needs NO exchange at all (the per-query
        repartition in _cogroup_inputs is skipped) — the open-reader
        analog extends to the physical layout, exactly like Lucene
        serving from already-sorted segment files. The open-time
        liveDocs bitmaps are joined into the pinned norms, so a query
        adds no tombstone read, join or Python stage; they stay fixed
        at open — open a new searcher to see later writes. `_norms`
        keeps the index's norms columns.

        In-process tier: when the postings and norms files take at most
        IN_PROCESS_MAX_BYTES on disk (decided from the plan statistics,
        before anything runs), the postings, norms and term-dictionary
        pins are materialized by `toArrow()` instead of `count()`: the
        same action fills each cache and hands the driver a copy
        (_DriverIndex). _run_shards then scores every shard in the
        driver, and _term_states reads (df, cf) from the dictionary
        copy, so no query starts a Spark job. The copy is taken here,
        so it is as point-in-time as the pins. `serving_tier` and
        `driver_bytes` report the outcome. The pins stay: the multi-term
        rewrites, term vectors and the constant-score paths still read
        them. Returns self."""
        in_process = (
            _plan_bytes(self._postings) + _plan_bytes(self._norms)
            <= IN_PROCESS_MAX_BYTES
        )
        p = self._serving_partitions()
        self._postings = self._postings.repartition(p, "shard").persist()
        live = self._norms
        if self._has_tombstones():
            # the pin's lineage stops at the checkpointed bitmaps: Spark
            # re-lists and recomputes a cached plan that scans a path a
            # later write appends to (recache-by-path), so a pin that
            # still read the tombstone table would pick up later deletes
            live = live.join(
                self._deleted_bitmaps().localCheckpoint(), "shard", "left"
            )
        self._live_norms = live.repartition(p, "shard").persist()
        self._norms = self._live_norms.select(*self._norms.columns)
        self._term_stats = self._term_stats.persist()
        sc = self.spark.sparkContext
        desc = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(f"preload {self.index_dir}: pin postings, "
                             f"norms, dictionary")
        try:
            # one action materializes each lineage
            if in_process:
                self._driver = _DriverIndex(
                    self._postings.toArrow(), self._live_norms.toArrow(),
                    self._term_stats.select("term", "df", "cf").toArrow(),
                )
            else:
                self._postings.count()
                self._live_norms.count()
                self._term_stats.count()
        finally:
            sc.setJobDescription(desc)
        self._served_p = p
        return self

    @property
    def serving_tier(self) -> str:
        """Where planning and scoring run: "driver" after a preload()
        below IN_PROCESS_MAX_BYTES (term statistics from the driver's
        dictionary copy and every shard scored in this process, no
        Spark job per query, cold or warm), else "spark" (a dictionary
        lookup job per never-seen term set, one applyInPandas cogroup
        group per shard)."""
        return "spark" if self._driver is None else "driver"

    @property
    def driver_bytes(self) -> int:
        """Bytes of the driver copy of postings, norms and the term
        dictionary, Python objects included (0 on the Spark tier)."""
        return 0 if self._driver is None else self._driver.nbytes

    def _serving_partitions(self) -> int:
        return max(
            1,
            min(self.spark.sparkContext.defaultParallelism, self._n_shards),
        )

    def _rebuild_caches(self) -> None:
        """Per-field norm caches from per-field avgdl
        (BM25Similarity.java:84-91,206-211)."""
        self._caches = {}
        for f, sttf_f in self._field_stats.items():
            key = "" if f == self._default_field else f
            self._caches[key] = bm25.norm_cache(
                bm25.avgdl(int(sttf_f), self.max_doc)
            )

    def _iterm(self, field: str | None, token: str) -> str:
        """Internal dictionary key of (field, token) — Term.java:36.
        Unprefixed for the default field."""
        if field is None or field == self._default_field:
            return token
        if field not in self._field_stats:
            raise KeyError(
                f"field {field!r} is not indexed (have "
                f"{sorted(self._field_stats)})"
            )
        return f"{field}{FIELD_SEP}{token}"

    def doc_map(self) -> DataFrame:
        if self._doc_map is None:
            dm = self._io.read("doc_map")
            parts = [dm]
            for gdir, shard_off, doc_off in self._gens:
                gdm = self.spark.read.parquet(os.path.join(gdir, "doc_map"))
                parts.append(
                    gdm.withColumn("doc_id", F.col("doc_id") + doc_off)
                    .withColumn("shard", (F.col("shard") + shard_off).cast("int"))
                )
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p, allowMissingColumns=True)
            self._doc_map = out
        return self._doc_map

    def deleted_doc_ids(self) -> np.ndarray:
        """Sorted global docIDs of tombstoned docs (liveDocs complement),
        fixed at open; open a new searcher to see later writes.

        Driver-side materialization — used only by offline maintenance
        helpers; the query path ships deletes per shard via
        _norms_for_query (no O(deleted) driver state)."""
        if self._deleted is None:
            if not self._has_tombstones():
                self._deleted = np.empty(0, np.int64)
            else:
                rows = self.deleted_df().select("doc_id").collect()
                self._deleted = np.array(
                    sorted(int(r.doc_id) for r in rows), np.int64
                )
        return self._deleted

    def _has_tombstones(self) -> bool:
        return self._tombs is not None

    def deleted_df(self) -> DataFrame:
        """(shard, doc_id) of tombstoned docs, resolved DISTRIBUTIVELY
        against the doc_map (no driver materialization — the per-shard
        liveDocs-bitmap analog, Lucene50LiveDocsFormat). The tombstones
        are the open-time snapshot (fixed at open; open a new searcher
        to see later writes). A tombstone kills only doc versions below
        its watermark (delGen semantics, see index/deletes.py)."""
        tombs = self._tombs.groupBy("key").agg(F.max("wm").alias("wm"))
        # No broadcast hint: a deletes-heavy window between compactions
        # can grow tombstones past executor memory, so the join strategy
        # is left to Catalyst/AQE — small tombstone tables still
        # auto-broadcast under the threshold (the size guard), large
        # ones shuffle on key like any fact-fact join.
        return (
            self.doc_map()
            .join(tombs, "key")
            .where(F.col("doc_id") < F.col("wm"))
            .select("shard", "doc_id")
        )

    def _drop_deleted(self, docs: DataFrame) -> DataFrame:
        """`docs` minus the open-time tombstoned docIDs — liveDocs as a
        distributed anti-join (no driver-side array)."""
        if not self._has_tombstones():
            return docs
        return docs.join(
            self.deleted_df().select("doc_id"), "doc_id", "left_anti"
        )

    def _deleted_bitmaps(self) -> DataFrame:
        """(shard, deleted_bm): each shard's open-time tombstoned local
        docIDs packed ONE BIT per docID (the liveDocs wire format), not
        an int64 array — a majority-deleted shard of 10M docs ships
        ~1.25 MB instead of 80 MB per task."""
        offsets = dict(self._doc_offsets)

        def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
            shard = int(pdf["shard"].iloc[0])
            local = pdf["doc_id"].to_numpy(np.int64) - np.int64(
                offsets.get(shard, 0)
            )
            bm = np.zeros(int(local.max()) + 1, np.uint8)
            bm[local] = 1
            return pd.DataFrame(
                {"shard": [shard], "deleted_bm": [np.packbits(bm).tobytes()]}
            )

        shard_t = self._norms.schema["shard"].dataType.simpleString()
        return (
            self.deleted_df()
            .groupBy("shard")
            .applyInPandas(_pack, f"shard {shard_t}, deleted_bm binary")
        )

    def _norms_for_query(self, matched: DataFrame | None) -> DataFrame:
        """The cogroup right side: one small norms row per matched
        shard, with the shard's open-time liveDocs attached as a packed
        `deleted_bm` bitmap. Replaces the old broadcast-blob join (which
        widened every posting row by the whole shard's norm bytes) —
        the norms blob now ships ONCE per shard into its leaf task, and
        only for shards the query actually touches (.nvd-per-segment
        read discipline). matched=None ships EVERY shard's norms row
        (needed when a FieldValueQuery clause must match docs in
        shards the query terms never touch). Preloaded: the frame
        preload() pinned; otherwise the bitmaps are packed per query.
        Fixed at open either way; open a new searcher to see later
        writes."""
        pinned = self._live_norms is not None
        norms = self._live_norms if pinned else self._norms
        if matched is not None:
            norms = norms.join(
                matched.select("shard").distinct(), "shard", "left_semi"
            )
        if pinned or not self._has_tombstones():
            return norms
        return norms.join(self._deleted_bitmaps(), "shard", "left")

    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        """Global df per term, driver-cached (see _term_states): no
        Spark job on the driver tier."""
        return {t: st[0] for t, st in self._term_states(terms).items()}

    def _term_states(self, terms) -> dict[str, tuple[int, int]]:
        """Global (df, cf) per term, driver-cached (the TermStates pull,
        free after a term's first lookup). A never-seen term set is one
        vectorised binary search in the driver's dictionary copy on the
        driver tier, and one tiny pushed-down dictionary seek (a Spark
        job) without one. Absent terms cache as (0, 0)."""
        missing = sorted({t for t in terms if t not in self._ts_cache})
        if missing:
            if self._driver is not None:
                found = self._driver.term_states(missing)
            else:
                rows = (
                    self._term_stats.where(F.col("term").isin(missing))
                    .select("term", "df", "cf")
                    .collect()
                )
                found = {r.term: (int(r.df), int(r.cf)) for r in rows}
            for t in missing:
                self._ts_cache[t] = found.get(t, (0, 0))
        return {t: self._ts_cache[t] for t in terms}

    def _expand_mtq(self, q) -> list[str]:
        """Dictionary expansion for prefix/wildcard/regexp (the automaton
        ∩ term-dict seek, MultiTermQuery.java:68-94), distributed as a
        pushed-down predicate over term_stats.

        Guarded by max_clause_count (BooleanQuery.java:39-48): a
        driver-side term list past the cap raises TooManyClauses —
        at web scale a `t*` pattern is millions of terms. Queries
        carrying max_expansions take the bounded top-terms rewrite
        instead (_expand_top_terms) and never overflow."""
        pre = self._mtq_prefix(q)
        frame, cond = self._mtq_scan(q, pre)
        if getattr(q, "max_expansions", None):
            return self._expand_top_terms(cond, q.max_expansions, frame)
        cap = self.max_clause_count
        rows = (
            frame.where(cond)
            .select("term")
            .limit(cap + 1)
            .collect()
        )
        if len(rows) > cap:
            raise TooManyClauses(
                f"{q!r} expands past max_clause_count={cap}; raise the "
                "limit or set max_expansions for a df-bounded top-terms "
                "rewrite"
            )
        return sorted(r.term for r in rows)

    def _mtq_prefix(self, q) -> str:
        """Internal-key prefix scoping a multi-term/fuzzy expansion to
        its field's dictionary ('' = default field); validates the
        field is indexed (FieldInfos consistency check)."""
        field = getattr(q, "field", None)
        if field is None or field == self._default_field:
            return ""
        if field not in self._field_stats:
            raise KeyError(
                f"field {field!r} is not indexed (have "
                f"{sorted(self._field_stats)})"
            )
        return f"{field}{FIELD_SEP}"

    def _mtq_scan(self, q, field_prefix: str = ""):
        """(dictionary frame, predicate) for a multi-term expansion.

        Leading-wildcard patterns take the REVERSED dictionary
        (ReversedWildcardFilterFactory analog, solr/core/.../analysis/
        ReversedWildcardFilterFactory.java shouldReverse: pattern leads
        with * or ?): the internal key pattern is string-reversed, its
        literal prefix becomes a pushed-down `rterm startswith` on the
        rterm-sorted parquet dictionary (min/max row-group pruning),
        and the full reversed wildcard runs as a post-scan rlike. A
        `*foo` over a billion-term dictionary seeks one key range
        instead of regex-scanning the vocabulary. Falls back to the
        forward dictionary + _mtq_cond for every other shape."""
        import re as _re

        if isinstance(q, WildcardQuery) and q.pattern[:1] in ("*", "?"):
            rpat = (field_prefix + q.pattern)[::-1]
            i = 0
            while i < len(rpat) and rpat[i] not in "*?":
                i += 1
            rprefix = rpat[:i]
            if rprefix:
                regex = "^" + "".join(
                    ".*" if ch == "*" else "." if ch == "?" else _re.escape(ch)
                    for ch in rpat
                ) + "$"
                cond = F.col("rterm").startswith(rprefix) & F.col(
                    "rterm"
                ).rlike(regex)
                if not field_prefix:
                    cond = cond & ~F.col("rterm").contains(FIELD_SEP)
                return self._rev_dict(), cond
        return self._term_stats, _mtq_cond(q, field_prefix)

    def _rev_dict(self) -> DataFrame:
        """The reversed term dictionary (rterm = reverse(term), sorted
        by rterm). Indexes written before the reversed-dictionary file
        existed — and multi-generation NRT views, whose stats are a
        runtime union — derive it from term_stats on the fly (correct,
        no pruning)."""
        if self._rev_stats is None:
            base = None
            if not self._gens:
                try:
                    base = self._io.read("term_stats_rev")
                    base.schema  # force resolution (missing path raises)
                except Exception:
                    base = None
            if base is None:
                base = self._term_stats.select(
                    F.reverse(F.col("term")).alias("rterm"), "term", "df"
                )
            self._rev_stats = base
        return self._rev_stats

    def _expand_top_terms(self, cond, n: int,
                          frame: DataFrame | None = None) -> list[str]:
        """df-bounded top-terms rewrite (TopTermsRewrite.java,
        MultiTermQuery.java:68-115): keep the n highest-df matching
        terms (df desc, term asc — for constant-score rewrites every
        term boosts equally, so collection frequency is the ranking
        that preserves the most matches). Runs as a distributed
        top-n over the tiny (term, df) dictionary."""
        rows = (
            (self._term_stats if frame is None else frame).where(cond)
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(int(n))
            .select("term")
            .collect()
        )
        return sorted(r.term for r in rows)

    def _tree(self, q: Query) -> dict:
        """Compile a Query into a picklable nested-tree dict for
        _eval_tree, expanding dictionary-dependent leaves (multi-term /
        fuzzy / common-terms rewrites) on the driver — the
        Query.rewrite(reader) analog for nested clauses."""
        q = rewrite(q)
        T = lambda t: {"kind": "term", "term": t}  # noqa: E731
        if isinstance(q, SpanQuery):
            # span leaf inside a boolean tree (surround-parser
            # composition); wrapper expansion happens in _span_node
            return {"kind": "spans", "node": self._span_node(q)}
        if isinstance(q, TermQuery):
            return T(self._iterm(q.field, q.term))
        if isinstance(q, PhraseQuery):
            return {
                "kind": "phrase",
                "terms": [self._iterm(q.field, t) for t in q.phrase],
                "slop": q.slop,
            }
        if isinstance(q, BoostQuery):
            inner = self._tree(q.query)
            b = float(q.boost) * float(inner.pop("boost", 1.0))
            return {**inner, "boost": b}
        if isinstance(q, ConstantScoreQuery):
            inner_q = rewrite(q.query)
            if isinstance(inner_q, (PrefixQuery, WildcardQuery, RegexpQuery,
                                    TermRangeQuery)):
                return {
                    "kind": "const",
                    "terms": self._expand_mtq(inner_q),
                    "boost": float(q.boost),
                }
            return {
                "kind": "constwrap",
                "query": self._tree(inner_q),
                "boost": float(q.boost),
            }
        if isinstance(q, (PrefixQuery, WildcardQuery, RegexpQuery,
                          TermRangeQuery, TermsQuery)):
            return {"kind": "const", "terms": self._expand_mtq(q)}
        if isinstance(q, MatchAllDocsQuery):
            return {"kind": "match_all"}
        if isinstance(q, FieldValueQuery):
            f = q.field if q.field is not None else self._default_field
            if f != self._default_field and f not in self._field_stats:
                raise KeyError(
                    f"field {f!r} is not indexed (have "
                    f"{sorted(self._field_stats)})"
                )
            return {
                "kind": "field_exists",
                "field": "" if f == self._default_field else f,
            }
        if isinstance(q, FuzzyQuery):
            return {
                "kind": "bool",
                "msm": 0,
                "clauses": [
                    ("SHOULD", T(t)) for t in sorted(self._expand_fuzzy(q))
                ],
            }
        if isinstance(q, CommonTermsQuery):
            dfs = self.term_dfs(sorted(set(q.terms_)))
            cutoff = q.max_term_frequency * self.max_doc
            cl = [
                ("MUST", T(t)) for t in q.terms_ if dfs.get(t, 0) <= cutoff
            ] + [
                ("SHOULD", T(t)) for t in q.terms_ if dfs.get(t, 0) > cutoff
            ]
            return {"kind": "bool", "msm": 0, "clauses": cl}
        if isinstance(q, BooleanQuery):
            return {
                "kind": "bool",
                "msm": q.min_should_match,
                "clauses": [
                    (c.occur, self._tree(c.query)) for c in q.clauses
                ],
            }
        if isinstance(q, BooleanAnd):
            return {"kind": "bool", "msm": 0,
                    "clauses": [("MUST", T(t)) for t in q.must]}
        if isinstance(q, BooleanOr):
            return {"kind": "bool", "msm": q.min_should_match,
                    "clauses": [("SHOULD", T(t)) for t in q.should]}
        if isinstance(q, BooleanNot):
            return {
                "kind": "bool", "msm": 0,
                "clauses": [("MUST", T(t)) for t in q.must]
                + [("MUST_NOT", T(t)) for t in q.must_not],
            }
        if isinstance(q, BooleanMustShould):
            return {
                "kind": "bool", "msm": 0,
                "clauses": [("MUST", T(t)) for t in q.must]
                + [("SHOULD", T(t)) for t in q.should],
            }
        if isinstance(q, DisjunctionMax):
            return {"kind": "dismax", "tie": q.tie,
                    "clauses": [T(t) for t in q.should]}
        if isinstance(q, DisMaxQuery):
            return {"kind": "dismax", "tie": q.tie,
                    "clauses": [self._tree(sub) for sub in q.queries]}
        raise TypeError(f"unsupported query in tree: {q!r}")

    def _span_node(self, q: SpanQuery) -> dict:
        """SpanQuery -> the plain-dict node tree the spans kernel walks
        (search/spans.py). Fields resolve through the same internal-key
        mapping as TermQuery (Term.java:36)."""
        if isinstance(q, SpanTermQuery):
            return {"op": "term", "term": self._iterm(q.field, q.term)}
        if isinstance(q, SpanNearQuery):
            return {
                "op": "near",
                "clauses": [self._span_node(c) for c in q.clauses],
                "slop": int(q.slop),
                "in_order": bool(q.in_order),
            }
        if isinstance(q, SpanOrQuery):
            return {
                "op": "or",
                "clauses": [self._span_node(c) for c in q.clauses],
            }
        if isinstance(q, SpanNotQuery):
            return {
                "op": "not",
                "include": self._span_node(q.include),
                "exclude": self._span_node(q.exclude),
                "pre": int(q.pre),
                "post": int(q.post),
            }
        if isinstance(q, SpanFirstQuery):
            return {
                "op": "first",
                "match": self._span_node(q.match),
                "end": int(q.end),
            }
        if isinstance(q, SpanPositionRangeQuery):
            return {
                "op": "posrange",
                "match": self._span_node(q.match),
                "start": int(q.start),
                "end": int(q.end),
            }
        if isinstance(q, (SpanContainingQuery, SpanWithinQuery)):
            return {
                "op": ("containing" if isinstance(q, SpanContainingQuery)
                       else "within"),
                "big": self._span_node(q.big),
                "little": self._span_node(q.little),
            }
        if isinstance(q, PayloadNearQuery):
            return {
                "op": "payscore",
                "fn": q.fn,
                "match": {
                    "op": "near",
                    "clauses": [self._span_node(c) for c in q.clauses],
                    "slop": int(q.slop),
                    "in_order": bool(q.in_order),
                },
            }
        if isinstance(q, SpanPayloadCheckQuery):
            return {
                "op": "paycheck",
                "match": self._span_node(q.match),
                "payloads": [float(v) for v in q.payloads],
            }
        if isinstance(q, SpanMultiTermQueryWrapper):
            # SCORING_SPAN_QUERY_REWRITE: SpanOr over the expanded
            # dictionary terms (term order; _expand_mtq applies the
            # maxClauseCount guard / df-ranked top-terms bound)
            return {
                "op": "or",
                "clauses": [
                    {"op": "term", "term": t}
                    for t in self._expand_mtq(q.query)
                ],
            }
        raise TypeError(f"unsupported span query {q!r}")

    def _spec(self, q: Query) -> dict:
        if isinstance(q, SpanQuery):
            from lucene_solr_spark.search.spans import span_all_terms

            node = self._span_node(q)
            return {
                "kind": "spans",
                "node": node,
                "terms": list(dict.fromkeys(span_all_terms(node))),
            }
        if isinstance(q, _FLAT_QUERIES + _NESTED_QUERIES + (
                BooleanNot, BooleanMustShould, DisjunctionMax)):
            tree = self._tree(q)
            return {"kind": "tree", "tree": tree, "terms": _tree_terms(tree)}
        if isinstance(q, PhraseQuery):
            return {
                "kind": "phrase",
                "terms": [self._iterm(q.field, t) for t in q.phrase],
                "slop": q.slop,
            }
        if isinstance(q, MultiPhraseQuery):
            # global stats pull (MultiPhraseWeight over TermStatistics):
            # idf = f32 sum over indexed terms in declaration order
            flat = sorted({t for alts in q.positions_ for t in alts})
            gdfs = self.term_dfs(flat)
            positions = [
                [t for t in alts if gdfs.get(t, 0) > 0]
                for alts in q.positions_
            ]
            idf_sum = np.float32(0.0)
            for alts in q.positions_:
                for t in alts:
                    if gdfs.get(t, 0) > 0:
                        idf_sum = np.float32(
                            idf_sum + bm25.idf(gdfs[t], self.max_doc)
                        )
            return {
                "kind": "multi_phrase",
                "positions": positions,
                "terms": [t for p in positions for t in p],
                "idf_sum": float(idf_sum),
            }
        raise TypeError(f"unsupported query {q!r}")

    def _cogroup_inputs(self, matched: DataFrame, all_shards: bool = False):
        """Explicitly co-partition both cogroup sides by shard.

        The scoring stage's cost is PYTHON CPU, invisible to AQE's
        byte-based coalescing: left to ENSURE_REQUIREMENTS exchanges,
        AQE folds the (tiny-by-bytes) matched rows into ONE partition
        and serializes every shard's scoring in a single task (measured
        3x wall on a 600-query batch). An explicit repartition(P,
        shard) is never coalesced and already satisfies the cogroup's
        clustered distribution, so no second exchange is added.

        P = min(defaultParallelism, n_shards): shard is the hash key,
        so partitions beyond the shard count are guaranteed empty —
        they only add exchange fan-out + task-scheduling overhead (the
        round-2 fixed-32 choice cost ~2.5x single-query latency at
        sf0.1 with an 8-shard index; round-2 verdict #2). On a real
        cluster n_shards >> executor slots = defaultParallelism, so P
        stays at the slot count there.

        When preload() pinned the frames pre-partitioned at this same
        P (serving mode), the filter/projection lineage preserves the
        cached hash(shard) partitioning on BOTH sides, so the explicit
        repartition is skipped and the cogroup runs exchange-free."""
        p = self._serving_partitions()
        norms_side = self._norms_for_query(None if all_shards else matched)
        if getattr(self, "_served_p", None) == p:
            return matched, norms_side
        return matched.repartition(p, "shard"), norms_side.repartition(
            p, "shard"
        )

    def _matched(self, terms: list[str]) -> DataFrame:
        """Postings rows for the query terms, with the GLOBAL df attached
        as `df_total` — the whole search stays ONE Spark job (no separate
        stats-lookup job; the BlockTree term seek analog stays a
        pushed-down `term IN (...)` parquet filter).

        df_total is attached as a LITERAL per-term map from the
        driver-cached TermStates pull (term_dfs — exactly Lucene's
        per-term TermStates at createWeight time) rather than a window,
        a postings re-aggregate, or the round-2..4 broadcast join: a
        window would shuffle the heavy posting rows on `term` and then
        AGAIN on `shard` for the cogroup; the broadcast join was
        correct but spent a broadcast-build job inside EVERY query for
        a handful of scalars the driver already holds after the first
        query on a term (round-4 verdict #8 — per-query fixed
        overhead). The literal keeps the heavy rows to a single
        shard-keyed exchange and the query to one job once the cache
        is warm."""
        uterms = sorted(set(terms))
        dfs = self.term_dfs(uterms)
        matched = self._postings.where(F.col("term").isin(uterms))
        if not uterms:
            # match-all-style specs carry no terms; an empty create_map
            # is VOID-typed and map()[string] fails analysis
            return matched.withColumn(
                "df_total", F.lit(None).cast("long")
            )
        pairs = [x for t in uterms for x in (F.lit(t), F.lit(dfs[t]))]
        mapping = F.create_map(*pairs)
        return matched.withColumn(
            "df_total", mapping[F.col("term")].cast("long")
        )

    def _run_shards(
        self, terms: list[str], specs: list[dict], kernel, schema: str,
        all_shards: bool = False,
    ) -> DataFrame | pd.DataFrame:
        """The one per-shard execution seam (Lucene's leaf-slice loop).

        Spark tier: the pushed-down term seek (_matched) without the
        positions / payload streams no spec reads, the shard-keyed
        cogroup with the norms + liveDocs side (_cogroup_inputs —
        exchange-free on a preloaded searcher), then ONE applyInPandas
        group per shard. Returns that lazy per-shard frame.

        Driver tier (preload() took a _DriverIndex): the same per_shard
        function runs for each shard in this process, over the rows a
        binary-search seek of the driver copy finds and the shard's
        pinned norms + liveDocs rows. Scoring therefore happens HERE,
        not at collect(); returns the per-shard rows as a pandas frame
        (_frame / _top_hits turn it into a DataFrame).

        `kernel(left, decoded, deleted, off)` scores one shard: `left`
        is its posting rows, `decoded` the _decode_shard tuple,
        `deleted` its generation-local liveDocs complement and `off`
        its generation's docID offset. It returns rows of `schema` with
        generation-local doc_ids (None = no rows); the seam shifts them
        by `off`. all_shards=True also runs shards no query term
        touches."""
        default_field = self._default_field
        codec = self._codec
        offsets = dict(self._doc_offsets)
        empty = _no_rows(schema)

        def per_shard(left: pd.DataFrame, nr: pd.DataFrame) -> pd.DataFrame:
            if len(nr) == 0 or (len(left) == 0 and not all_shards):
                return empty
            # the norms row names the shard even when no term matched
            off = offsets.get(int(nr["shard"].iloc[0]), 0)
            out = kernel(
                left, _decode_shard(left, nr, default_field, codec),
                _local_deleted(nr, off), off,
            )
            if out is None:
                return empty
            if off:
                out["doc_id"] = out["doc_id"] + off
            return out

        if self._driver is not None:
            uterms = sorted(set(terms))
            lefts = self._driver.seek(
                uterms, self.term_dfs(uterms), _unread_columns(specs)
            )
            outs = [per_shard(lefts[s], nr)
                    for s, nr in self._driver.norms.items()]
            return pd.concat([o for o in outs if len(o)] or [empty],
                             ignore_index=True)
        matched, norms_side = self._cogroup_inputs(
            self._matched(terms).drop(*_unread_columns(specs)), all_shards
        )
        return (
            matched.groupBy("shard")
            .cogroup(norms_side.groupBy("shard"))
            .applyInPandas(per_shard, schema)
        )

    def _frame(self, rows: DataFrame | pd.DataFrame, schema: str) -> DataFrame:
        """A _run_shards result as a DataFrame: the Spark tier's frame as
        it is, driver rows as local data — a LocalRelation, so collect()
        starts no job."""
        if isinstance(rows, DataFrame):
            return rows
        from pyspark.sql.pandas.types import to_arrow_schema

        st = StructType([StructField(n, _COL_TYPES[t][0])
                         for n, t in _columns(schema)])
        return self.spark.createDataFrame(
            pa.Table.from_pandas(rows, schema=to_arrow_schema(st),
                                 preserve_index=False), st,
        )

    def _top_hits(self, per_shard: DataFrame | pd.DataFrame,
                  k: int | None) -> DataFrame:
        """The global merge of per-shard (doc_id, score) top-k rows:
        score desc, doc_id asc, first k — TakeOrderedAndProject on the
        Spark tier, _merge_topk in the driver."""
        if isinstance(per_shard, pd.DataFrame):
            return self._frame(_merge_topk(per_shard, k), "doc_id long, score float")
        ordered = per_shard.orderBy(F.desc("score"), F.asc("doc_id"))
        return ordered if k is None else ordered.limit(k)

    def search(self, query: Query, k: int | None = 10, prune: bool = True,
               cursor: tuple[float, int] | None = None,
               df_override: dict[str, int] | None = None) -> DataFrame:
        """Top-k as a DataFrame (doc_id long, score float), globally ordered
        score desc / doc_id asc with exact Lucene tie-break semantics.

        k=None returns ALL matches with scores (Solr /export handler
        analog — full sorted result-set streaming, SURVEY.md §2.8).

        `cursor` = (after_score, after_doc) keyset-paging predicate
        (searchAfter): only hits strictly after the cursor reach the
        per-shard collectors, so the block-skip kernels prune against
        page-N's own heap floor (TopScoreDocCollector.java:87-121).

        `df_override` substitutes artificial per-term doc freqs into the
        idf computation (TermContext.accumulateStatistics analog,
        BlendedTermQuery.java:299-318) — the postings themselves are
        untouched, only the weights change.

        On a searcher preloaded below IN_PROCESS_MAX_BYTES (the driver
        tier, see _run_shards) the spec-based shapes are scored inside
        this call and the returned frame holds local rows; otherwise
        scoring runs when the frame is collected."""
        q = rewrite(query)
        if isinstance(q, BlendedTermQuery):
            # blended df = max over the terms' real global dfs
            # (BlendedTermQuery.java:273-278), applied to EVERY term,
            # then DisjunctionMax(tie) rewrite (:185,295)
            dfs = self.term_dfs(sorted(set(q.terms_)))
            if not dfs:
                return self._empty()
            bdf = max(dfs.values())
            return self.search(
                DisjunctionMax(q.terms_, tie=q.tie), k, prune, cursor,
                df_override={t: bdf for t in q.terms_},
            )
        if isinstance(q, FieldValueQuery):
            out = self._search_field_value(q, None if cursor else k)
            return self._after_df(out, cursor, k)
        if isinstance(q, (PrefixQuery, WildcardQuery, RegexpQuery,
                          TermRangeQuery, TermsQuery)):
            out = self._search_constant(q, None if cursor else k)
            return self._after_df(out, cursor, k)
        if isinstance(q, FuzzyQuery):
            expanded = self._expand_fuzzy(q)
            if not expanded:
                return self._empty()
            return self.search(BooleanOr(tuple(sorted(expanded))), k, prune,
                               cursor)
        if isinstance(q, CommonTermsQuery):
            # split by GLOBAL df (dictionary stats lookup, like Lucene's
            # TermStates pull) then rewrite to required + optional
            dfs = self.term_dfs(sorted(set(q.terms_)))
            cutoff = q.max_term_frequency * self.max_doc
            must = tuple(t for t in q.terms_ if dfs.get(t, 0) <= cutoff)
            should = tuple(t for t in q.terms_ if dfs.get(t, 0) > cutoff)
            if not must:
                return self.search(BooleanAnd(should), k, prune, cursor)
            return self.search(BooleanMustShould(must, should), k, prune,
                               cursor)
        return self._search_spec(self._spec(q), k, prune, cursor, df_override)

    def _search_spec(
        self, spec: dict, k: int | None, prune: bool = True,
        cursor: tuple[float, int] | None = None,
        df_override: dict[str, int] | None = None,
        leaf_fn=None, coord: bool = False,
    ) -> DataFrame:
        """Score one spec on every shard through _run_shards, then the
        global merge (TakeOrderedAndProject: score desc, doc_id asc).
        `leaf_fn`/`coord` plug a non-BM25 similarity into the same
        kernels (see _score_spec and _search_similarity)."""
        # FieldValueQuery clauses match docs in shards no query term
        # touches — those shards must still reach the scoring stage
        all_shards = spec["kind"] == "tree" and _tree_has_field_exists(
            spec["tree"]
        )
        caches = dict(self._caches)
        max_doc = self.max_doc
        prune_min = self.prune_min
        ov = df_override or {}

        def kernel(left, decoded, deleted, off):
            idfs = {t: bm25.idf(ov.get(t, d), max_doc)
                    for t, d in decoded[3].items()}
            # the cursor's after_doc is GLOBAL; kernel docIDs are
            # generation-local (the seam adds off back)
            cur_local = (
                None if cursor is None else (cursor[0], cursor[1] - off)
            )
            return _score_spec(
                left, decoded, spec, idfs, caches, k, prune, deleted,
                prune_min, cursor=cur_local, leaf_fn=leaf_fn, coord=coord,
            )

        per_shard = self._run_shards(
            sorted(set(spec["terms"])), [spec], kernel,
            "doc_id long, score float", all_shards,
        )
        return self._top_hits(per_shard, k)

    def early_terminated_frame(
        self, query: Query, max_docs_per_shard: int
    ) -> DataFrame:
        """Solr EarlyTerminatingCollector analog (solr/.../search/
        EarlyTerminatingCollector.java:33-78): collection proceeds in
        docID order and STOPS once `max_docs_per_shard` live matches
        have been collected — only the collected docs are scored.

        The reference's collector is one sequential scan over segments
        with a global budget; the distributed analog applies the
        budget PER SHARD (each shard is this engine's leaf-reader
        sequence), which keeps the result deterministic at every
        cluster size — the collected set is a pure function of
        (query, budget, sharding), never of task timing. Like the
        reference (and EarlyTerminatingSortingCollector.java:47-53's
        NOTE), hit counts are lower bounds: when the index order IS
        the requested order, the collected prefix is exact; for
        score-ranked queries the budget trades recall for a hard
        per-shard work bound (Solr's timeAllowed/partialResults
        trade, made deterministic).

        Returns the raw per-shard frame
        (doc_id, score, shard, n_collected, n_scanned) where the
        counters follow EarlyTerminatingCollectorException.java:29-57:
        n_scanned = docID position reached when the budget hit (last
        collected local docID + 1), or the shard's maxDoc when the
        shard was exhausted. Scores are bitwise the normal engine's
        (same f32 per-term kernels, f64 boolean accumulation).

        Term / BooleanAnd / BooleanOr queries (the shapes Solr's
        collector wraps in practice): the match set is collected first
        — a term is a one-clause AND, an AND the np.intersect1d reduce
        of its clauses' doc lists, an OR their union filtered to
        min_should_match — then only the collected docs are scored.
        Deleted docs never consume budget (the delegate only sees live
        docs)."""
        if max_docs_per_shard <= 0:
            raise ValueError("max_docs_per_shard must be > 0")
        q = rewrite(query)
        spec = self._spec(q)
        if not isinstance(q, _FLAT_QUERIES):
            raise ValueError(
                "early-terminated collection supports term/and/or queries"
            )
        clause_terms = list(spec["terms"])  # clause order
        disj = isinstance(q, BooleanOr)
        msm = int(q.min_should_match) if disj else 1
        caches = dict(self._caches)
        max_doc = self.max_doc
        budget = int(max_docs_per_shard)

        def kernel(left, decoded, deleted, off):
            base, norms_map, lt, dfs, _ = decoded
            idfs = {t: bm25.idf(d, max_doc) for t, d in dfs.items()}
            shard = int(left["shard"].iloc[0])
            # match set in docID order (the collect order of the
            # reference's leaf walk)
            if not disj:
                if any(t not in lt for t in clause_terms):
                    return None
                docs = reduce(
                    np.intersect1d, [lt.full(t)[0] for t in clause_terms]
                )
            else:
                present = [t for t in clause_terms if t in lt]
                if len(present) < msm:
                    return None
                docs = reduce(np.union1d, [lt.full(t)[0] for t in present])
                if msm > 1:
                    # MinShouldMatchSumScorer membership: the delegate
                    # only sees docs matching >= msm clauses, so only
                    # those consume collection budget.
                    cnt = np.zeros(len(docs), np.int64)
                    for t in present:
                        cnt += np.isin(docs, lt.full(t)[0],
                                       assume_unique=True)
                    docs = docs[cnt >= msm]
            docs = _alive(docs, deleted)
            if len(docs) == 0:
                return None
            truncated = len(docs) > budget
            cut = docs[:budget]
            n_collected = len(cut)
            n_scanned = (
                int(cut[-1]) - base + 1
                if truncated
                else len(norms_map[""])
            )
            # score ONLY the collected docs (clause order, f64 -> f32)
            acc64 = np.zeros(len(cut), np.float64)
            for t in clause_terms:
                if t not in lt:
                    continue
                d, tf_arr = lt.full(t)
                pos = np.searchsorted(d, cut)
                pos = np.minimum(pos, len(d) - 1)
                hit = d[pos] == cut
                if not hit.any():
                    continue
                nrm, cch = _nc(t, norms_map, caches)
                s = bm25.score_term(
                    tf_arr[pos[hit]], nrm[cut[hit] - base], idfs[t], cch
                )
                acc64[hit] += s.astype(np.float64)
            return pd.DataFrame(
                {"doc_id": cut,
                 "score": acc64.astype(np.float32),
                 "shard": np.full(len(cut), shard, np.int32),
                 "n_collected": np.full(len(cut), n_collected, np.int64),
                 "n_scanned": np.full(len(cut), n_scanned, np.int64)}
            )

        schema = ("doc_id long, score float, shard int, "
                  "n_collected long, n_scanned long")
        return self._frame(
            self._run_shards(sorted(set(clause_terms)), [spec], kernel, schema),
            schema,
        )

    def search_early_terminated(
        self, query: Query, k: int = 10, max_docs_per_shard: int = 1000
    ) -> DataFrame:
        """Top-k over the early-terminated collected set (see
        early_terminated_frame): global merge of the per-shard
        docID-order prefixes, ordered score desc / doc_id asc."""
        raw = self.early_terminated_frame(query, max_docs_per_shard)
        return (
            raw.select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def search_classic(self, query: Query, k: int | None = 10) -> DataFrame:
        """Classic TF-IDF search — the 6.0 snapshot's DEFAULT similarity
        (IndexSearcher.java:145, DefaultSimilarity.java:45), behind the
        pluggable-similarity seam (functions/tfidf.py). Supports
        Term / BooleanAnd / BooleanOr over the default field; unlike
        BM25, the coord factor multiplies boolean sums
        (ClassicSimilarity.coord = overlap/maxOverlap)."""
        return self._search_similarity(
            query, k, self._classic_similarity(), "search_classic"
        )

    def search_sweetspot(
        self,
        query: Query,
        k: int | None = 10,
        ln_min: int = 1,
        ln_max: int = 1,
        steepness: float = 0.5,
        tf_base: float = 0.0,
        tf_min: float = 0.0,
    ) -> DataFrame:
        """SweetSpotSimilarity search (lucene/misc/.../
        SweetSpotSimilarity.java) — DefaultSimilarity with the plateau
        lengthNorm (setLengthNormFactors: ln_min/ln_max/steepness) and
        the baselineTf tf override (setBaselineTfFactors: tf_base/
        tf_min); idf/queryNorm/coord inherited from the classic chain.
        Default factors degenerate to search_classic bitwise (pinned
        in tests/test_sweetspot.py). Norm decode derives the quantized
        doc length from the stored byte — see functions/sweetspot.py
        for the documented deviation."""
        sim = self._sweetspot_similarity(
            ln_min, ln_max, steepness, tf_base, tf_min
        )
        return self._search_similarity(query, k, sim, "search_sweetspot")

    def search_term_automaton(
        self, query, k: int | None = 10
    ) -> DataFrame:
        """TermAutomatonQuery execution (lucene/sandbox/.../search/
        TermAutomatonScorer.java): disjunction over the automaton's
        terms, then per candidate doc a merged ascending position walk
        drives the determinized automaton — each query-term token at
        position p steps every state in positions[p] into
        positions[p+1] (freq++ on each step that lands in an accept
        state, :294-314), plus a fresh step from state 0; gap
        positions between consecutive events advance states along ANY
        arcs (:255-280 incl. the petered-out early exit). freq feeds
        BM25 with idf = f32 sum over the automaton's terms
        (TermAutomatonWeight:345-355 computeWeight over all
        TermStatistics; summed here in term-first-use order — the
        reference's HashMap iteration order is undefined, documented
        deviation), norm from the doc's stored byte.

        Faithful quirk, pinned in tests: because finish() expands ANY
        arcs over the whole alphabet, a query-term token in a gap slot
        is stepped TWICE into the next position (once as itself at its
        own event, once by the ANY advance at the next event), so such
        paths add 2 to freq — exactly the reference's behavior.

        Scale shape: same plan as the BM25 search path — pushed-down
        term IN seek, one shard-keyed exchange per cogroup side,
        per-shard kernel + TakeOrderedAndProject."""
        from lucene_solr_spark.index.codec import decode_position_lists

        step, accepts = query.det
        terms = list(query._id_terms)
        real = [t for t in terms if t is not None]
        if not real:
            return self._empty()
        if any(FIELD_SEP in t for t in real) or query.field:
            raise ValueError(
                "search_term_automaton supports the default field only"
            )
        dfs = self.term_dfs(sorted(set(real)))
        if all(dfs.get(t, 0) == 0 for t in real):
            return self._empty()
        idf_sum = np.float32(0.0)
        for t in real:
            idf_sum = np.float32(
                idf_sum + bm25.idf(dfs.get(t, 0), self.max_doc)
            )
        tid_of = {t: i for i, t in enumerate(terms) if t is not None}
        caches = dict(self._caches)
        accept_set = set(accepts)
        step_map = dict(step)

        def kernel(left, decoded, del_local, off):
            base, norms_map, lt, _d, _ = decoded
            doc_parts, pos_parts, tid_parts = [], [], []
            for t in sorted(set(real)):
                if t not in lt:
                    continue
                ps = lt.pos_stream(t)
                if ps is None:
                    raise ValueError(
                        "term-automaton queries need index_positions=True"
                    )
                d, tf = lt.full(t)
                pos_abs = decode_position_lists(ps, tf)
                doc_parts.append(np.repeat(d, tf))
                pos_parts.append(pos_abs)
                tid_parts.append(
                    np.full(int(tf.sum()), tid_of[t], np.int64)
                )
            if not doc_parts:
                return None
            ev_doc = np.concatenate(doc_parts)
            ev_pos = np.concatenate(pos_parts)
            ev_tid = np.concatenate(tid_parts)
            order = np.lexsort((ev_tid, ev_pos, ev_doc))
            ev_doc, ev_pos, ev_tid = (
                ev_doc[order], ev_pos[order], ev_tid[order]
            )
            any_id = query.any_id
            udocs, starts = np.unique(ev_doc, return_index=True)
            bounds = np.append(starts, len(ev_doc))
            out_docs, out_freqs = [], []
            for di in range(len(udocs)):
                lo, hi = bounds[di], bounds[di + 1]
                freq = 0
                positions: dict[int, list[int]] = {}
                last_pos = -1
                for ei in range(lo, hi):
                    pos = int(ev_pos[ei])
                    tid = int(ev_tid[ei])
                    if last_pos != -1 and any_id is not None:
                        start_last = last_pos
                        while last_pos < pos:
                            ps_states = positions.get(last_pos, ())
                            if not ps_states and last_pos > start_last:
                                last_pos = pos
                                break
                            nxt = positions.setdefault(last_pos + 1, [])
                            for st in ps_states:
                                ns = step_map.get((st, any_id))
                                if ns is not None:
                                    nxt.append(ns)
                            last_pos += 1
                    nxt = positions.setdefault(pos + 1, [])
                    for st in positions.get(pos, ()):
                        ns = step_map.get((st, tid))
                        if ns is not None:
                            nxt.append(ns)
                            if ns in accept_set:
                                freq += 1
                    ns = step_map.get((0, tid))
                    if ns is not None:
                        nxt.append(ns)
                        if ns in accept_set:
                            freq += 1
                    last_pos = pos
                if freq > 0:
                    out_docs.append(udocs[di])
                    out_freqs.append(freq)
            if not out_docs:
                return None
            docs = np.asarray(out_docs, np.int64)
            freqs = np.asarray(out_freqs, np.int64)
            if del_local is not None and len(del_local):
                m = ~np.isin(docs, del_local)
                docs, freqs = docs[m], freqs[m]
            if len(docs) == 0:
                return None
            nrm, cch = _nc(real[0], norms_map, caches)
            scores = bm25.score_term(
                freqs, nrm[docs - base], idf_sum, cch
            ).astype(np.float32)
            docs, scores = _topk_arrays(docs, scores, k)
            return pd.DataFrame({"doc_id": docs, "score": scores})

        # the automaton walks positions; payloads are never read
        per_shard = self._run_shards(
            real, [{"kind": "automaton", "terms": real}], kernel,
            "doc_id long, score float",
        )
        return self._top_hits(per_shard, k)

    def search_lm(
        self, query: Query, k: int | None = 10, model: str = "dirichlet",
        mu: float = 2000.0, lam: float = 0.1,
    ) -> DataFrame:
        """Language-model search (similarities/LMDirichletSimilarity.java
        mu=2000, LMJelinekMercerSimilarity.java lambda=0.1) behind the
        same pluggable-similarity seam as search_classic. Reuses the
        stored norm bytes (SimilarityBase.NORM_TABLE decodes the same
        byte315(1/sqrt(len)) encoding to a quantized docLen) and the
        dictionary's cf column (BasicStats.totalTermFreq); coord is
        disabled (Similarity.coord() default 1), so boolean sums are
        plain f64-accumulated f32 leaves like BM25. Supports
        Term / BooleanAnd / BooleanOr over the default field."""
        if model not in ("dirichlet", "jm"):
            raise ValueError("model must be 'dirichlet' or 'jm'")
        sim = self._simbase_conf(model, mu=mu, lam=lam)
        return self._search_similarity(query, k, sim, "search_lm")

    def search_dfr(
        self, query: Query, k: int | None = 10, c: float = 1.0,
        basic_model: str = "in", after_effect: str = "l",
        normalization: str = "h2", mu: float = 800.0, z: float = 0.30,
    ) -> DataFrame:
        """DFR search over the FULL model matrix
        (similarities/DFRSimilarity.java): basic_model in
        {be,d,g,if,in,ine,p}, after_effect in {b,l,none},
        normalization in {h1,h2,h3,z,none}; c parameterizes H1/H2, mu
        H3, z Z. Defaults = I(n)L2 (BasicModelIn + AfterEffectL +
        NormalizationH2(c=1)), bitwise the pre-matrix behavior — see
        functions/dfr.py for the per-component float discipline.
        Supports Term / BooleanAnd / BooleanOr over the default
        field."""
        sim = self._simbase_conf(
            "dfr", c=c, basic_model=basic_model, after_effect=after_effect,
            normalization=normalization, mu_h3=mu, z=z,
        )
        return self._search_similarity(query, k, sim, "search_dfr")

    def search_ib(
        self, query: Query, k: int | None = 10, c: float = 1.0,
        distribution: str = "spl", lam_kind: str = "df",
        normalization: str = "h2", mu: float = 800.0, z: float = 0.30,
    ) -> DataFrame:
        """IB search over the full matrix
        (similarities/IBSimilarity.java): distribution in {ll,spl},
        lam_kind in {df,ttf}, normalization as in search_dfr.
        Defaults = SPL-DF-H2, bitwise the pre-matrix behavior.
        Supports Term / BooleanAnd / BooleanOr over the default
        field."""
        sim = self._simbase_conf(
            "ib", c=c, distribution=distribution, lam_kind=lam_kind,
            normalization=normalization, mu_h3=mu, z=z,
        )
        return self._search_similarity(query, k, sim, "search_ib")

    def search_multi_sim(
        self, query: Query, k: int | None = 10,
        models: tuple[dict, ...] = ({"model": "dirichlet"},
                                    {"model": "dfr"}),
    ) -> DataFrame:
        """MultiSimilarity analog (similarities/MultiSimilarity.java:
        MultiSimScorer.score — an f32 RUNNING SUM of each sub-
        similarity's score for the same (doc, freq), composed per leaf
        before the boolean f64 accumulation). Each entry of `models`
        is a kwargs dict for _simbase_conf (e.g. {"model": "jm",
        "lam": 0.2}, {"model": "dfr", "basic_model": "g"}). Supports
        Term / BooleanAnd / BooleanOr over the default field."""
        sims = [self._simbase_conf(**m) for m in models]

        def weigh(clause_terms, stats):
            subs = [sm.weigh(clause_terms, stats) for sm in sims]

            def leaf(t, tf, nb, boost=1.0):
                acc = None
                for sub in subs:
                    v = sub[t][0](tf, nb, boost)
                    acc = v if acc is None else (acc + v).astype(np.float32)
                return acc

            return {t: (partial(leaf, t), {}) for t in clause_terms}

        sim = sims[0]._replace(weigh=weigh)
        return self._search_similarity(query, k, sim, "search_multi_sim")

    def _simbase_conf(
        self, model: str, mu: float = 2000.0, lam: float = 0.1,
        c: float = 1.0, basic_model: str = "in", after_effect: str = "l",
        normalization: str = "h2", distribution: str = "spl",
        lam_kind: str = "df", mu_h3: float = 800.0, z: float = 0.30,
    ) -> _Similarity:
        """_Similarity of a SimilarityBase flavor, from make_leaf(term,
        df, cf) -> f32 leaf scorer and detail(term, df, cf) -> the
        Explanation stats the reference's SimilarityBase.explain
        surfaces (BasicStats fill)."""
        from lucene_solr_spark.functions import dfr, lm

        field_tokens = int(self._field_stats[self._default_field])
        n = self.max_doc
        if model in ("dirichlet", "jm"):
            def make_leaf(term, df, cf):
                cp = lm.collection_probability(cf, field_tokens)
                if model == "dirichlet":
                    return lambda tf, nb, boost=1.0: lm.score_dirichlet(
                        tf, nb, mu, cp, boost
                    )
                return lambda tf, nb, boost=1.0: lm.score_jm(
                    tf, nb, lam, cp, boost
                )

            def detail(term, df, cf):
                d = {
                    "cf": cf,
                    "number_of_field_tokens": field_tokens,
                    "collection_probability": float(
                        lm.collection_probability(cf, field_tokens)
                    ),
                }
                d["mu" if model == "dirichlet" else "lambda"] = (
                    mu if model == "dirichlet" else lam
                )
                return d

            return _simbase_similarity(make_leaf, detail, model)
        avg = dfr.avg_field_length(field_tokens, n)
        if model == "dfr":
            def make_leaf(term, df, cf):
                return lambda tf, nb, boost=1.0: dfr.score_dfr(
                    tf, nb, df, cf, n, field_tokens, avg,
                    basic_model=basic_model, after_effect=after_effect,
                    normalization=normalization, c=c, mu=mu_h3, z=z,
                    boost=boost,
                )

            def detail(term, df, cf):
                return {"df": df, "cf": cf, "number_of_documents": n,
                        "avg_field_length": float(avg), "c": c,
                        "basic_model": basic_model.capitalize(),
                        "after_effect": after_effect.upper(),
                        "normalization": normalization.upper()}

            return _simbase_similarity(make_leaf, detail, model)
        if model == "ib":
            def make_leaf(term, df, cf):
                return lambda tf, nb, boost=1.0: dfr.score_ib(
                    tf, nb, df, cf, n, field_tokens, avg,
                    distribution=distribution, lam_kind=lam_kind,
                    normalization=normalization, c=c, mu=mu_h3, z=z,
                    boost=boost,
                )

            def detail(term, df, cf):
                lamv = (dfr.lambda_df(df, n) if lam_kind == "df"
                        else dfr.lambda_ttf(cf, n))
                return {"df": df, "cf": cf, "number_of_documents": n,
                        "avg_field_length": float(avg), "c": c,
                        "lambda_value": float(lamv),
                        "distribution": distribution.upper(),
                        "lambda": lam_kind.upper(),
                        "normalization": normalization.upper()}

            return _simbase_similarity(make_leaf, detail, model)
        raise ValueError(f"unknown SimilarityBase flavor {model!r}")

    def _classic_similarity(self) -> _Similarity:
        from lucene_solr_spark.functions import tfidf

        return self._tfidf_similarity(
            tfidf.score_term, tfidf.DECODE, "classic",
            "classic TF-IDF: sqrt(tf) * weightValue * decodeNorm "
            "per term, f64 sum, coord = overlap/maxOverlap on "
            "disjunctions (ClassicSimilarity)",
        )

    def _sweetspot_similarity(
        self, ln_min: int, ln_max: int, steepness: float, tf_base: float,
        tf_min: float,
    ) -> _Similarity:
        from lucene_solr_spark.functions import sweetspot

        table = sweetspot.sweet_norm_decode_table(ln_min, ln_max, steepness)
        tb, tm = float(tf_base), float(tf_min)

        def score_fn(tf_arr, nb, value):
            return sweetspot.score_term_sweet(tf_arr, nb, value, table, tb, tm)

        return self._tfidf_similarity(
            score_fn, table, "sweetspot",
            "SweetSpotSimilarity: baselineTf(tf) * weightValue * "
            "plateau-norm decode per term, f64 sum, coord on "
            "disjunctions (lucene/misc SweetSpotSimilarity)",
        )

    def _tfidf_similarity(
        self, score_fn, decode_table, name: str, description: str
    ) -> _Similarity:
        """DefaultSimilarity family (classic TF-IDF, SweetSpot): the
        shared idf / queryNorm chain over the clause terms in clause
        order, the leaf swapped via score_fn(tf, norm_bytes,
        weightValue) -> f32, coord on disjunctions."""
        from lucene_solr_spark.functions import tfidf

        n = self.max_doc

        def weigh(clause_terms, stats):
            idfs = [tfidf.idf(stats[t][0], n) for t in clause_terms]
            out = {}
            for t, i, v in zip(clause_terms, idfs, tfidf.term_values(idfs)):
                out[t] = (
                    lambda tf, nb, boost=1.0, v=v: score_fn(tf, nb, v),
                    {"df": stats[t][0], "idf": float(i),
                     "weight_value": float(v)},
                )
            return out

        return _Similarity(
            weigh, coord=True, trees=False,
            norm=("decoded_norm", decode_table), head={"similarity": name},
            description=description,
        )

    def _sim_weights(self, query: Query, sim: _Similarity, name: str,
                     trees: bool):
        """Driver half of a similarity query: the rewritten query and its
        spec, checked against the query classes the similarity accepts
        (Term / BooleanAnd / BooleanOr, plus nested boolean trees when
        `trees`), its per-term (leaf, explain stats) from the TermStates
        cache (BasicStats fill at createWeight time), and the
        `leaf_fn(term, tf, norm_bytes, boost)` _eval_tree plugs in."""
        q = rewrite(query)
        spec = self._spec(q)
        if not isinstance(q, _FLAT_QUERIES + (_NESTED_QUERIES if trees else ())):
            raise ValueError(
                f"{name} supports term/and/or and nested boolean queries"
                if trees else f"{name} supports term/and/or queries"
            )
        terms = list(spec["terms"])  # clause order
        if any(FIELD_SEP in t for t in terms):
            raise ValueError(f"{name} supports the default field only")
        if _tree_has_phrase(spec["tree"]):
            # SimilarityBase phrase stats need MultiStats averaging
            raise ValueError(
                "phrase leaves are BM25-only (pluggable-similarity "
                "trees support term/const/dismax/bool nodes)"
            )
        weights = sim.weigh(terms, self._term_states(terms))
        leaves = {t: w[0] for t, w in weights.items()}

        def leaf_fn(t, tf, nb, boost):
            return leaves[t](tf, nb, float(boost))

        return q, spec, weights, leaf_fn

    def _search_similarity(
        self, query: Query, k: int | None, sim: _Similarity, name: str
    ) -> DataFrame:
        """search() under a non-BM25 similarity: the same spec, seam and
        kernels (candidate-threaded AND, min_should_match, liveDocs,
        nested trees), with the similarity's leaf scorer and coord
        policy plugged into _score_spec."""
        _q, spec, _w, leaf_fn = self._sim_weights(query, sim, name, sim.trees)
        return self._search_spec(spec, k, leaf_fn=leaf_fn, coord=sim.coord)

    def explain_classic(self, query: Query, doc_id: int) -> dict:
        """Classic TF-IDF explain (TFIDFSimilarity.explainScore /
        IDFStats — the 6.0 default similarity's Explanation tree):
        per-term tf=sqrt(freq), idf, queryNorm-folded weightValue, the
        decoded norm, and the coord factor; root `score` recomposed
        through the SAME float chain as search_classic (f64 sum of f32
        leaves, coord multiply, one f32 cast) — bitwise the search
        score."""
        return self._explain_similarity(
            query, doc_id, self._classic_similarity(), "explain_classic"
        )

    def explain_sweetspot(
        self,
        query: Query,
        doc_id: int,
        ln_min: int = 1,
        ln_max: int = 1,
        steepness: float = 0.5,
        tf_base: float = 0.0,
        tf_min: float = 0.0,
    ) -> dict:
        """SweetSpotSimilarity explain — the classic Explanation tree
        with baselineTf leaves and the plateau-norm decode table;
        root score recomposes search_sweetspot bitwise (pinned in
        tests/test_sweetspot.py)."""
        sim = self._sweetspot_similarity(
            ln_min, ln_max, steepness, tf_base, tf_min
        )
        return self._explain_similarity(
            query, doc_id, sim, "explain_sweetspot"
        )

    def explain_simbase(
        self, query: Query, doc_id: int, model: str = "dirichlet",
        mu: float = 2000.0, lam: float = 0.1, c: float = 1.0,
        **matrix,
    ) -> dict:
        """Explain for the SimilarityBase family (SimilarityBase.java's
        explain + the per-similarity subs, e.g.
        LMDirichletSimilarity.explain:74-90): per-term leaf
        decomposition — tf, norm byte, decoded docLen, the BasicStats
        each flavor surfaces — with the root `score` recomposed through
        the SAME leaf closures as search_lm/search_dfr/search_ib, so
        it is bitwise the search score. Extra keyword args select DFR/
        IB matrix points exactly like search_dfr/search_ib
        (basic_model/after_effect/normalization/distribution/lam_kind/
        mu_h3/z)."""
        sim = self._simbase_conf(model, mu, lam, c, **matrix)
        return self._explain_similarity(query, doc_id, sim, "explain_simbase")

    def _explain_similarity(
        self, query: Query, doc_id: int, sim: _Similarity, name: str
    ) -> dict:
        """Term/and/or explain under a non-BM25 similarity: per-term tf,
        norm byte + its decode, the similarity's stats and the leaf
        score; the root `score` is the doc's entry in the same
        _eval_tree evaluation search runs (same leaves, coord,
        min_should_match), so it is bitwise the search score."""
        q, spec, weights, leaf_fn = self._sim_weights(
            query, sim, name, trees=False
        )
        kind = ("or" if isinstance(q, BooleanOr)
                else "and" if isinstance(q, BooleanAnd) else "term")
        clause_terms = list(spec["terms"])
        no = {"doc_id": int(doc_id), "match": False, "score": 0.0,
              **sim.head, "terms": []}
        at = self._locate(doc_id)
        if isinstance(at, str):
            return {**no, "description": at}
        _dm, shard, local = at
        base, norms_map, lt, _dfs, _ = self._decode_doc_shard(spec, shard)
        if not lt.rows:
            return {**no, "description": "no query term in this shard"}
        nb = np.array([norms_map[""][local - base]], np.uint8)
        norm_key, decode = sim.norm
        nodes, overlap = [], 0
        for t in clause_terms:
            leaf, stats = weights[t]
            tf = lt.tf_at(t, local)
            node = {"term": t, "tf": tf, "norm_byte": int(nb[0]),
                    norm_key: float(decode[nb[0]]), **stats,
                    "leaf_score": 0.0}
            if tf > 0:
                node["leaf_score"] = float(leaf(np.array([tf]), nb)[0])
                overlap += 1
            nodes.append(node)
        d, s = _eval_tree(
            spec["tree"], lt, base, norms_map, {}, dict(self._caches),
            leaf_fn=leaf_fn, coord=sim.coord,
        )
        p = int(np.searchsorted(d, local))
        hit = p < len(d) and d[p] == local
        coord = np.float32(1.0)
        if sim.coord and kind == "or":
            coord = np.float32(
                np.float32(overlap) / np.float32(len(clause_terms))
            )
        return {
            "doc_id": int(doc_id),
            "match": bool(hit),
            "score": float(s[p]) if hit else 0.0,
            **sim.head,
            "kind": kind,
            "coord": float(coord),
            "terms": nodes,
            "description": sim.description,
        }

    def search_many(
        self, queries: dict[str, Query], k: int = 10, prune: bool = True
    ) -> DataFrame:
        """Batch search: evaluate MANY queries in ONE Spark job.

        Returns (qid string, doc_id long, score float), per-query
        ordered score desc / doc_id asc, top-k each. The per-shard
        stage decodes each matched posting list ONCE and scores every
        query against it (Solr's query-result-cache economy, without
        the cache); per-query top-k happens shard-side (bounded rows:
        shards x k x |queries|), the global cut is a tiny window — or,
        on the driver tier (see _run_shards), a per-qid numpy top-k
        computed inside this call, with no Spark job at all."""
        from pyspark.sql import Window

        specs = {qid: self._spec(rewrite(q)) for qid, q in queries.items()}
        all_terms = sorted({t for s in specs.values() for t in s["terms"]})
        caches = dict(self._caches)
        max_doc = self.max_doc
        prune_min = self.prune_min

        def kernel(left, decoded, deleted, off):
            idfs = {t: bm25.idf(d, max_doc) for t, d in decoded[3].items()}
            outs = []
            for qid, spec in specs.items():
                r = _score_spec(
                    left, decoded, spec, idfs, caches, k, prune, deleted,
                    prune_min,
                )
                r.insert(0, "qid", qid)
                outs.append(r)
            return pd.concat(outs, ignore_index=True)

        schema = "qid string, doc_id long, score float"
        per_shard = self._run_shards(
            all_terms, list(specs.values()), kernel, schema
        )
        if isinstance(per_shard, pd.DataFrame):
            merged = [
                _merge_topk(rows, k).assign(qid=qid)
                for qid, rows in per_shard.groupby("qid", sort=True)
            ]
            return self._frame(
                pd.concat(merged, ignore_index=True) if merged
                else per_shard, schema,
            )
        w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            per_shard.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .drop("rn")
            .orderBy("qid", F.desc("score"), F.asc("doc_id"))
        )

    def _empty(self) -> DataFrame:
        schema = "doc_id long, score float"
        return self._frame(_no_rows(schema), schema)

    def _search_constant(self, q, k: int | None) -> DataFrame:
        """CONSTANT_SCORE multi-term rewrite (MultiTermQuery.java:68-94):
        expand against the dictionary with a pushed-down term predicate,
        union the matching doc sets, score 1.0, order docID asc.

        With max_expansions set, the df-bounded top-terms rewrite runs
        first (driver-side tiny list) and the postings scan filters to
        those terms — the TopTermsRewrite-to-constant-score path."""
        pre = self._mtq_prefix(q)
        frame, cond = self._mtq_scan(q, pre)
        if getattr(q, "max_expansions", None):
            top = self._expand_top_terms(cond, q.max_expansions, frame)
            if not top:
                return self._empty()
            matched = self._postings.where(F.col("term").isin(top))
        elif frame is not self._term_stats:
            # reversed-dictionary path: seek the rterm-sorted dict for
            # the matching vocabulary (pushed-down prefix range), then
            # LEFT SEMI it into postings — the postings scan filters on
            # `term IN (dictionary hits)` (AQE broadcasts the small
            # side) instead of regex-evaluating every posting row
            matched = self._postings.join(
                frame.where(cond).select("term"), "term", "left_semi"
            )
        else:
            matched = self._postings.where(cond)
        offsets = dict(self._doc_offsets)
        codec = self._codec

        def dec(batches):
            for pdf in batches:
                outs = []
                for row in pdf.itertuples(index=False):
                    d, _t = decode_posting_list(
                        bytes(row.doc_enc), bytes(row.tf_enc), int(row.df),
                        codec=codec,
                    )
                    outs.append(d + offsets.get(int(row.shard), 0))
                if outs:
                    yield pd.DataFrame({"doc_id": np.unique(np.concatenate(outs))})

        docs = matched.select("shard", "df", "doc_enc", "tf_enc").mapInPandas(
            dec, "doc_id long"
        ).distinct()
        docs = self._drop_deleted(docs)
        out = (
            docs.withColumn("score", F.lit(1.0).cast("float"))
            .orderBy("doc_id")
        )
        return out if k is None else out.limit(k)

    def termfreq_rows(self, term: str) -> DataFrame:
        """termfreq(field, term) function-query analog (lucene/queries/
        .../function/valuesource/TermFreqValueSource.java): the raw
        per-document tf of ONE term as a value source — a pushed-down
        single-term postings seek decoded distributedly (mapInPandas
        over the term's posting blocks, one row group per shard), no
        similarity weighting. Docs that lack the term are absent (the
        reference's value source yields 0 for them; the frame is the
        posting-list projection a sort-by-termfreq consumes). Deleted
        docs are anti-joined away like every other read path."""
        matched = self._postings.where(F.col("term") == term)
        offsets = dict(self._doc_offsets)
        codec = self._codec

        def dec(batches):
            for pdf in batches:
                for row in pdf.itertuples(index=False):
                    d, t = decode_posting_list(
                        bytes(row.doc_enc), bytes(row.tf_enc), int(row.df),
                        codec=codec,
                    )
                    yield pd.DataFrame(
                        {"doc_id": d + offsets.get(int(row.shard), 0),
                         "tf": t}
                    )

        out = matched.select("shard", "df", "doc_enc", "tf_enc").mapInPandas(
            dec, "doc_id long, tf long"
        )
        return self._drop_deleted(out)

    def payload_rows(self, term: str, fn: str = "max") -> DataFrame:
        """PayloadTermQuery analog (core/.../search/payloads/
        PayloadTermQuery.java:108-181 with includeSpanScore=false):
        per-document aggregate of the float payloads at the term's
        match positions, as written by the delimited_payload chain
        (FloatEncoder 4-byte payloads; the payload factor is
        PayloadHelper.decodeFloat, the canonical payload-scoring
        similarity hook). `fn` picks the PayloadFunction:
        'max'/'min'/'avg'/'sum' per MaxPayloadFunction.java:31-38,
        MinPayloadFunction.java, AveragePayloadFunction.java:30-37
        (sum = Average's currentScore without the final division).
        Positions whose token carried no payload are skipped
        (payloadsSeen does not advance — DelimitedPayloadTokenFilter
        leaves payAtt null); a matching doc with NO payloads seen
        scores the reference's default docScore = 1.

        Distributed exactly like termfreq_rows: pushed-down
        single-term postings seek, mapInPandas decode of the
        (doc, tf, pay) blocks — the .pay stream is raw <f4 aligned
        1:1 with the position stream, so per-doc runs are delimited
        by the tf counts. max/min are bitwise f32-exact; avg/sum
        accumulate in f64 and cast (documented deviation: the
        reference adds sequentially in f32 — last-ULP differences
        possible)."""
        if "pay_enc" not in self._postings.columns:
            raise ValueError(
                "index has no .pay stream — build with "
                "IndexConfig(index_payloads=True, index_positions=True, "
                "analyzer='delimited_payload')"
            )
        if fn not in ("max", "min", "avg", "sum"):
            raise ValueError(f"unknown payload function: {fn}")
        matched = self._postings.where(F.col("term") == term)
        offsets = dict(self._doc_offsets)
        codec = self._codec

        def dec(batches):
            for pdf in batches:
                for row in pdf.itertuples(index=False):
                    d, t = decode_posting_list(
                        bytes(row.doc_enc), bytes(row.tf_enc), int(row.df),
                        codec=codec,
                    )
                    if row.pay_enc is None:
                        score = np.ones(len(d), np.float32)
                    else:
                        pay = np.frombuffer(bytes(row.pay_enc), "<f4")
                        starts = np.cumsum(t) - t
                        isnan = np.isnan(pay)
                        seen = np.add.reduceat(
                            (~isnan).astype(np.int64), starts
                        )
                        if fn == "max":
                            agg = np.maximum.reduceat(
                                np.where(isnan, -np.inf, pay), starts
                            ).astype(np.float32)
                        elif fn == "min":
                            agg = np.minimum.reduceat(
                                np.where(isnan, np.inf, pay), starts
                            ).astype(np.float32)
                        else:
                            s = np.add.reduceat(
                                np.where(isnan, 0.0, pay.astype(np.float64)),
                                starts,
                            )
                            if fn == "avg":
                                s = s / np.maximum(seen, 1)
                            agg = s.astype(np.float32)
                        score = np.where(
                            seen > 0, agg, np.float32(1.0)
                        ).astype(np.float32)
                    yield pd.DataFrame(
                        {"doc_id": d + offsets.get(int(row.shard), 0),
                         "score": score}
                    )

        out = matched.select(
            "shard", "df", "doc_enc", "tf_enc", "pay_enc"
        ).mapInPandas(dec, "doc_id long, score float")
        return self._drop_deleted(out)

    def payload_score_topk(
        self, term: str, k: int = 10, fn: str = "max"
    ) -> DataFrame:
        """Top-k docs by payload score (PayloadTermQuery ranking; global
        top-k is a TakeOrderedAndProject over payload_rows, ties break
        by doc asc like every collector in this engine)."""
        return (
            self.payload_rows(term, fn=fn)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(int(k))
        )

    def search_boosting(
        self, match: Query, context: Query, boost: float, k: int | None = 10
    ) -> DataFrame:
        """BoostingQuery analog (queries/BoostingQuery.java:34-88):
        rank by `match`; docs that ALSO match `context` have their
        score multiplied by `boost` (f32 multiply, exactly the
        reference's matchScorer.score() * boost); context-only matches
        never appear (the context weight scores nothing). boost < 1 is
        the canonical soft-NOT.

        Distributed: full sorted export of the match query (k=None
        path), context match SET via the same engine, one doc_id
        left join (AQE picks broadcast when the context set is small),
        then a TakeOrderedAndProject for the global top-k."""
        m = self.search(match, k=None)
        c = self.search(context, k=None).select(
            F.col("doc_id").alias("_ctx_doc")
        )
        out = (
            m.join(c, m["doc_id"] == c["_ctx_doc"], "left")
            .select(
                "doc_id",
                F.when(
                    F.col("_ctx_doc").isNotNull(),
                    (F.col("score").cast("float")
                     * F.lit(float(np.float32(boost)))).cast("float"),
                )
                .otherwise(F.col("score").cast("float"))
                .alias("score"),
            )
        )
        out = out.orderBy(F.desc("score"), F.asc("doc_id"))
        return out if k is None else out.limit(int(k))

    def explain_payload(self, term: str, doc_id: int, fn: str = "max") -> dict:
        """PayloadTermQuery explain (PayloadTermQuery.java:196-213 with
        includeSpanScore=false: 'btq, result of: <PayloadFunction
        explain>'): the per-doc payload list at the term's match
        positions, the function fold, and the docScore — recomposed
        bitwise equal to payload_rows' score for the doc. Returns
        {} when the doc does not match (Explanation.noMatch)."""
        row = (
            self.payload_rows(term, fn=fn)
            .where(F.col("doc_id") == int(doc_id))
            .collect()
        )
        if not row:
            return {}
        score = np.float32(row[0].score)
        # re-derive the payload list for the explanation body
        pays: list[float] = []
        post = (
            self._postings.where(F.col("term") == term)
            .select("shard", "df", "doc_enc", "tf_enc", "pay_enc")
            .collect()
        )
        for r in post:
            d, t = decode_posting_list(
                bytes(r.doc_enc), bytes(r.tf_enc), int(r.df),
                codec=self._codec,
            )
            off = self._doc_offsets.get(int(r.shard), 0)
            hit = np.nonzero(d + off == int(doc_id))[0]
            if len(hit) == 0 or r.pay_enc is None:
                continue
            pay = np.frombuffer(bytes(r.pay_enc), "<f4")
            starts = np.cumsum(t) - t
            i = int(hit[0])
            seg = pay[starts[i]: starts[i] + int(t[i])]
            pays.extend(float(v) for v in seg[~np.isnan(seg)])
        return {
            "value": float(score),
            "description": f"btq(includeSpanScore=false), {fn} of payloads:",
            "payloads_seen": len(pays),
            "payloads": pays,
            "default_applied": len(pays) == 0,
        }

    def _expand_fuzzy(self, q: FuzzyQuery) -> list[str]:
        """Dictionary expansion by edit distance, distributed over the
        term dict — the FuzzyTermsEnum automaton-intersection analog
        (FuzzyQuery.java:54).

        With transpositions (the reference default, FuzzyQuery.java:59)
        the distance is the restricted-Damerau DP the reference pins
        its automata against (TestLevenshteinAutomata.java:333),
        computed by an Arrow-batched pandas UDF — but only on the few
        terms that survive a JVM-side pre-filter (length delta <= d
        and classic levenshtein <= 2d; sound because a transposition
        costs at most two classic edits).  Without transpositions it is
        the JVM `levenshtein` end to end.

        Bounded like the reference's default rewrite
        (TopTermsBlendedFreqScoringRewrite, maxExpansions=50): terms
        ranked by edit distance asc (closest first ≙ highest boost),
        then df desc, then term asc; only the top max_expansions
        survive. The top-n runs distributed — the driver never holds
        more than max_expansions terms."""
        cap = int(getattr(q, "max_expansions", 50) or 50)
        pre = self._mtq_prefix(q)
        # prefixLength (FuzzyQuery.java:75, FuzzyTermsEnum.java:118):
        # candidates must share the first prefix_length chars exactly;
        # the edit distance applies to the SUFFIX only. A prefix longer
        # than the term clamps to the term (realPrefixLength).
        plen = max(0, min(int(getattr(q, "prefix_length", 0) or 0),
                          len(q.term)))
        qterm = q.term
        if plen:
            pre = pre + qterm[:plen]
            qterm = qterm[plen:]
        if pre:
            scope = F.col("term").startswith(pre)
            token = F.substring(F.col("term"), len(pre) + 1, 2**30)
        else:
            scope = ~F.col("term").contains(FIELD_SEP)
            token = F.col("term")
        if getattr(q, "transpositions", True):
            from ..functions.editdist import transposition_distance_udf

            classic = F.levenshtein(token, F.lit(qterm))
            pre_ok = (
                (F.abs(F.length(token) - F.lit(len(qterm))) <= q.max_edits)
                & (classic <= 2 * q.max_edits)
            )
            tdist = transposition_distance_udf(qterm)
            cand = (
                self._term_stats.where(scope & pre_ok)
                .select("term", tdist(token).alias("dist"), "df")
                .where(F.col("dist") <= q.max_edits)
            )
        else:
            dist = F.levenshtein(token, F.lit(qterm))
            cand = self._term_stats.where((dist <= q.max_edits) & scope).select(
                "term", dist.alias("dist"), "df"
            )
        rows = (
            cand.orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
            .limit(cap)
            .collect()
        )
        return [r.term for r in rows]

    def _search_field_value(self, q: FieldValueQuery, k: int | None) -> DataFrame:
        """FieldValueQuery analog (search/FieldValueQuery.java): docs
        with at least one indexed token in the field. Witness = a
        nonzero norm byte (norms exist only for length>0 fields,
        DefaultIndexingChain.java:558; smallfloat maps length 0 to
        byte 0). Runs over the tiny norms table — one row per
        (shard, field), each task emits base + nonzero byte offsets;
        no postings are touched. Constant score 1.0, docID asc."""
        field = q.field if q.field is not None else self._default_field
        if field != self._default_field and field not in self._field_stats:
            raise KeyError(
                f"field {field!r} is not indexed (have "
                f"{sorted(self._field_stats)})"
            )
        norms = self._norms
        if "field" in norms.columns:
            # null field = pre-multi-field base generation (default field)
            fcol = F.coalesce(F.col("field"), F.lit(self._default_field))
            norms = norms.where(fcol == field)
        elif field != self._default_field:
            return self._empty()
        offsets = dict(self._doc_offsets)

        def emit(batches):
            for pdf in batches:
                outs = []
                for row in pdf.itertuples(index=False):
                    nb = np.frombuffer(row.norms, np.uint8)
                    local = np.flatnonzero(nb).astype(np.int64)
                    outs.append(
                        local + int(row.base)
                        + offsets.get(int(row.shard), 0)
                    )
                if outs:
                    yield pd.DataFrame({"doc_id": np.concatenate(outs)})

        docs = norms.select("shard", "base", "norms").mapInPandas(
            emit, "doc_id long"
        )
        docs = self._drop_deleted(docs)
        out = (
            docs.withColumn("score", F.lit(1.0).cast("float"))
            .orderBy("doc_id")
        )
        return out if k is None else out.limit(k)

    @staticmethod
    def _after_df(hits: DataFrame, cursor, k: int | None) -> DataFrame:
        """DataFrame-level searchAfter predicate for the constant-score
        paths (the spec-based path filters inside the kernels)."""
        if cursor is not None:
            s32 = float(np.float32(cursor[0]))
            hits = hits.where(
                (F.col("score") < s32)
                | ((F.col("score") == s32)
                   & (F.col("doc_id") > int(cursor[1])))
            ).orderBy(F.desc("score"), F.asc("doc_id"))
        return hits if k is None else hits.limit(k)

    def search_after(
        self,
        query: Query,
        k: int = 10,
        after_score: float | None = None,
        after_doc: int | None = None,
        prune: bool = True,
    ) -> DataFrame:
        """Keyset paging (IndexSearcher.searchAfter, TopScoreDocCollector
        .java:87-121): resume strictly after the (score, docID) cursor in
        the global (score desc, docID asc) order. The cursor threads into
        the per-shard collectors (not a post-filter over a full re-score),
        so block-max pruning engages against page-N's own heap floor."""
        if after_score is None:
            return self.search(query, k=k, prune=prune)
        return self.search(
            query, k=k, prune=prune,
            cursor=(float(np.float32(after_score)), int(after_doc)),
        )

    def _locate(self, doc_id: int):
        """(doc_map row, shard, generation-local docID) of `doc_id`, or
        the reason it cannot match: "no such doc" / "doc is deleted
        (liveDocs)" — the explain preamble."""
        dmr = self.doc_map().where(F.col("doc_id") == int(doc_id)).collect()
        if not dmr:
            return "no such doc"
        dm = dmr[0]
        shard = int(dm.shard)
        if self._has_tombstones() and (
            self.deleted_df().where(F.col("doc_id") == int(doc_id)).count()
        ):
            return "doc is deleted (liveDocs)"
        return dm, shard, int(doc_id) - int(self._doc_offsets.get(shard, 0))

    def _decode_doc_shard(self, spec: dict, shard: int):
        """_decode_shard of ONE shard's posting rows for the spec's terms
        (the explain slow path: the seam's seek + column pruning,
        collected to the driver)."""
        m = self._matched(sorted(set(spec["terms"]))).drop(
            *_unread_columns([spec])
        )
        pdf = m.where(F.col("shard") == shard).toPandas()
        nr = (
            self._norms_for_query(None)
            .where(F.col("shard") == shard)
            .toPandas()
        )
        return _decode_shard(pdf, nr, self._default_field, self._codec)

    def explain(self, query: Query, doc_id: int) -> dict:
        """IndexSearcher.explain analog (IndexSearcher.java:561-588,
        BM25Similarity.explain:244-268): decompose `doc_id`'s score for
        `query` with the SAME kernels as search, so the returned `score`
        is bitwise the search score. `details` is always `[root]`:
        every boolean shape (term, AND, OR, NOT, req+opt, dismax,
        nested trees) and phrase recurses clause-by-clause through
        _explain_node (each sub-node evaluated by the identical
        _eval_tree kernel and boost cascade), down to term leaves with
        field, global df, f32 idf, boost-folded weightValue, tf, norm
        byte, norm cache, avgdl and leaf score; multi_phrase explains
        as one leaf via _eval_multi_phrase; span queries as one leaf
        via eval_spans (node tree, scoring terms, idf sum). Slow path
        by design: decodes just the (term, shard-of-doc) posting
        rows."""
        spec = self._spec(rewrite(query))
        kind = spec["kind"]

        at = self._locate(doc_id)
        if isinstance(at, str):
            return {"doc_id": int(doc_id), "match": False, "score": 0.0,
                    "description": at}
        dm, shard, local = at

        _base, norms_map, lt, dfs, _ = self._decode_doc_shard(spec, shard)
        # the kernels see the shard's terms only, as in search
        idfs = {t: bm25.idf(d, self.max_doc) for t, d in dfs.items()}
        if kind == "spans":
            from lucene_solr_spark.search.spans import (
                _resolve,
                _scoring_terms,
                eval_spans,
            )

            d, s = eval_spans(
                spec["node"], lt, _base, norms_map, idfs,
                dict(self._caches),
            )
            p = int(np.searchsorted(d, local))
            hit = p < len(d) and d[p] == local
            resolved = _resolve(spec["node"], lt)
            sterms = (
                sorted(set(_scoring_terms(resolved)))
                if resolved is not None else []
            )
            idf_sum = np.float32(0.0)
            for t in sterms:
                if t in idfs:
                    idf_sum = np.float32(idf_sum + idfs[t])
            root = {
                "kind": "spans",
                "match": bool(hit),
                "score": float(s[p]) if hit else 0.0,
                "node": spec["node"],
                "scoring_terms": sterms,
                "idf_sum": float(idf_sum),
                "description": (
                    "spans: freq = sum of slop factors 1/(1+width) "
                    "over the enumerated spans (SpanScorer), idf = "
                    "f32 sum over the scoring terms (exclude sides "
                    "never score)"
                ),
            }
        elif kind == "multi_phrase":
            d, s = _eval_multi_phrase(
                spec["positions"], lt, _base, norms_map,
                np.float32(spec["idf_sum"]), dict(self._caches),
            )
            p = int(np.searchsorted(d, local))
            hit = p < len(d) and d[p] == local
            root = {
                "kind": "multi_phrase",
                "match": bool(hit),
                "score": float(s[p]) if hit else 0.0,
                "positions": [list(a) for a in spec["positions"]],
                "idf_sum": float(spec["idf_sum"]),
                "description": (
                    "multi-phrase: BM25 over matching start "
                    "positions, idf = f32 sum over indexed terms"
                ),
            }
        else:
            node = (
                spec["tree"]
                if kind == "tree"
                else {"kind": "phrase", "terms": spec["terms"],
                      "slop": spec.get("slop", 0)}
            )
            # leaf statistics from the driver's TermStates cache, so a
            # leaf absent from this shard still reports its global df
            gdfs = self.term_dfs(sorted(set(spec["terms"])))
            leaf_stats = {}
            for t, df in gdfs.items():
                f = _field_key(t) or self._default_field
                leaf_stats[t] = {
                    "field": f,
                    "df": int(df),
                    "idf": float(bm25.idf(df, self.max_doc)) if df else 0.0,
                    "avgdl": float(bm25.avgdl(
                        int(self._field_stats[f]), self.max_doc)),
                }
            root = _explain_node(
                node, lt, _base, norms_map, idfs, dict(self._caches),
                local, leaf_stats,
            )
        return {
            "doc_id": int(doc_id),
            "match": root["match"],
            "score": root["score"],
            "description": root.get("description", kind),
            "doc_len": int(dm.doc_len),
            "details": [root],
        }

    def diversified_topk(
        self,
        query: Query,
        keys_df: DataFrame,
        key_col: str,
        k: int = 10,
        max_per_key: int = 1,
    ) -> DataFrame:
        """DiversifiedTopDocsCollector analog (lucene/misc/.../search/
        DiversifiedTopDocsCollector.java:29-160): global top-k with at
        most `max_per_key` hits per key — e.g. a marketplace search
        capped at 3 results per retailer.

        The reference's single-pass PQ keeps, at every step, exactly
        the per-key top-max_per_key members of the global queue (an
        addition must be globally AND key-locally competitive, evicting
        its key's weakest global member — insert():113-160). The fixed
        point of that invariant is order-free: rank each key's hits by
        (score desc, docID asc), keep the first max_per_key, take the
        global top-k of the survivors. One key-partitioned window over
        the key-joined match set — the window shuffle keys on `key_col`
        so per-key capping is local to one partition at any scale;
        scores are the engine's bitwise-f32 BM25.

        `keys_df` must carry (doc_id, `key_col`) — the key lives in
        stored fields / docvalues, not the postings (the reference
        pulls it from NumericDocValues at collect time, :84)."""
        from pyspark.sql import Window

        hits = self.search(query, k=None)
        keyed = hits.join(
            keys_df.select(F.col("doc_id").cast("long").alias("doc_id"),
                           key_col),
            "doc_id",
        )
        w = Window.partitionBy(key_col).orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            keyed.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= int(max_per_key))
            .drop("_rn")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def rerank(
        self,
        query: Query,
        rq: Query,
        rerank_docs: int = 200,
        rerank_weight: float = 2.0,
        k: int = 10,
    ) -> DataFrame:
        """Two-phase rerank (solr/core/.../search/ReRankQParserPlugin
        .java ReRankCollector): the main query's top `rerank_docs` hits
        (score desc, docID asc) are rescored as
        new = f32(orig + f32(rerank_weight) * rq_score) for docs also
        matching `rq` (non-matching docs keep their original score),
        then the reordered top-k is returned. The rerank query runs
        once as a full scored set and joins by docID — no per-doc
        re-execution."""
        top = self.search(query, k=rerank_docs)
        rqs = self.search(rq, k=None).withColumnRenamed("score", "rq_score")
        # combine in f64, cast f32 (deterministic regardless of engine
        # float-promotion rules; ReRankCollector combines in float)
        w = F.lit(float(rerank_weight))
        rescored = (
            top.join(rqs, "doc_id", "left")
            .withColumn(
                "score",
                (
                    F.col("score").cast("double")
                    + w * F.coalesce(
                        F.col("rq_score").cast("double"), F.lit(0.0)
                    )
                ).cast("float"),
            )
            .drop("rq_score")
        )
        return rescored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def highlight(
        self,
        query: Query,
        docs: DataFrame,
        k: int = 10,
        text_col: str | None = None,
        id_col: str | None = None,
        pre: str = "<em>",
        post: str = "</em>",
        window: int = 2,
        prune: bool = True,
        max_passages: int = 1,
        phrase_aware: bool = True,
    ) -> DataFrame:
        """Snippet highlighting for the query's top-k docs
        (lucene/highlighter PostingsHighlighter semantics): candidate
        passages are the ±`window` display-token spans centered on
        each matching token; each passage scores the f64 sum of the
        f32 BM25 idfs of the matching tokens it contains (the
        PassageScorer term-weight ranking, PostingsHighlighter.java:
        97,221-268 — unique-term idf weighting over the passage), and
        the best `max_passages` NON-OVERLAPPING passages are returned
        (selection score desc, earlier center wins ties —
        PostingsHighlighter.java:221's maxPassages / Solr hl.snippets),
        emitted in document order joined by "... " (the default
        PassageFormatter separator), every matching token inside
        wrapped pre/post.
        `docs` supplies the stored text (stored fields live in the
        source table; the index stores postings only — Solr's phase-2
        fetch). Matching = the display token's analyzed form is a
        query term (default field only).

        Phrase awareness (FastVectorHighlighter parity —
        lucene/highlighter/.../vectorhighlight/FieldPhraseList.java:
        an exact PhraseQuery only highlights COMPLETE phrase
        occurrences): when the query is an exact phrase and
        `phrase_aware` (default), only display tokens inside a full
        consecutive-position match of the phrase are marked/scored —
        an isolated occurrence of one phrase term stays unhighlighted.
        Sloppy phrases, multi-phrases and boolean trees keep the
        per-term (PostingsHighlighter) behavior.
        Returns (doc_id=key, score, snippet)."""
        from lucene_solr_spark.analysis.analyzers import ANALYZERS

        cfg = self.manifest["config"]
        text_col = text_col or cfg.get("text_col", "text")
        id_col = id_col or cfg.get("id_col", "doc_id")
        spec = self._spec(rewrite(query))
        terms = frozenset(
            t for t in spec["terms"] if FIELD_SEP not in t
        )
        dfs = self.term_dfs(sorted(terms))
        max_doc = self.max_doc
        idfs = {
            t: float(bm25.idf(dfs[t], max_doc)) for t in terms if t in dfs
        }
        analyzer = ANALYZERS[cfg["analyzer"]]
        w = int(window)
        phrase_seq = None
        if (
            phrase_aware
            and spec["kind"] == "phrase"
            and int(spec.get("slop", 0)) == 0
            and all(FIELD_SEP not in t for t in spec["terms"])
        ):
            phrase_seq = list(spec["terms"])

        hits = self.search_with_keys(query, k=k, prune=prune)
        src = docs.select(
            F.col(id_col).alias("key"), F.col(text_col).alias("__text")
        )
        joined = hits.join(src, "key")

        @F.pandas_udf("string")
        def snip(texts: pd.Series) -> pd.Series:
            out = []
            for text in texts:
                toks = (text or "").split()
                ana = analyzer(pd.Series(toks))
                if phrase_seq is not None:
                    # FieldPhraseList: mark only complete phrase
                    # matches at consecutive positions (stop holes
                    # advance the counter, so an intervening stop
                    # word breaks adjacency — exactly the index's
                    # position stream)
                    flat = []  # (pos, display index, term)
                    p = 0
                    for i, a in enumerate(ana):
                        if a is None or len(a) == 0:
                            p += 1
                            continue
                        for t in a:
                            flat.append((p, i, t))
                            p += 1
                    L = len(phrase_seq)
                    m_idf = [0.0] * len(toks)
                    for j in range(len(flat) - L + 1):
                        if all(
                            flat[j + m][2] == phrase_seq[m]
                            and flat[j + m][0] == flat[j][0] + m
                            for m in range(L)
                        ):
                            for m in range(L):
                                _, di, tt = flat[j + m]
                                m_idf[di] = idfs.get(tt, 0.0)
                else:
                    m_idf = [
                        idfs.get(a[0], 0.0)
                        if (a is not None and len(a)) else 0.0
                        for a in ana
                    ]
                centers = [i for i, v in enumerate(m_idf) if v > 0.0]
                if not centers:
                    out.append(" ".join(toks[: 2 * w + 1]))
                    continue
                # rank passages: f64 idf sum over matches in the span,
                # score desc, earlier center wins ties; greedily keep
                # the top max_passages non-overlapping spans
                scored = sorted(
                    (
                        -sum(
                            m_idf[j]
                            for j in range(
                                max(0, i - w), min(i + w + 1, len(toks))
                            )
                        ),
                        i,
                    )
                    for i in centers
                )
                chosen: list[int] = []
                for _, i in scored:
                    if len(chosen) >= int(max_passages):
                        break
                    if all(abs(i - c) > 2 * w for c in chosen):
                        chosen.append(i)
                parts = []
                for c in sorted(chosen):  # document order in the output
                    lo, hi = max(0, c - w), c + w + 1
                    parts.append(
                        " ".join(
                            f"{pre}{toks[i]}{post}" if m_idf[i] > 0.0
                            else toks[i]
                            for i in range(lo, min(hi, len(toks)))
                        )
                    )
                out.append("... ".join(parts))
            return pd.Series(out, dtype="object")

        return (
            joined.withColumn("snippet", snip(F.col("__text")))
            .select(F.col("key").alias("doc_id"), "score", "snippet")
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )

    def mlt_terms(self, text: str, max_query_terms: int = 10) -> list[str]:
        """MoreLikeThis term extraction (queries/.../mlt/MoreLikeThis
        .java:140): analyze the text, rank its terms by tf * idf with
        the classic idf = ln(numDocs/docFreq) + 1 (TFIDFSimilarity),
        keep the top max_query_terms (score desc, term asc)."""
        import math

        from lucene_solr_spark.analysis.analyzers import ANALYZERS

        toks = ANALYZERS[self.manifest["config"]["analyzer"]](pd.Series([text]))[0]
        tf: dict[str, int] = {}
        for t in toks:
            tf[t] = tf.get(t, 0) + 1
        dfs = self.term_dfs(sorted(tf))
        scored = []
        for t, f_ in tf.items():
            df = dfs.get(t, 0)
            if df == 0:
                continue
            idf = math.log(self.max_doc / df) + 1.0
            scored.append((-f_ * idf, t))
        scored.sort()
        return [t for _, t in scored[:max_query_terms]]

    def mlt_interesting_terms(
        self, text: str, max_query_terms: int = 10
    ) -> DataFrame:
        """mlt.interestingTerms=details analog (solr/core/.../handler/
        MoreLikeThisHandler.java InterestingTerm +
        MoreLikeThis.retrieveInterestingTerms): the ranked term table
        MLT builds its query from — (term, tf, df, qscore) with
        qscore = tf * (ln(numDocs/df) + 1), the same classic-idf
        ranking as mlt_terms, qscore desc / term asc.

        Like the reference, this runs over ONE document's analyzed
        terms (a per-query, bounded working set — Lucene walks the doc's
        term vector through a PriorityQueue on the searching node), so
        the small result frame is created driver-side by design."""
        import math

        from lucene_solr_spark.analysis.analyzers import ANALYZERS

        toks = ANALYZERS[self.manifest["config"]["analyzer"]](
            pd.Series([text])
        )[0]
        tf: dict[str, int] = {}
        for t in toks:
            tf[t] = tf.get(t, 0) + 1
        dfs = self.term_dfs(sorted(tf))
        rows = []
        for t, f_ in tf.items():
            df = dfs.get(t, 0)
            if df == 0:
                continue
            q = float(f_) * (math.log(self.max_doc / df) + 1.0)
            rows.append((t, int(f_), int(df), round(q, 6)))
        rows.sort(key=lambda r: (-r[3], r[0]))
        return self.spark.createDataFrame(
            rows[:max_query_terms],
            "term string, tf long, df long, qscore double",
        )

    def more_like_this(
        self, text: str, k: int = 10, max_query_terms: int = 10
    ) -> DataFrame:
        """MoreLikeThis: top tf-idf terms of `text` -> scoring OR."""
        terms = self.mlt_terms(text, max_query_terms)
        if not terms:
            return self._empty()
        return self.search(BooleanOr(tuple(sorted(terms))), k)

    def get_by_keys(self, keys: list) -> DataFrame:
        """Realtime get — RealTimeGetHandler analog (solr/core/.../
        handler/RealTimeGetHandler.java + UpdateLog lookup by unique
        key). Returns the version of each key LIVE IN THIS VIEW: the
        point-in-time view opened by IndexSearcher.open spans every
        delta generation committed before the open (the tlog analog),
        and its liveDocs are fixed at open — open a new searcher to see
        later writes. A broadcast semi-join of the probe keys against
        the doc_map with the open-time tombstoned versions anti-joined
        away: an updated key returns only its newest live row, a
        deleted key returns nothing. Returns doc_map rows (doc_id, key,
        shard, g, doc_len, norm) ordered by key."""
        kind = self.manifest.get("key_kind", "l")
        ktype = "string" if kind == "s" else "long"
        kdf = self.spark.createDataFrame(
            [(k,) for k in keys], f"key {ktype}"
        )
        dm = self.doc_map().join(F.broadcast(kdf), "key", "left_semi")
        return self._drop_deleted(dm).orderBy("key")

    def term_vectors(
        self,
        query: Query,
        docs: DataFrame,
        k: int = 10,
        text_col: str | None = None,
        id_col: str | None = None,
        prune: bool = True,
    ) -> DataFrame:
        """Per-document term vectors for the query's top-k hits —
        TermVectorComponent analog (solr/core/.../handler/component/
        TermVectorComponent.java; Lucene persists a forward doc->terms
        index, TermVectorsFormat). Here the stored-fields table IS the
        forward store: the top-k docs' stored text is re-analyzed with
        the SAME JVM analyzer chain (+ synonym expansion) the index was
        built with, tf comes from one hash-aggregate over the exploded
        tokens, and df joins from the index's term dictionary — so the
        vector is exactly what the inverted index holds for those docs.
        Returns (doc_id, term, tf, df) ordered by (doc_id, term)."""
        from lucene_solr_spark.analysis.jvm import JVM_ANALYZERS

        cfg = self.manifest["config"]
        text_col = text_col or self._default_field
        id_col = id_col or cfg.get("id_col", "doc_id")
        hits = self.search(query, k, prune)
        dm = self.doc_map().select("doc_id", "key")
        hk = hits.join(dm, "doc_id")
        toks_expr = JVM_ANALYZERS[cfg["analyzer"]](F.col(text_col))
        if cfg.get("synonyms"):
            from lucene_solr_spark.analysis.synonyms import expand_tokens_col

            toks_expr = expand_tokens_col(toks_expr, cfg["synonyms"])
        key_type = dm.schema["key"].dataType
        stored = docs.select(
            F.col(id_col).cast(key_type).alias("key"),
            toks_expr.alias("_toks"),
        )
        tv = (
            hk.join(stored, "key")
            .select("doc_id", F.explode("_toks").alias("term"))
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        )
        # never broadcast the full dictionary: semi-restrict it to the
        # k docs' terms first (tv is k x terms-per-doc — tiny), THEN
        # broadcast the restricted stats into the left join
        stats = (
            self._term_stats.select(
                "term", F.col("df").cast("long").alias("df")
            )
            .join(
                F.broadcast(tv.select("term").distinct()), "term", "left_semi"
            )
        )
        tv = tv.join(F.broadcast(stats), "term", "left")
        return tv.select("doc_id", "term", "tf", "df").orderBy(
            "doc_id", "term"
        )

    def significant_terms(
        self,
        query: Query,
        docs: DataFrame,
        k: int = 15,
        min_fg: int = 2,
        text_col: str | None = None,
        id_col: str | None = None,
    ) -> DataFrame:
        """Significant-terms analysis over the query's FULL match set —
        SignificantTermsQParserPlugin analog (solr/core/.../search/
        SignificantTermsQParserPlugin.java: for each term in the
        foreground result set, report foreground df, background df and
        a relatedness score; ES calls it significant_terms).

        Score here is the relative-document-frequency lift
        (fg_df/|F|) / (bg_df/N), rounded to 6 dp — the plugin's
        numerator/denominator pair, collapsed to one deterministic
        ratio.

        Plan shape for 100 TB: the foreground doc set streams from the
        /export path (no driver collect); its docs' terms come from
        re-analyzing the stored fields with the index's own analyzer
        chain (the TermVectors forward-index analog, exactly like
        term_vectors()); fg_df is one (term)-keyed hash-aggregate;
        background df joins from the term dictionary CO-PARTITIONED on
        term (never broadcast — the dictionary is vocabulary-sized);
        |F| rides as a one-row broadcast. Output: top-k terms by
        (score desc, fg_df desc, term asc) as
        (term, fg_df, bg_df, score)."""
        from lucene_solr_spark.analysis.jvm import JVM_ANALYZERS

        cfg = self.manifest["config"]
        text_col = text_col or self._default_field
        id_col = id_col or cfg.get("id_col", "doc_id")
        fg = self.search(query, k=None)
        dm = self.doc_map().select("doc_id", "key")
        fg_keys = fg.join(dm, "doc_id").select("key")
        toks_expr = JVM_ANALYZERS[cfg["analyzer"]](F.col(text_col))
        if cfg.get("synonyms"):
            from lucene_solr_spark.analysis.synonyms import expand_tokens_col

            toks_expr = expand_tokens_col(toks_expr, cfg["synonyms"])
        key_type = dm.schema["key"].dataType
        stored = docs.select(
            F.col(id_col).cast(key_type).alias("key"),
            toks_expr.alias("_toks"),
        )
        fg_terms = (
            fg_keys.join(stored, "key")
            .select("key", F.explode(F.array_distinct("_toks")).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).cast("long").alias("fg_df"))
            .where(F.col("fg_df") >= min_fg)
        )
        fsize = fg.agg(F.count(F.lit(1)).cast("double").alias("fsize"))
        stats = self._term_stats.select(
            "term", F.col("df").cast("long").alias("bg_df")
        )
        out = (
            fg_terms.join(stats, "term")
            .crossJoin(F.broadcast(fsize))
            .select(
                "term",
                "fg_df",
                "bg_df",
                F.round(
                    (F.col("fg_df").cast("double") / F.col("fsize"))
                    / (
                        F.col("bg_df").cast("double")
                        / F.lit(float(self.max_doc))
                    ),
                    6,
                ).alias("score"),
            )
        )
        return out.orderBy(
            F.desc("score"), F.desc("fg_df"), "term"
        ).limit(k)

    def search_elevated(
        self,
        query: Query,
        elevated: tuple[int, ...],
        excluded: tuple[int, ...] = (),
        k: int = 10,
    ) -> DataFrame:
        """QueryElevationComponent analog (solr/core/.../handler/
        component/QueryElevationComponent.java: editorially pin
        configured docs to the top of a query's results in config
        order, drop excluded docs). Like the component's elevation
        BooleanQuery OR-clause, elevated docs appear even when they do
        not match the organic query (score 0.0 then; matching elevated
        docs keep their BM25 score).

        Plan: the elevated docs' organic scores come from the /export
        stream (k=None — they must be exact wherever they rank) via a
        broadcast semi-join of the request-sized elevation list; the
        organic tail is an ordinary top-k cut (TakeOrderedAndProject —
        never a global single-partition window over the full hit set);
        final ranking happens on the <= k + |elevated| surviving rows.
        Output: (rank, doc_id, elevated, score) with elevated docs
        first in config order, then organic order (score desc, doc_id
        asc), truncated to k after exclusions."""
        from pyspark.sql import Window

        drop = {int(d) for d in excluded}
        elev_ids = [int(d) for d in elevated if int(d) not in drop]
        hits = self.search(query, k=None)
        elev = self.spark.createDataFrame(
            [(d, i) for i, d in enumerate(elev_ids)],
            "doc_id long, elev_ord int",
        )
        elev_rows = elev.join(hits, "doc_id", "left").select(
            "doc_id",
            F.coalesce(F.col("score"), F.lit(0.0).cast("float")).alias("score"),
            "elev_ord",
        )
        organic = hits.where(
            ~F.col("doc_id").isin(sorted(drop | set(elev_ids)))
            if (drop or elev_ids)
            else F.lit(True)
        )
        n_tail = max(k - len(elev_ids), 0)
        organic = organic.orderBy(F.desc("score"), "doc_id").limit(n_tail)
        merged = elev_rows.unionByName(
            organic.select(
                "doc_id", "score", F.lit(None).cast("int").alias("elev_ord")
            )
        )
        w = Window.orderBy(
            F.when(F.col("elev_ord").isNotNull(), 0).otherwise(1),
            F.coalesce(F.col("elev_ord"), F.lit(0)),
            F.desc("score"),
            F.col("doc_id"),
        )
        return (
            merged.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= k)
            .select(
                "rank",
                "doc_id",
                F.col("elev_ord").isNotNull().alias("elevated"),
                "score",
            )
            .orderBy("rank")
        )

    def search_with_keys(self, query: Query, k: int = 10, prune: bool = True) -> DataFrame:
        """Top-k joined back to the source key (stored-fields fetch analog,
        phase 2 of Solr's distributed search — SURVEY.md §3.3)."""
        hits = self.search(query, k, prune)
        dm = self.doc_map().select("doc_id", "key")
        return (
            hits.join(dm, "doc_id")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .select("doc_id", "key", "score")
        )
