"""BM25 computed apart from the engine, and the checks that use it.

The scoring is Lucene 6's BM25Similarity written out again in numpy from
its definition, with the same float32 steps (k1=1.2, b=0.75):

- norm byte  = SmallFloat.floatToByte315(1f / (float) sqrt(docLen))
- avgdl      = (float) (sumTotalTermFreq / (double) maxDoc)
- cache[b]   = k1 * ((1 - b) + b * (1 / f(b)^2) / avgdl), f = byte315ToFloat
- idf        = (float) log(1 + (maxDoc - df + 0.5) / (df + 0.5))
- term score = (idf * (k1 + 1)) * tf / (tf + cache[norm])
- boolean    = float32 of the double sum of the clause scores

Statistics (maxDoc, df, sumTotalTermFreq) count every document version
the index still holds, deleted ones included, as Lucene's do until a
merge drops them. Nothing here imports the engine.
"""

from __future__ import annotations

import numpy as np

K1 = np.float32(1.2)
B = np.float32(0.75)
_FZERO = (63 - 15) << 3


def byte315_to_float(b: np.ndarray) -> np.ndarray:
    b = np.asarray(b, np.int32)
    bits = (b << 21) + ((63 - 15) << 24)
    f = bits.astype(np.int32).view(np.float32).copy()
    f[b == 0] = 0.0
    return f


def float_to_byte315(f: np.ndarray) -> np.ndarray:
    bits = np.asarray(f, np.float32).view(np.int32)
    small = bits >> 21
    out = small - _FZERO
    out = np.where(small <= _FZERO, np.where(bits <= 0, 0, 1), out)
    out = np.where(small >= _FZERO + 0x100, 255, out)
    return out.astype(np.uint8)


def norm_bytes(doc_len: np.ndarray) -> np.ndarray:
    root = np.sqrt(np.asarray(doc_len, np.float64)).astype(np.float32)
    with np.errstate(divide="ignore"):
        return float_to_byte315(np.float32(1.0) / root)


_F = byte315_to_float(np.arange(256))
with np.errstate(divide="ignore"):
    NORM_TABLE = (np.float32(1.0) / (_F * _F)).astype(np.float32)


class Collection:
    """The document versions an index holds, in the order they were
    indexed, with a live flag each. Terms are integer ids."""

    def __init__(self):
        self.keys: list = []
        self.term_lists: list[np.ndarray] = []
        self.live: list[bool] = []
        self.sizes: list[int] = []  # UTF-8 text bytes per version

    def add(self, docs) -> None:
        """Index `docs` (a corpus.Docs); a key already present gets its
        older versions marked dead, as update-by-key does."""
        self.kill(docs.keys)
        for i, k in enumerate(docs.keys):
            self.keys.append(k)
            self.term_lists.append(docs.terms_of(i))
            self.live.append(True)
            self.sizes.append(len(docs.texts[i].encode("utf-8")))

    def kill(self, keys) -> int:
        ks = set(keys)
        n = 0
        for i, k in enumerate(self.keys):
            if self.live[i] and k in ks:
                self.live[i] = False
                n += 1
        return n

    def purge(self) -> None:
        """Drop dead versions (what a compaction does)."""
        keep = [i for i, a in enumerate(self.live) if a]
        self.keys = [self.keys[i] for i in keep]
        self.term_lists = [self.term_lists[i] for i in keep]
        self.live = [True] * len(keep)
        self.sizes = [self.sizes[i] for i in keep]

    @property
    def text_bytes(self) -> int:
        """Text bytes of every version the index holds."""
        return sum(self.sizes)

    def live_keys(self) -> set:
        return {k for k, a in zip(self.keys, self.live) if a}

    def stats(self, n_terms: int) -> "Stats":
        return Stats(self, n_terms)


class Stats:
    """Frozen statistics and posting lists of a Collection."""

    def __init__(self, coll: Collection, n_terms: int):
        self.keys = list(coll.keys)
        self.live = np.array(coll.live, bool)
        n = len(self.keys)
        lens = np.array([len(t) for t in coll.term_lists], np.int64)
        self.max_doc = n
        self.sum_ttf = int(lens.sum())
        self.avgdl = np.float32(self.sum_ttf / float(n))
        self.cache = (K1 * ((np.float32(1.0) - B) + B * NORM_TABLE / self.avgdl)).astype(np.float32)
        self.norms = norm_bytes(lens)
        doc = np.repeat(np.arange(n, dtype=np.int64), lens)
        term = np.concatenate(coll.term_lists).astype(np.int64)
        pair, tf = np.unique(term * n + doc, return_counts=True)
        self._term = pair // n
        self._doc = pair % n
        self._tf = tf
        self.df = np.bincount(self._term, minlength=n_terms)
        self._start = np.searchsorted(self._term, np.arange(n_terms + 1))
        self.term_sets = [set(t.tolist()) for t in coll.term_lists]
        self._live_index = {k: i for i, k in enumerate(self.keys) if self.live[i]}

    def postings(self, t: int) -> tuple[np.ndarray, np.ndarray]:
        a, b = self._start[t], self._start[t + 1]
        return self._doc[a:b], self._tf[a:b]

    def idf(self, t: int) -> np.float32:
        df = float(self.df[t])
        return np.float32(np.log(1.0 + (self.max_doc - df + 0.5) / (df + 0.5)))

    def term_scores(self, t: int) -> tuple[np.ndarray, np.ndarray]:
        docs, tf = self.postings(t)
        wv = self.idf(t) * (K1 + np.float32(1.0))
        tff = tf.astype(np.float32)
        return docs, ((wv * tff) / (tff + self.cache[self.norms[docs]])).astype(np.float32)

    def score(self, spec, term_id) -> dict:
        """{key: float32 score} of every live match of a query spec
        (kind, must, should, must_not, msm); terms are strings mapped
        through `term_id` (absent term -> matches nothing)."""
        kind, must, should, must_not, msm = spec
        clauses = must if kind in ("term", "and", "not") else should
        lists = []
        for t in clauses:
            tid = term_id.get(t)
            lists.append(self.term_scores(tid) if tid is not None
                         else (np.empty(0, np.int64), np.empty(0, np.float32)))
        acc = np.zeros(self.max_doc, np.float64)
        hits = np.zeros(self.max_doc, np.int32)
        for d, s in lists:
            acc[d] += s.astype(np.float64)
            hits[d] += 1
        need = len(lists) if kind in ("term", "and", "not") else max(1, msm)
        match = (hits >= need) & self.live
        for t in must_not:
            tid = term_id.get(t)
            if tid is not None:
                match[self.postings(tid)[0]] = False
        idx = np.nonzero(match)[0]
        scores = acc[idx].astype(np.float32)
        return {self.keys[i]: scores[j] for j, i in enumerate(idx)}

    def live_terms(self, key) -> set:
        i = self._live_index.get(key)
        return set() if i is None else self.term_sets[i]


def check_topk(hits, k: int, expected: dict, doc_key: dict, live_id: dict):
    """None when `hits` [(doc_id, score), ...] in engine order is a
    correct top-k of `expected` {key: f32}; else the first reason it is
    not. `doc_key` maps engine doc ids to keys, `live_id` maps each live
    key to the doc id of its newest version (the tie-break order and
    the version an updated key must return)."""
    if len(hits) != min(k, len(expected)):
        return f"{len(hits)} hits, expected {min(k, len(expected))}"
    seen = set()
    prev = None
    for doc_id, score in hits:
        key = doc_key.get(doc_id)
        if key is None:
            return f"doc {doc_id} not in doc_map"
        if key in seen:
            return f"key {key} returned twice"
        seen.add(key)
        if key not in expected:
            return f"key {key} is not a live match"
        if live_id.get(key) != doc_id:
            return f"key {key} returned as doc {doc_id}, live version is {live_id.get(key)}"
        got = np.float32(score)
        if got.view(np.uint32) != expected[key].view(np.uint32):
            return f"key {key} score {got!r} != {expected[key]!r}"
        if prev is not None and (got > prev[1] or (got == prev[1] and doc_id < prev[0])):
            return "hits out of (score desc, doc asc) order"
        prev = (doc_id, got)
    if len(hits) == k and k:
        floor = np.float32(hits[-1][1])
        above = {key for key, s in expected.items() if s > floor}
        if not above <= seen:
            return "a higher-scoring match is missing"
        tied = sorted(live_id.get(key, -1) for key, s in expected.items() if s == floor)
        got_tied = sorted(d for d, s in hits if np.float32(s) == floor)
        if got_tied != tied[: len(got_tied)]:
            return "tie at the cut not broken by lowest doc id"
    return None


def check_properties(spec, hit_keys, stats: Stats, term_id, deleted: set):
    """Properties independent of scores: AND hits hold every required
    term, NOT terms are absent, deleted keys never come back."""
    kind, must, should, must_not, msm = spec
    for key in hit_keys:
        if key in deleted:
            return f"deleted key {key} returned"
        terms = stats.live_terms(key)
        if kind in ("and", "not", "term") and not all(term_id.get(t) in terms for t in must):
            return f"key {key} lacks a required term"
        if any(term_id.get(t) in terms for t in must_not):
            return f"key {key} holds a NOT term"
        if kind == "msm" and sum(term_id.get(t) in terms for t in should) < msm:
            return f"key {key} matches fewer than {msm} optional terms"
    return None
