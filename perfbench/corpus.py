"""Seeded web-page corpus and query stream with known analyzer output.

Every document is rendered from a list of vocabulary ids, so the tokens
the standard analyzer emits for it are known without running the
analyzer: words are lowercase ASCII consonant-vowel runs (no stopword
among them), rendered lowercase, Capitalised at a sentence start or in
UPPER case, and separated by spaces, commas and periods. Stopwords,
which the analyzer drops, are mixed in and are not part of the expected
token list.

The same seed gives the same corpus, the same update batches and the
same query stream. Nothing here imports the engine.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

# The 33 English stopwords the standard analyzer drops (Lucene's
# StopAnalyzer.ENGLISH_STOP_WORDS_SET).
STOPWORDS = (
    "a an and are as at be but by for if in into is it no not of on or such "
    "that the their then there these they this to was will with"
).split()

_CONS = "bdfgklmnprstvz"
_VOWELS = "aeiou"
_SYLLABLES = [c + v for c in _CONS for v in _VOWELS]

VOCAB_SIZE = 6000
# Sentinel documents of the ingest workload: fixed text, fixed keys,
# independent of the seed (see workloads.IngestNrt).
# Its letters fall outside the syllable alphabet, so it is no vocabulary
# word; it takes the id VOCAB_SIZE in all_terms().
SENTINEL_TERM = "stalecheck"
SENTINEL_ID = VOCAB_SIZE
N_SENTINELS = 16


def vocabulary(n: int = VOCAB_SIZE) -> np.ndarray:
    """n distinct lowercase words, two or three syllables each."""
    s = len(_SYLLABLES)
    out = []
    for i in range(n):
        j = i
        w = ""
        for _ in range(2 if i < s * s else 3):
            w += _SYLLABLES[j % s]
            j //= s
        out.append(w)
    return np.array(out, dtype=object)


def all_terms() -> np.ndarray:
    """Term string per id: the vocabulary, then the sentinel term."""
    return np.append(vocabulary(), SENTINEL_TERM)


@dataclass
class Docs:
    """A batch of documents: keys, rendered text and, per document, the
    vocabulary ids the analyzer must emit (CSR: ptr/ids)."""

    keys: list
    texts: list
    ptr: np.ndarray  # int64, len n+1
    ids: np.ndarray  # int32 vocabulary ids, analyzer order

    def __len__(self) -> int:
        return len(self.keys)

    def terms_of(self, i: int) -> np.ndarray:
        return self.ids[self.ptr[i]:self.ptr[i + 1]]

    def rows(self) -> list[tuple[str, str]]:
        return list(zip(self.keys, self.texts))


class Generator:
    """All seeded inputs of one run. Words are drawn Zipf-like over a
    seed-permuted vocabulary, so head / mid / tail terms differ per seed
    while the df profile stays the same."""

    def __init__(self, seed: int):
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.vocab = vocabulary()
        ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
        p = 1.0 / ranks ** 1.05
        self.p = p / p.sum()
        self.perm = self.rng.permutation(VOCAB_SIZE)

    def _lengths(self, n: int) -> np.ndarray:
        # log-uniform 12..400 tokens: short and long pages spread the
        # norm bytes across the SmallFloat table
        return np.exp(self.rng.uniform(np.log(12), np.log(400), n)).astype(np.int64)

    def docs(self, keys: list) -> Docs:
        n = len(keys)
        lens = self._lengths(n)
        ptr = np.zeros(n + 1, np.int64)
        np.cumsum(lens, out=ptr[1:])
        ids = self.perm[
            self.rng.choice(VOCAB_SIZE, size=int(ptr[-1]), p=self.p)
        ].astype(np.int32)
        style = self.rng.random(int(ptr[-1]))
        stops = self.rng.random(int(ptr[-1]))
        texts = []
        for i in range(n):
            texts.append(self._render(ids[ptr[i]:ptr[i + 1]],
                                      style[ptr[i]:ptr[i + 1]],
                                      stops[ptr[i]:ptr[i + 1]]))
        return Docs(list(keys), texts, ptr, ids)

    def _render(self, ids, style, stops) -> str:
        out = []
        start = True
        for w, s, st in zip(self.vocab[ids], style, stops):
            if st < 0.15:  # a stopword the analyzer drops
                sw = STOPWORDS[int(st * 1000) % len(STOPWORDS)]
                out.append(sw.capitalize() if start else sw)
                start = False
            if start:
                w = w.capitalize()
            elif s < 0.02:
                w = w.upper()
            start = False
            if s > 0.93:  # sentence end
                w += "."
                start = True
            elif s > 0.88:
                w += ","
            out.append(w)
        return " ".join(out)

    def page_keys(self, n: int, first: int = 0) -> list[str]:
        site = self.rng.integers(0, 400, n)
        return [f"https://www.site{site[j]}.example/page/{first + j}.html"
                for j in range(n)]

    def queries(self, df: np.ndarray, n: int) -> list[tuple]:
        """n query specs (kind, must, should, must_not, msm) over terms
        of head, mid and tail document frequency. `df` is per vocabulary
        id, as counted from the generated corpus."""
        order = np.argsort(-df, kind="stable")
        live = order[df[order] > 0]
        head = live[: max(8, len(live) // 50)]
        mid = live[len(head): max(len(head) + 8, len(live) // 5)]
        tail = live[(df[live] >= 2) & (df[live] <= 12)]
        if len(tail) < 8:
            tail = live[-max(8, len(live) // 10):]
        v = self.vocab
        pick = self.rng.choice
        out = []
        kinds = ["term", "and", "or", "not", "msm"]
        for j in range(n):
            kind = kinds[j % len(kinds)]
            if kind == "term":
                tier = (head, mid, tail)[j // len(kinds) % 3]
                out.append(("term", (v[pick(tier)],), (), (), 0))
            elif kind == "and":
                a, b = pick(head, 2, replace=False)
                terms = (v[a], v[pick(mid)]) if j % 2 else (v[a], v[b])
                out.append(("and", terms, (), (), 0))
            elif kind == "or":
                ts = (v[pick(head)], v[pick(mid)], v[pick(tail)])
                out.append(("or", (), _distinct(ts), (), 0))
            elif kind == "not":
                a, b = pick(head, 2, replace=False)
                out.append(("not", (v[a],), (), (v[b],), 0))
            else:
                ts = (v[pick(head)], v[pick(head)], v[pick(mid)], v[pick(mid)])
                out.append(("msm", (), _distinct(ts), (), 2))
        return out


def _distinct(ts) -> tuple:
    seen = []
    for t in ts:
        if t not in seen:
            seen.append(t)
    return tuple(seen)


def sentinel_docs() -> Docs:
    """Seed-independent documents for the point-in-time check: every one
    holds SENTINEL_TERM once plus fixed filler, so the check's query and
    its expected hit set never depend on --seed."""
    vocab = vocabulary()
    keys = [f"https://stale.example/s{j}" for j in range(N_SENTINELS)]
    ids_list = []
    texts = []
    for j in range(N_SENTINELS):
        filler = [(j * 37 + 11 * m) % VOCAB_SIZE for m in range(6 + j)]
        texts.append(" ".join([SENTINEL_TERM] + [vocab[f] for f in filler]))
        ids_list.append([SENTINEL_ID] + filler)
    ptr = np.zeros(N_SENTINELS + 1, np.int64)
    np.cumsum([len(x) for x in ids_list], out=ptr[1:])
    return Docs(keys, texts, ptr, np.concatenate(ids_list).astype(np.int32))
