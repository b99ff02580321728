"""Float32-exact BM25 kernels (reference: BM25Similarity.java, Lucene 6.0).

Every arithmetic step reproduces the reference's float32/float64 mix so
scores are bitwise-identical:

- idf:    double log(1 + (N - df + 0.5)/(df + 0.5)) cast to float32
          (BM25Similarity.java:66-69; N = maxDoc, :156-160)
- avgdl:  double sumTotalTermFreq / maxDoc cast to float32 (:84-91)
- cache:  float32 k1*((1-b) + b*NORM_TABLE[i]/avgdl) per norm byte (:206-211)
- score:  float32 (weight*(k1+1)) * tf / (tf + cache[norm]) (:220-237)
- boolean AND/OR: sub-scores summed in DOUBLE, cast to float32
          (ConjunctionScorer.java score(): double sum; DisjunctionSumScorer.java:44-48)
"""

from __future__ import annotations

import numpy as np

from lucene_solr_spark import B, K1
from lucene_solr_spark.functions.smallfloat import norm_table

_NORM_TABLE = norm_table()


def idf(df: np.ndarray | int, max_doc: int) -> np.ndarray:
    """float32 idf; df may be scalar or array. BM25Similarity.java:66-69."""
    df64 = np.asarray(df, dtype=np.float64)
    return np.log1p((max_doc - df64 + 0.5) / (df64 + 0.5)).astype(np.float32)


def avgdl(sum_total_term_freq: int, max_doc: int) -> np.float32:
    """float32 average field length. BM25Similarity.java:84-91."""
    if sum_total_term_freq <= 0:
        return np.float32(1.0)
    return np.float32(sum_total_term_freq / float(max_doc))


def norm_cache(avg_dl: np.float32, k1: float = K1, b: float = B) -> np.ndarray:
    """cache[256] = k1 * ((1-b) + b * NORM_TABLE[i] / avgdl), all float32.

    BM25Similarity.java:206-211. cache[0] = +inf (empty/never-normed docs
    can never score).
    """
    k1f = np.float32(k1)
    bf = np.float32(b)
    one = np.float32(1.0)
    return (k1f * ((one - bf) + bf * _NORM_TABLE / np.float32(avg_dl))).astype(
        np.float32
    )


def score_term(
    tf: np.ndarray,
    norm_bytes: np.ndarray,
    term_idf: np.float32,
    cache: np.ndarray,
    k1: float = K1,
    boost: float = 1.0,
) -> np.ndarray:
    """Vectorized per-doc BM25 for one term, float32-exact.

    weightValue = idf*boost*(k1+1) (float32, BM25Similarity.java:288-293 then
    :227 `stats.weight * (k1 + 1)`); score = weightValue*tf/(tf+cache[norm])
    (:234-237, float32 multiply then float32 divide).
    """
    weight = np.float32(term_idf) * np.float32(boost)
    weight_value = weight * (np.float32(k1) + np.float32(1.0))
    tff = np.asarray(tf, dtype=np.float32)
    c = cache[np.asarray(norm_bytes, dtype=np.uint8)]
    return ((weight_value * tff) / (tff + c)).astype(np.float32)

