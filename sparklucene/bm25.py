"""BM25 scoring — Lucene 8.x semantics (BM25Similarity, k1=1.2 b=0.75).

Reimplements from public knowledge of Apache Lucene 8.x
(lucene/core/.../search/similarities/BM25Similarity.java, LUCENE-8563):

  idf   = ln(1 + (docCount - df + 0.5) / (df + 0.5))        # double
  avgdl = (float)(sumTotalTermFreq / (double) docCount)
  cache[b] = k1 * ((1 - b25) + b25 * LENGTH_TABLE[b] / avgdl)  # float[256]
  weight = (float)(boost * (float) idf)
  score  = (float)(weight * (double)(tf / (tf + (double) cache[norm])))

Note the 8.x change: NO (k1+1) numerator factor (LUCENE-8563); pass
``plus1=True`` for 7.x parity. Multi-term scores are summed per doc in a
double accumulator in sorted-term order, cast to float32 at the end
(DisjunctionSumScorer behavior, order pinned for reproducibility).

Two precision modes (SURVEY.md §4.3 + oracle-parity note):
  - ``lucene8``: bit-faithful float32 cache/weight chain above — used for
    the internal rank-identity suite vs the brute-force oracle.
  - ``f64``: the same formula evaluated in float64 end-to-end with a fixed
    association order, cast to float32 only at the end — used for the
    driver-facing queries so a DuckDB SQL oracle can reproduce scores
    bit-exactly (DuckDB cannot do per-op float32 arithmetic faithfully).
  Both modes produce identical *rankings* (asserted in tests).
"""

from __future__ import annotations

import functools
import math

import numpy as np

from sparklucene.norms import LENGTH_TABLE_F32

K1 = 1.2
B = 0.75


def idf(df: int, doc_count: int) -> float:
    """Lucene idfExplain — computed in double via math.log (glibc log,
    matching DuckDB's ln for oracle parity; verified in tests)."""
    return math.log(1.0 + (doc_count - df + 0.5) / (df + 0.5))


def avgdl_f32(sum_ttf: int, doc_count: int) -> np.float32:
    return np.float32(sum_ttf / float(doc_count))


@functools.lru_cache(maxsize=64)
def norm_cache_f32(avgdl: np.float32, k1: float = K1, b: float = B) -> np.ndarray:
    """Lucene's per-scorer float[256] cache, float32 arithmetic per-op.
    Memoized per (avgdl, k1, b) — a scorer asks for it on every scoring
    call — so the table is returned read-only."""
    k1f = np.float32(k1)
    bf = np.float32(b)
    one = np.float32(1.0)
    cache = (k1f * ((one - bf) + bf * LENGTH_TABLE_F32
                    / np.float32(avgdl))).astype(np.float32)
    cache.setflags(write=False)
    return cache


def score_lucene8(tfs: np.ndarray, norm_bytes: np.ndarray, df: int,
                  doc_count: int, sum_ttf: int, boost: float = 1.0,
                  k1: float = K1, b: float = B, plus1: bool = False) -> np.ndarray:
    """Bit-faithful Lucene 8.x BM25 per-posting scores (float32)."""
    return score_lucene8_w(idf(df, doc_count), tfs, norm_bytes, doc_count,
                           sum_ttf, boost, k1, b, plus1)


def score_lucene8_w(idf_total: float, tfs: np.ndarray, norm_bytes: np.ndarray,
                    doc_count: int, sum_ttf: int, boost: float = 1.0,
                    k1: float = K1, b: float = B, plus1: bool = False
                    ) -> np.ndarray:
    """Lucene 8.x scoring with an explicit (double) idf total — PhraseQuery
    passes the SUM of its slot terms' idfs (BM25Similarity.idfExplain over
    a TermStatistics[] — public Lucene behavior); tf is then the phrase
    frequency."""
    avgdl = avgdl_f32(sum_ttf, doc_count)
    cache = norm_cache_f32(avgdl, k1, b)
    weight = np.float32(np.float32(boost) * np.float32(idf_total))
    if plus1:
        weight = np.float32(weight * np.float32(k1 + 1.0))
    tf64 = np.asarray(tfs, dtype=np.float64)
    norm64 = cache[np.asarray(norm_bytes, dtype=np.uint8)].astype(np.float64)
    frac = tf64 / (tf64 + norm64)                       # double
    return (weight.astype(np.float64) * frac).astype(np.float32)


def score_f64(tfs: np.ndarray, dlq: np.ndarray, df: int, doc_count: int,
              sum_dl: int, boost: float = 1.0, k1: float = K1, b: float = B,
              ) -> np.ndarray:
    """Oracle-parity float64 BM25 (dlq = quantized doc length, not bytes).

    Expression order matches the driver oracle SQL exactly:
      idf * tf / (tf + k1*(1 - b + b*dlq/avgdl)), avgdl = sum_dl/N.
    Result cast to float32 at the very end.
    """
    return score_f64_w(boost * idf(df, doc_count), tfs, dlq, doc_count,
                       sum_dl, k1, b)


def score_f64_w(w: float, tfs: np.ndarray, dlq: np.ndarray, doc_count: int,
                sum_dl: int, k1: float = K1, b: float = B) -> np.ndarray:
    """float64-parity scoring with explicit weight (phrase: summed idfs)."""
    avgdl = sum_dl / float(doc_count)
    tf64 = np.asarray(tfs, dtype=np.float64)
    d64 = np.asarray(dlq, dtype=np.float64)
    denom = tf64 + k1 * (1.0 - b + b * d64 / avgdl)
    return ((w * tf64) / denom).astype(np.float32)


def score_sql(tf_expr: str, dlq_expr: str, df_expr: str, n_expr: str,
              sumdl_expr: str, k1: float = K1, b: float = B) -> str:
    """DuckDB SQL mirroring ``score_f64`` term-for-term (float64, cast REAL)."""
    idf_e = f"ln(1.0 + ({n_expr} - {df_expr} + 0.5) / ({df_expr} + 0.5))"
    avgdl = f"({sumdl_expr} / cast({n_expr} as double))"
    denom = f"({tf_expr} + {k1} * (1.0 - {b} + {b} * {dlq_expr} / {avgdl}))"
    return f"cast(({idf_e} * {tf_expr}) / {denom} as real)"


def idf_classic(df: int, doc_count: int) -> float:
    """ClassicSimilarity (TF-IDF) idf — public Lucene 8.x
    TFIDFSimilarity.idfExplain: log((docCount+1)/(docFreq+1)) + 1."""
    return math.log((doc_count + 1) / (df + 1.0)) + 1.0


def score_classic(tfs: np.ndarray, dlq: np.ndarray, df: int, doc_count: int,
                  boost: float = 1.0) -> np.ndarray:
    """ClassicSimilarity per-posting scores (Lucene 8.x TFIDFScorer):
    score = boost * idf * sqrt(tf) * (1/sqrt(dlq)) — 8.x dropped
    queryNorm/coord; lengthNorm consumes the same SmallFloat-quantized
    length as BM25. Every op (sqrt, *, /) is IEEE-correctly-rounded, so a
    SQL oracle reproduces values bit-exactly with the same expression.
    """
    w = boost * idf_classic(df, doc_count)
    tf64 = np.asarray(tfs, dtype=np.float64)
    d64 = np.asarray(dlq, dtype=np.float64)
    return ((w * np.sqrt(tf64)) / np.sqrt(d64)).astype(np.float32)


def score_classic_w(w: float, tfs: np.ndarray, dlq: np.ndarray) -> np.ndarray:
    """Classic scoring with explicit weight (phrase: summed classic idfs)."""
    tf64 = np.asarray(tfs, dtype=np.float64)
    d64 = np.asarray(dlq, dtype=np.float64)
    return ((w * np.sqrt(tf64)) / np.sqrt(d64)).astype(np.float32)


def classic_score_sql(tf_expr: str, dlq_expr: str, df_expr: str,
                      n_expr: str) -> str:
    """DuckDB SQL mirroring ``score_classic`` term-for-term."""
    idf_e = f"(ln(({n_expr} + 1) / ({df_expr} + 1.0)) + 1.0)"
    return (f"cast(({idf_e} * sqrt(cast({tf_expr} as double)))"
            f" / sqrt(cast({dlq_expr} as double)) as real)")

