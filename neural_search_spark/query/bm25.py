"""BM25 scoring math (Lucene ``BM25Similarity`` semantics).

Formulas (Lucene >= 8, no (k1+1) numerator factor — the form the
reference scores through; SURVEY.md §2.14):

    idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
    tf_norm     = tf / (tf + k1 * (1 - b + b * dl_q / avgdl))
    score(d, q) = sum_t idf(t) * tf_norm(t, d)

with k1 = 1.2, b = 0.75 and ``dl_q`` the SmallFloat-quantized document
length (functions/norms.py). ``avgdl`` = total token count / N computed
from exact lengths (Lucene: sumTotalTermFreq / docCount).

Two dtype disciplines:
 * float32 — Lucene-parity mode, used by the rank-identity pytest suite
   (score tolerance 0.001 mirroring the reference's
   DELTA_FOR_SCORE_ASSERTION, testFixtures util/TestUtils.java:41);
 * float64 — oracle mode, bit-matching the DuckDB reference SQL after
   4-decimal rounding (IEEE doubles + identical expression trees).
"""

from __future__ import annotations

import numpy as np

K1 = 1.2
B = 0.75


def idf(N: int, df, dtype=np.float64):
    """idf in ``dtype`` arithmetic throughout; ``df`` may be a scalar
    (one term) or an array."""
    df = np.asarray(df, dtype=dtype)
    one = dtype(1.0)
    return np.log(one + (dtype(N) - df + dtype(0.5)) / (df + dtype(0.5))).astype(dtype)


def idf_by_term(N: int, dfs: dict[str, int], terms, dtype=np.float64) -> dict[str, float]:
    """Per-term idf of the index kernels, exact in ``dtype``."""
    return {t: float(idf(N, dfs[t], dtype)) for t in terms}


def tf_norm(
    tf: np.ndarray,
    dl_quantized: np.ndarray,
    avgdl: float,
    k1: float = K1,
    b: float = B,
    dtype=np.float64,
) -> np.ndarray:
    """The tf part, ``tf / (tf + k1 * (1 - b + b * dl_q / avgdl))``, in
    ``dtype`` arithmetic — THE expression of every index kernel (and of
    the block-max upper bound, with tf = max tf, dl_q = min dl_q)."""
    tf = np.asarray(tf, dtype=dtype)
    dl = np.asarray(dl_quantized, dtype=dtype)
    denom = tf + dtype(k1) * (dtype(1.0) - dtype(b) + dtype(b) * dl / dtype(avgdl))
    return (tf / denom).astype(dtype, copy=False)


def bm25_sql(
    tf: str = "tf",
    dl_q: str = "dl_q",
    N: str = "N",
    df: str = "df",
    avgdl: str = "avgdl",
    k1: float = K1,
    b: float = B,
) -> str:
    """The same contribution as one ANSI-SQL expression (Spark + DuckDB)."""
    return (
        f"ln(1.0 + ({N} - {df} + 0.5) / ({df} + 0.5)) * "
        f"({tf} / ({tf} + {k1} * (1.0 - {b} + {b} * {dl_q} / {avgdl})))"
    )
