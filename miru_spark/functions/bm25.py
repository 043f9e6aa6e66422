"""The pinned BM25 specification (SURVEY.md section 2.9) — single source of truth.

k1 = 1.2, b = 0.75 (north_star). Lucene-style non-negative idf:

    idf(t)     = ln(1 + (N - df + 0.5) / (df + 0.5))
    score(d,q) = sum over matching t of idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*|d|/avgdl))

Tie-break ascending doc_id. The same formula is implemented three times in
this repo — Spark Column expressions (here), numpy (here, for the index fast
path), and the DuckDB oracle SQL — and the rank-identity tests hold them
together.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

K1 = 1.2
B = 0.75


def idf_col(df: Column, n_docs: Column) -> Column:
    return F.log(F.lit(1.0) + (n_docs - df + F.lit(0.5)) / (df + F.lit(0.5)))


def score_col(tf: Column, df: Column, doc_len: Column, n_docs: Column, avgdl: Column) -> Column:
    idf = idf_col(df, n_docs)
    norm = tf + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * doc_len / avgdl)
    return idf * tf * F.lit(K1 + 1.0) / norm


def idf_np(df: np.ndarray | float, n_docs: float) -> np.ndarray:
    return np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def score_np(tf: np.ndarray, idf: float, doc_len: np.ndarray, avgdl: float) -> np.ndarray:
    """Per-posting BM25 contribution of one term (idf precomputed)."""
    tf = tf.astype(np.float64)
    norm = tf + K1 * (1.0 - B + B * doc_len.astype(np.float64) / avgdl)
    return idf * tf * (K1 + 1.0) / norm


def classic_np(
    tf: np.ndarray, df: float, doc_len: np.ndarray, n_docs: float
) -> np.ndarray:
    """Per-posting contribution of one term under Lucene's pre-BM25 TF-IDF
    (``ClassicSimilarity``, the Lucene <= 5 default):

        tf_norm = sqrt(tf)
        idf     = 1 + ln((n_docs + 1) / (df + 1))
        norm    = 1 / sqrt(dl)
        score   = tf_norm * idf^2 * norm

    idf is squared because Lucene applies it once in the query weight and
    once in the document score. We compute the UNQUANTIZED norm: Lucene
    byte-encodes 1/sqrt(dl) into a lossy norms byte at index time; the
    exact value is the spec here so the DuckDB oracle can reproduce it."""
    return (
        np.sqrt(tf.astype(np.float64))
        * (1.0 + np.log((n_docs + 1.0) / (float(df) + 1.0))) ** 2
        / np.sqrt(doc_len.astype(np.float64))
    )


def lm_dirichlet_np(
    tf: np.ndarray,
    cf: float,
    doc_len: np.ndarray,
    n_tokens: float,
    mu: float = 2000.0,
) -> np.ndarray:
    """Per-posting LM Dirichlet contribution of one term (Lucene
    ``LMDirichletSimilarity``, Zhai & Lafferty 2001):

        p(t|C)     = (cf + 1) / (n_tokens + 1)     (Lucene's +1 smoothing)
        score(t,d) = max(0, ln(1 + tf / (mu * p(t|C))) + ln(mu / (dl + mu)))

    ``cf`` is the term's collection frequency (total occurrences across the
    corpus); the clamp-at-zero is per (term, doc), exactly as Lucene's
    ``score > 0 ? score : 0``. The default mu=2000 is Lucene's."""
    p = (float(cf) + 1.0) / (float(n_tokens) + 1.0)
    s = np.log1p(tf.astype(np.float64) / (mu * p)) + np.log(
        mu / (doc_len.astype(np.float64) + mu)
    )
    return np.maximum(s, 0.0)


