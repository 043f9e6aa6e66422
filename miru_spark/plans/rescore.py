"""A53 — rescore (Elasticsearch ``rescore`` / Lucene ``QueryRescorer``):
re-rank only the top ``window_size`` hits of a cheap first-pass query
with a more expensive second query — the standard two-phase serving
pattern (fast BM25 recall pass, precise phrase/proximity precision pass)
that keeps the expensive scorer's cost bounded by the window, not the
corpus.

``final(d) = query_weight * bm25(d) + rescore_weight * phrase_bm25(d)``
for the ES default ``score_mode: total``; docs in the window that do not
match the rescore query keep their first-pass score (phrase term = 0).

This is the counterpart to function_score's full-candidate plan: when
the modifier only needs to reorder a bounded head, rescore touches
exactly ``window_size`` docs in the second pass. At cluster scale the
first pass is the existing ``search_topk`` (routed by summed df); the
second pass is a positional-index phrase verification over at most
``window_size`` candidates — driver-side arithmetic on two already-small
result sets, no extra Spark job beyond the two searches.
"""

from __future__ import annotations

from miru_spark.index.reader import IndexReader


def rescore_topk(
    reader: IndexReader,
    terms: list[str],
    phrase: str,
    window_size: int = 50,
    query_weight: float = 1.0,
    rescore_weight: float = 2.0,
    mode: str = "disjunctive",
    k: int = 10,
    round_digits: int = 6,
    exclude: list[str] | None = None,
    where: dict | None = None,
) -> list[tuple[int, float]]:
    """Two-phase serving: first-pass BM25 top-``window_size``
    (``search_topk``), second-pass phrase BM25 restricted to the window, weighted-sum
    combine, final top-k by (-score, doc_id)."""
    from miru_spark.plans.search import search_phrase, search_topk

    if window_size <= 0 or k <= 0:
        raise ValueError("window_size and k must be positive")
    if k > window_size:
        raise ValueError("k must not exceed window_size (rescore only "
                         "reorders the window)")
    window = search_topk(
        reader, terms, mode=mode, k=window_size, exclude=exclude,
        where=where,
    )
    if not window:
        return []
    # phrase scores over ALL phrase-matching docs; the window join bounds
    # what we keep (phrase search itself is index-served and pruned)
    ph = dict(
        search_phrase(
            reader, phrase, k=1 << 30, round_digits=round_digits,
            where=where,
        )
    )
    qw, rw = float(query_weight), float(rescore_weight)
    # the oracle's first pass is rounded before the combine; mirror it so
    # the weighted sum starts from identical doubles on both sides
    out = [
        (d, round(qw * round(s, round_digits) + rw * ph.get(d, 0.0),
                  round_digits))
        for d, s in window
    ]
    out.sort(key=lambda t: (-t[1], t[0]))
    return out[:k]


def rescore_oracle_sql(
    terms: list[str],
    phrase: str,
    window_size: int = 50,
    query_weight: float = 1.0,
    rescore_weight: float = 2.0,
    mode: str = "disjunctive",
    k: int = 10,
    round_digits: int = 6,
    exclude: list[str] | None = None,
) -> str:
    """DuckDB twin: first-pass BM25 CTE LIMITed to the window (same
    rounded tie-break), LEFT JOINed to the phrase-BM25 CTE, weighted sum,
    re-ranked top-k."""
    from miru_spark.plans.relational import (
        bm25_oracle_sql,
        bm25_phrase_oracle_sql,
    )

    if k > window_size:
        raise ValueError("k must not exceed window_size")
    base = bm25_oracle_sql(
        terms, mode, k=window_size, round_digits=round_digits,
        exclude=exclude,
    )
    ph = bm25_phrase_oracle_sql(phrase, k=1 << 30,
                                round_digits=round_digits)
    qw, rw = float(query_weight), float(rescore_weight)
    return f"""
WITH base AS ({base}),
ph AS ({ph})
SELECT base.doc_id,
       round({qw!r} * base.score + {rw!r} * coalesce(ph.score, 0.0),
             {round_digits}) AS score
FROM base LEFT JOIN ph USING (doc_id)
ORDER BY score DESC, doc_id LIMIT {k}
""".strip()
