"""Seeded random queries against the DuckDB twin: for 60 cases (1-6
terms, deliberate duplicates, both modes, k in {1, 3, 10, 25}) the driver
top-k equals ``bm25_oracle_sql`` at the golden 6-digit rounding, docs tied
at the k-th place being interchangeable.

The test keeps its historical name from the block-max WAND safety fuzz."""

from __future__ import annotations

import random

import pytest

from miru_spark.plans.relational import bm25_oracle_sql
from miru_spark.plans.search import search_topk
from tests.conftest import assert_same_topk

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "the", "value", "vector", "window",
]


def _cases():
    rng = random.Random(1234)
    cases = []
    for i in range(60):
        n = rng.choice([1, 2, 2, 3, 3, 4, 5, 6])
        terms = rng.sample(VOCAB, n)
        if i % 7 == 0:
            terms.append(terms[0])  # deliberate duplicate
        mode = "disjunctive" if i % 2 else "conjunctive"
        k = rng.choice([1, 3, 10, 25])
        cases.append((terms, mode, k))
    return cases


@pytest.mark.parametrize(
    "terms,mode,k", _cases(), ids=[f"{i}" for i in range(len(_cases()))]
)
def test_wand_equals_exhaustive_fuzz(reader, duck, terms, mode, k):
    got = search_topk(reader, terms, mode=mode, k=k)
    want = duck.execute(bm25_oracle_sql(terms, mode, k=k)).fetchall()
    assert_same_topk(got, want)
    # ties broken by doc_id, as in the twin's ORDER BY
    assert got == sorted(got, key=lambda h: (-round(h[1], 6), h[0]))
