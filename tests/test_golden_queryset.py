"""The pinned 45-query reference set (SURVEY.md section 5.3) against frozen
golden answers generated once from the DuckDB SQL BM25 oracle at sf0.001.

The default serving path (``search_topk``, which serves every golden query
on the driver kernel) must reproduce every golden ranking exactly — this
is the operational meaning of "rank-identical to the reference on its
reference query set". ``search_exhaustive``, the same kernel without the
routing, is pinned on every fifth case."""

from __future__ import annotations

import json

import pytest

from miru_spark.plans.search import search_exhaustive, search_topk

with open("tests/golden/bm25_sf0.001.json") as f:
    GOLDEN = json.load(f)


@pytest.mark.parametrize(
    "case", GOLDEN, ids=[f"{'+'.join(c['terms'])}-{c['mode'][:4]}" for c in GOLDEN]
)
def test_golden_fast_path(reader, case):
    got = search_topk(reader, case["terms"], mode=case["mode"], k=case["k"])
    got = [[d, round(s, 6)] for d, s in got]
    assert got == case["expected"]


@pytest.mark.parametrize(
    "case",
    GOLDEN[::5],
    ids=[f"{'+'.join(c['terms'])}-{c['mode'][:4]}" for c in GOLDEN[::5]],
)
def test_golden_exhaustive_path(reader, case):
    got = search_exhaustive(reader, case["terms"], mode=case["mode"], k=case["k"])
    got = [[d, round(s, 6)] for d, s in got]
    assert got == case["expected"]
