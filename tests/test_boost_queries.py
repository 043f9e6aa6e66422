"""Per-term boosts (Lucene 'term^w'): boost scales the term's idf — all
paths rank-identical and oracle-checked."""

from __future__ import annotations

import pytest

from miru_spark.plans.relational import bm25_oracle_sql
from miru_spark.plans.search import (
    search,
    search_distributed,
    search_exhaustive,
    search_topk,
)
from tests.conftest import assert_same_topk

CASES = [
    (["the", "dup"], "disjunctive", {"dup": 0.25}),
    (["join", "hash"], "conjunctive", {"hash": 3.0}),
    (["join", "hash", "dup"], "disjunctive", {"join": 2.0, "dup": 0.5}),
]


@pytest.mark.parametrize("terms,mode,boosts", CASES, ids=lambda x: str(x))
def test_boost_matches_oracle(reader, duck, terms, mode, boosts):
    got = search_topk(reader, terms, mode=mode, k=10, boosts=boosts)
    want = duck.execute(bm25_oracle_sql(terms, mode, boosts=boosts)).fetchall()
    assert [(d, round(s, 6)) for d, s in got] == [tuple(r) for r in want]


@pytest.mark.parametrize("terms,mode,boosts", CASES, ids=lambda x: str(x))
def test_boost_wand_equals_exhaustive(reader, terms, mode, boosts, monkeypatch):
    """Boosts past the cutoff (search_distributed) rank like the driver
    kernel. (Historical name: the path past the cutoff was WAND.)"""
    from miru_spark.plans import search as S

    b = search_exhaustive(reader, terms, mode=mode, k=10, boosts=boosts)
    monkeypatch.setattr(S, "EXHAUSTIVE_CUTOFF", 0)
    a = search_topk(reader, terms, mode=mode, k=10, boosts=boosts)
    assert_same_topk(a, b)


def test_boost_distributed_matches_oracle(reader, duck):
    terms, mode, boosts = ["join", "hash"], "conjunctive", {"hash": 3.0}
    got = [
        (r.doc_id, r.score)
        for r in search_distributed(reader, terms, mode=mode, boosts=boosts).collect()
    ]
    want = [tuple(r) for r in duck.execute(bm25_oracle_sql(terms, mode, boosts=boosts)).fetchall()]
    assert got == want


def test_boost_changes_ranking(reader):
    plain = [d for d, _ in search_topk(reader, ["the", "dup"], "disjunctive", k=10)]
    damped = [
        d for d, _ in search_topk(
            reader, ["the", "dup"], "disjunctive", k=10, boosts={"dup": 0.01}
        )
    ]
    assert plain != damped  # dup-dominant docs lose their lead


def test_boost_via_query_syntax(reader):
    assert search(reader, "the OR dup^0.25", k=5) == search_topk(
        reader, ["the", "dup"], mode="disjunctive", k=5, boosts={"dup": 0.25}
    )
    with pytest.raises(ValueError):
        search_topk(reader, ["the"], boosts={"the": -1.0})


def test_boost_one_is_identity(reader):
    a = search_topk(reader, ["join", "hash"], k=10)
    b = search_topk(reader, ["join", "hash"], k=10, boosts={"join": 1.0})
    assert a == b


def test_boosted_wildcard_and_overlap_policies(reader):
    """Review regressions: 'sp*^2' boosts every expansion; 'spark NOT sp*'
    returns [] (required term consumed by an exclusion expansion); NaN and
    absent-term boosts are rejected on every path."""
    import math

    assert search(reader, "sp*^2", k=5) == search_topk(
        reader, ["spark"], mode="disjunctive", k=5, boosts={"spark": 2.0}
    )
    assert search(reader, "dup OR s*^0.5", k=5) == search_topk(
        reader,
        ["dup", "scan", "slow", "small", "sort", "spark", "stream"],
        mode="disjunctive", k=5,
        boosts={t: 0.5 for t in ["scan", "slow", "small", "sort", "spark", "stream"]},
    )
    assert search(reader, "spark NOT sp*", k=5) == []
    # explicit boost wins over a wildcard-propagated one in EITHER token
    # order (r2 ADVICE: wildcard-after-explicit used to overwrite it)
    assert search(reader, "spark^2 OR sp*^3", k=5) == search(
        reader, "sp*^3 OR spark^2", k=5
    )
    assert search(reader, "spark^2 OR sp*^3", k=5) == search_topk(
        reader, ["spark"], mode="disjunctive", k=5, boosts={"spark": 2.0}
    )
    with pytest.raises(ValueError):
        search_topk(reader, ["the"], boosts={"the": math.nan})
    with pytest.raises(ValueError):
        search_topk(reader, ["the"], boosts={"absent_term": -1.0})
    with pytest.raises(ValueError):
        search_distributed(reader, ["the"], boosts={"the": math.nan})
