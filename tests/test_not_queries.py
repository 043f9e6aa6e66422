"""Boolean NOT (posting-list difference) across all serving paths.

Contract: ``exclude`` drops every doc containing ANY excluded term; excluded
terms never contribute to scores. All three paths — the driver's vectorized
kernel, the distributed DataFrame plan, the relational twin — must be
rank-identical to each other and to the DuckDB oracle.
"""

from __future__ import annotations

import pytest

from miru_spark.plans.relational import bm25_oracle_sql, bm25_search_relational
from miru_spark.plans.search import (
    parse_query,
    search_distributed,
    search_exhaustive,
    search_topk,
)
from miru_spark.schema import read_corpus
from tests.conftest import SF_DIR, assert_same_topk

NOT_QUERIES = [
    (["join", "hash"], "conjunctive", ["tree"]),
    (["the", "a"], "conjunctive", ["dup"]),
    (["the", "dup"], "disjunctive", ["join", "hash"]),
    (["join"], "conjunctive", ["zzz_missing"]),  # excluded term absent: no-op
    (["dup"], "disjunctive", ["the"]),  # hot exclusion nearly empties results
]


def _oracle(duck, terms, mode, exclude, k=10):
    sql = bm25_oracle_sql(terms, mode, k=k, exclude=exclude)
    return [(d, s) for d, s in duck.execute(sql).fetchall()]


@pytest.mark.parametrize("terms,mode,excl", NOT_QUERIES, ids=lambda x: str(x))
def test_not_fast_path_matches_oracle(reader, duck, terms, mode, excl):
    got = search_topk(reader, terms, mode=mode, k=10, exclude=excl)
    assert [(d, round(s, 6)) for d, s in got] == _oracle(duck, terms, mode, excl)


@pytest.mark.parametrize("terms,mode,excl", NOT_QUERIES, ids=lambda x: str(x))
def test_not_wand_equals_exhaustive(reader, terms, mode, excl, monkeypatch):
    """NOT past the cutoff (search_distributed's anti-join) ranks like the
    driver kernel. (Historical name: the path past the cutoff was WAND.)"""
    from miru_spark.plans import search as S

    ex = search_exhaustive(reader, terms, mode=mode, k=10, exclude=excl)
    monkeypatch.setattr(S, "EXHAUSTIVE_CUTOFF", 0)
    fast = search_topk(reader, terms, mode=mode, k=10, exclude=excl)
    assert_same_topk(fast, ex)


@pytest.mark.parametrize(
    "terms,mode,excl",
    [(["the", "a"], "conjunctive", ["dup"]), (["the", "dup"], "disjunctive", ["join"])],
    ids=lambda x: str(x),
)
def test_not_distributed_matches_oracle(reader, duck, terms, mode, excl):
    got = [
        (r.doc_id, r.score)
        for r in search_distributed(reader, terms, mode=mode, exclude=excl).collect()
    ]
    assert got == _oracle(duck, terms, mode, excl)


def test_not_relational_twin_matches_oracle(spark, duck):
    corpus = read_corpus(spark, SF_DIR)
    got = [
        (r.doc_id, r.score)
        for r in bm25_search_relational(
            corpus, ["the", "a"], mode="conjunctive", exclude=["dup"]
        ).collect()
    ]
    assert got == _oracle(duck, ["the", "a"], "conjunctive", ["dup"])


def test_excluded_docs_absent_and_scores_unchanged(reader):
    """NOT only removes docs — survivors keep their exact non-NOT scores."""
    base = dict(search_topk(reader, ["the", "a"], mode="conjunctive", k=1000))
    excl_hits = {d for d, _ in search_topk(reader, ["dup"], "disjunctive", k=1000)}
    got = search_topk(
        reader, ["the", "a"], mode="conjunctive", k=1000, exclude=["dup"]
    )
    assert excl_hits and not ({d for d, _ in got} & excl_hits)
    for d, s in got:
        assert s == pytest.approx(base[d], abs=1e-12)


def test_conflicting_term_raises(reader):
    with pytest.raises(ValueError):
        search_topk(reader, ["the"], exclude=["the"])
    with pytest.raises(ValueError):
        search_distributed(reader, ["the"], exclude=["the"])


def test_parse_query_not():
    assert parse_query("join AND hash NOT tree") == (
        ["join", "hash"], "conjunctive", ["tree"],
    )
    assert parse_query("the OR dup NOT join NOT hash") == (
        ["the", "dup"], "disjunctive", ["join", "hash"],
    )
    assert parse_query("join NOT tree") == (["join"], "conjunctive", ["tree"])
    with pytest.raises(ValueError):
        parse_query("NOT tree")  # no positive term
    with pytest.raises(ValueError):
        parse_query("join NOT")  # dangling NOT
    with pytest.raises(ValueError):
        parse_query("join NOT AND tree")  # NOT must bind a term
