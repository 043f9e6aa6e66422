"""minimum_should_match (A49 — ES/Lucene BooleanQuery.setMinimumNumberShouldMatch):
a disjunctive query with a floor on how many distinct terms must hit a doc.
m=1 is plain OR, m=n is AND; scores always sum over ALL matched terms."""

from __future__ import annotations

import pytest

from miru_spark.plans.relational import bm25_oracle_sql
from miru_spark.plans.search import search_exhaustive, search_topk

TERMS5 = ["join", "hash", "dup", "tree", "node"]


def test_mm_extremes_equal_or_and(reader):
    base_or = search_topk(reader, TERMS5, "disjunctive", k=25)
    assert search_topk(reader, TERMS5, "disjunctive", k=25, min_match=1) == base_or
    mm_all = search_topk(reader, TERMS5, "disjunctive", k=25, min_match=5)
    conj = search_topk(reader, TERMS5, "conjunctive", k=25)
    # same doc set; scores identical (sum over all five matched terms)
    assert mm_all == conj


def test_mm_monotone_and_match_floor(reader):
    """Raising m shrinks the candidate set, and every returned doc matches
    >= m terms (checked against per-term hit sets)."""
    per_term = {
        t: {d for d, _ in search_topk(reader, [t], "disjunctive", k=10**9)}
        for t in TERMS5
    }
    prev: set | None = None
    for m in range(1, 6):
        hits = search_topk(reader, TERMS5, "disjunctive", k=10**9, min_match=m)
        docs = {d for d, _ in hits}
        for d in docs:
            assert sum(d in s for s in per_term.values()) >= m, (d, m)
        if prev is not None:
            assert docs <= prev
        prev = docs


@pytest.mark.parametrize("m", [2, 3, 4])
def test_mm_wand_equals_exhaustive(reader, m, monkeypatch):
    """min_match > 1 stays on the driver kernel past the cutoff (the
    distributed plan has no match floor). (Historical name: the path past
    the cutoff was WAND.)"""
    from miru_spark.plans import search as S

    exh = search_exhaustive(reader, TERMS5, "disjunctive", k=10, min_match=m)
    monkeypatch.setattr(S, "EXHAUSTIVE_CUTOFF", 0)
    assert search_topk(
        reader, TERMS5, "disjunctive", k=10, min_match=m
    ) == exh


def test_mm_matches_duckdb_oracle(reader, duck):
    for m in (2, 3):
        got = [
            (d, round(s, 6))
            for d, s in search_topk(
                reader, TERMS5, "disjunctive", k=10, min_match=m
            )
        ]
        exp = duck.execute(
            bm25_oracle_sql(TERMS5, "disjunctive", k=10, min_match=m)
        ).fetchall()
        assert got == [(int(d), float(s)) for d, s in exp], m


def test_mm_above_term_count_matches_nothing(reader):
    assert search_topk(reader, ["join", "hash"], "disjunctive", k=10,
                       min_match=3) == []
    # missing terms can't count toward the floor either
    assert search_topk(reader, ["join", "zzz_not_in_vocab"], "disjunctive",
                       k=10, min_match=2) == []


def test_mm_validation(reader):
    with pytest.raises(ValueError, match="min_match"):
        search_topk(reader, TERMS5, "conjunctive", k=5, min_match=2)
    with pytest.raises(ValueError, match="min_match"):
        search_topk(reader, TERMS5, "disjunctive", k=5, min_match=0)


def test_mm_composes_with_not_and_filter(reader):
    """The floor counts only positive-term matches; NOT and metadata
    filters drop docs without disturbing scores of survivors."""
    base = search_topk(reader, TERMS5, "disjunctive", k=10**9, min_match=2)
    not_dup = search_topk(
        reader, TERMS5[:2] + TERMS5[3:], "disjunctive", k=10**9,
        min_match=2, exclude=["dup"],
    )
    dup_docs = {d for d, _ in search_topk(reader, ["dup"], "disjunctive", k=10**9)}
    assert all(d not in dup_docs for d, _ in not_dup)
    lang = search_topk(
        reader, TERMS5, "disjunctive", k=10**9, min_match=2,
        where={"lang": "en"},
    )
    base_scores = dict(base)
    for d, s in lang:
        assert base_scores[d] == s  # filtered survivors keep their scores
