"""The one routing cutoff. Past ``EXHAUSTIVE_CUTOFF`` summed df,
``search_topk`` and ``search_many`` hand a query to ``search_distributed``
and must still answer like the DuckDB twin; ``min_match > 1`` and
``feature=`` queries stay on the driver kernel at every size."""

from __future__ import annotations

import pytest

from miru_spark.plans import search as S
from miru_spark.plans.rankfeature import RankFeature
from miru_spark.plans.relational import bm25_oracle_sql
from tests.conftest import SF_DIR, assert_same_topk

HIT_TERMS = ["join", "hash"]


@pytest.fixture(scope="module")
def tomb_reader(spark, reader, tmp_path_factory):
    """A fresh index of the test corpus with the top ``join AND hash`` hit
    tombstoned."""
    from miru_spark.index.reader import IndexReader
    from miru_spark.index.writer import build_index, delete_docs
    from miru_spark.schema import read_corpus

    p = str(tmp_path_factory.mktemp("cutoff") / "idx")
    build_index(spark, read_corpus(spark, SF_DIR), p, num_partitions=4,
                target_chunk=64)
    top = S.search_exhaustive(reader, HIT_TERMS, k=1)[0][0]
    delete_docs(p, [top])
    return IndexReader(spark, p), top


def _oracle(duck, terms, mode, k=10, **kw):
    return duck.execute(bm25_oracle_sql(terms, mode, k=k, **kw)).fetchall()


def test_past_cutoff_routes_to_distributed_and_matches_twin(
    reader, duck, tomb_reader, monkeypatch
):
    cases = [
        (HIT_TERMS, "conjunctive", {}, {}),
        (["the", "dup", "a"], "disjunctive", {}, {}),
        (["the", "a"], "conjunctive", {"exclude": ["dup"]},
         {"exclude": ["dup"]}),
        (["the", "dup"], "disjunctive", {"where": {"lang": "en"}},
         {"meta_where": "lang = 'en'"}),
    ]
    want = [_oracle(duck, t, m, **okw) for t, m, _, okw in cases]
    page_want = _oracle(duck, ["the", "a"], "disjunctive", k=10)
    treader, dead = tomb_reader
    tomb_want = _oracle(duck, HIT_TERMS, "conjunctive",
                        raw_where=f"doc_id <> {dead}")
    mm_drv = S.search_topk(reader, ["the", "dup", "a"], "disjunctive",
                           min_match=2)
    feat = RankFeature("doc_len", kind="saturation", pivot=40.0, boost=2.0)
    feat_drv = S.search_topk(reader, ["the", "dup"], "disjunctive",
                             feature=feat)

    calls = []
    dist = S.search_distributed
    monkeypatch.setattr(S, "EXHAUSTIVE_CUTOFF", 0)
    monkeypatch.setattr(
        S, "search_distributed",
        lambda *a, **kw: calls.append(a[1]) or dist(*a, **kw),
    )
    for (terms, mode, kw, _), w in zip(cases, want):
        assert_same_topk(S.search_topk(reader, terms, mode, **kw), w)
    assert len(calls) == len(cases)
    batch = S.search_many(reader, [(t, m) for t, m, kw, _ in cases if not kw])
    for got, w in zip(batch, want):
        assert_same_topk(got, w)
    p1 = S.search_topk(reader, ["the", "a"], "disjunctive", k=5)
    p2 = S.search_topk(reader, ["the", "a"], "disjunctive", k=5,
                       after=(p1[-1][1], p1[-1][0]))
    assert_same_topk(p1 + p2, page_want)
    got = S.search_topk(treader, HIT_TERMS, "conjunctive")
    assert dead not in {d for d, _ in got}
    assert_same_topk(got, tomb_want)

    n = len(calls)
    assert S.search_topk(reader, ["the", "dup", "a"], "disjunctive",
                         min_match=2) == mm_drv
    assert S.search_topk(reader, ["the", "dup"], "disjunctive",
                         feature=feat) == feat_drv
    assert mm_drv and feat_drv and len(calls) == n  # both stayed on the driver
