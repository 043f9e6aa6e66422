from __future__ import annotations

import pytest

from miru_spark.plans.search import parse_query, search, search_topk


def test_parse_query():
    assert parse_query("join AND hash") == (["join", "hash"], "conjunctive", [])
    assert parse_query("join OR hash OR dup") == (
        ["join", "hash", "dup"], "disjunctive", [],
    )
    assert parse_query("join hash") == (["join", "hash"], "conjunctive", [])
    with pytest.raises(ValueError):
        parse_query("a AND b OR c")


def test_search_wrapper_matches_topk(reader):
    assert search(reader, "join AND hash", k=5) == search_topk(
        reader, ["join", "hash"], mode="conjunctive", k=5
    )
    assert search(reader, "the OR dup", k=5) == search_topk(
        reader, ["the", "dup"], mode="disjunctive", k=5
    )
    assert search(reader, "the AND a NOT dup", k=5) == search_topk(
        reader, ["the", "a"], mode="conjunctive", k=5, exclude=["dup"]
    )


def test_parse_query_phrase():
    assert parse_query('"the a"') == (["the", "a"], "phrase", [])
    assert parse_query('  "data the table" ') == (["data", "the", "table"], "phrase", [])


def test_search_phrase_via_parser(spark, tmp_path_factory):
    from miru_spark.index.reader import IndexReader
    from miru_spark.index.writer import build_index
    from miru_spark.plans.search import search_phrase
    from miru_spark.schema import read_corpus
    from tests.conftest import SF_DIR

    p = str(tmp_path_factory.mktemp("qidx") / "i")
    build_index(spark, read_corpus(spark, SF_DIR), p, num_partitions=4,
                positions=True)
    r = IndexReader(spark, p)
    assert search(r, '"the a"') == search_phrase(r, "the a")


def test_search_many_matches_individual(reader, monkeypatch):
    import json

    from miru_spark.plans.search import search_many, search_topk

    with open("tests/queries_sf.json") as f:
        qs = [(q["terms"], q["mode"]) for q in json.load(f)][:20]
    batched = search_many(reader, qs, k=10)
    for (terms, mode), got in zip(qs, batched):
        assert got == search_topk(reader, terms, mode=mode, k=10)
    # past the routing cutoff the batch hands each query to the distributed
    # plan and still agrees (shared TermPostings are not mutated)
    from miru_spark.plans import search as S
    from tests.conftest import assert_same_topk

    monkeypatch.setattr(S, "EXHAUSTIVE_CUTOFF", 0)
    qs = qs[:4]
    for (terms, mode), got in zip(qs, search_many(reader, qs, k=10)):
        assert_same_topk(got, search_topk(reader, terms, mode=mode, k=10))


def test_snippets_match_oracle(spark, reader, duck):
    from miru_spark.plans.relational import snippet_oracle_sql
    from miru_spark.plans.search import search_topk, snippets_for_hits
    from miru_spark.schema import read_corpus
    from tests.conftest import SF_DIR

    hits = search_topk(reader, ["join", "hash"], mode="conjunctive", k=10)
    got = [
        (r.doc_id, r.snippet)
        for r in snippets_for_hits(
            read_corpus(spark, SF_DIR), [d for d, _ in hits], ["join", "hash"]
        ).collect()
    ]
    want = [
        tuple(r)
        for r in duck.execute(
            snippet_oracle_sql(["join", "hash"], "conjunctive", k=10)
        ).fetchall()
    ]
    assert got == want
    assert all(("join" in s.split()) or ("hash" in s.split()) for _, s in got)


def test_search_count_matches_oracle(reader, duck):
    from miru_spark.plans.relational import count_oracle_sql
    from miru_spark.plans.search import search_count

    for terms, mode, excl in [
        (["join", "hash"], "conjunctive", None),
        (["the"], "disjunctive", ["dup"]),
    ]:
        got = search_count(reader, terms, mode=mode, exclude=excl).first().n_hits
        want = duck.execute(count_oracle_sql(terms, mode, exclude=excl)).fetchone()[0]
        assert got == want


def test_more_like_this(spark, reader, duck):
    from miru_spark.plans.relational import mlt_oracle_sql
    from miru_spark.plans.search import more_like_this
    from miru_spark.schema import read_corpus
    from tests.conftest import SF_DIR

    corpus = read_corpus(spark, SF_DIR)
    got = [(d, round(s, 6)) for d, s in more_like_this(reader, 7, corpus)]
    want = [tuple(r) for r in duck.execute(mlt_oracle_sql(7)).fetchall()]
    assert got == want
    assert 7 not in {d for d, _ in got}
    with pytest.raises(ValueError):
        more_like_this(reader, 10**9, corpus)


def test_snippets_empty_for_termless_docs(spark, reader, duck):
    """A doc containing none of the terms gets '' — not its leading window
    (greatest/least skip NULLs in both engines; regression for that trap)."""
    from pyspark.sql import functions as F

    from miru_spark.plans.search import snippets_for_hits
    from miru_spark.schema import read_corpus
    from tests.conftest import SF_DIR

    corpus = read_corpus(spark, SF_DIR)
    # 'dup' occurs in few docs: pick one dup-doc and two docs WITHOUT dup
    dup_docs = {r.doc_id for r in corpus.filter(
        F.concat(F.lit(" "), F.col("content"), F.lit(" ")).contains(" dup ")
    ).select("doc_id").collect()}
    without = sorted(set(range(20)) - dup_docs)[:2]
    ids = sorted(list(dup_docs)[:1] + without)
    out = {r.doc_id: r.snippet for r in snippets_for_hits(corpus, ids, ["dup"]).collect()}
    for d in without:
        assert out[d] == ""
    assert any("dup" in s.split() for s in out.values())


def test_parse_query_never_crashes():
    """Robustness fuzz: arbitrary query strings either parse or raise
    ValueError — never IndexError/TypeError/AttributeError."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(st.text(max_size=40))
    @settings(max_examples=300, deadline=None)
    def run(q):
        try:
            terms, mode, exclude = parse_query(q)
        except ValueError:
            return
        assert isinstance(terms, list) and terms
        assert mode in ("conjunctive", "disjunctive", "phrase") or mode.startswith("near:")
        assert isinstance(exclude, list)

    run()
