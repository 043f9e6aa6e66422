"""Metadata-filtered search (A34): ``where=`` on every serving path and
the ``field:value`` query grammar.

Semantics under test are Lucene's filtered query: the filter restricts
WHICH docs may match, but scores of surviving docs are the corpus-wide
BM25 scores (df/avgdl unchanged) — so a filtered top-k must equal
"unfiltered ranking, drop ineligible docs, take k".
"""
from __future__ import annotations

import numpy as np
import pytest

from miru_spark.plans.search import (
    search,
    search_distributed,
    search_exhaustive,
    search_many,
    search_near,
    search_phrase,
    search_topk,
)
from tests.conftest import assert_same_topk

@pytest.fixture(scope="module")
def reader_pos(spark, tmp_path_factory):
    from miru_spark.index.reader import IndexReader
    from miru_spark.index.writer import build_index
    from miru_spark.schema import read_corpus
    from tests.conftest import SF_DIR

    p = str(tmp_path_factory.mktemp("fidx") / "idx")
    build_index(spark, read_corpus(spark, SF_DIR), p, num_partitions=4,
                positions=True, target_chunk=64)
    return IndexReader(spark, p)


WHERE_LANG = {"lang": "en"}
WHERE_IN = {"lang": ["fr", "es"]}
WHERE_TWO = {"lang": "en", "repo": "web"}


def _postfilter(reader, terms, mode, where, k=10):
    """Ground truth: unfiltered ranking with unbounded k, then drop docs
    outside the allowlist, then take k."""
    allow = set(int(d) for d in reader.filter_doc_ids(where))
    full = search_topk(reader, terms, mode=mode, k=10**9)
    return [(d, s) for d, s in full if d in allow][:k]


def test_filter_doc_ids_matches_docmap(reader):
    ids = reader.filter_doc_ids(WHERE_LANG)
    via_spark = sorted(
        r.doc_id
        for r in reader.docmap_df().filter("lang = 'en'").select("doc_id").collect()
    )
    assert ids.tolist() == via_spark
    assert np.all(np.diff(ids) > 0)  # sorted unique
    # IN-list form
    ids_in = reader.filter_doc_ids(WHERE_IN)
    via_spark_in = sorted(
        r.doc_id
        for r in reader.docmap_df()
        .filter("lang in ('fr','es')")
        .select("doc_id")
        .collect()
    )
    assert ids_in.tolist() == via_spark_in


def test_filter_unknown_column_raises(reader):
    with pytest.raises(ValueError, match="unknown docmap column"):
        reader.filter_doc_ids({"nope": "x"})
    with pytest.raises(ValueError, match="unknown docmap column"):
        search_distributed(reader, ["the"], where={"nope": "x"}).collect()


@pytest.mark.parametrize("mode", ["conjunctive", "disjunctive"])
@pytest.mark.parametrize("where", [WHERE_LANG, WHERE_IN, WHERE_TWO])
def test_filtered_topk_is_postfiltered_ranking(reader, mode, where):
    terms = ["the", "a"]
    got = search_topk(reader, terms, mode=mode, k=10, where=where)
    assert got == _postfilter(reader, terms, mode, where, k=10)


@pytest.mark.parametrize("mode", ["conjunctive", "disjunctive"])
def test_filtered_strategies_agree(reader, mode, monkeypatch):
    """The driver allowlist mask == the distributed semi-join search_topk
    routes to past the cutoff — both routes rank identically under a
    filter."""
    from miru_spark.plans import search as S

    terms = ["the", "dup", "a"]
    exh = search_topk(reader, terms, mode=mode, k=10, where=WHERE_LANG)
    assert exh == search_exhaustive(
        reader, terms, mode=mode, k=10, where=WHERE_LANG
    )
    monkeypatch.setattr(S, "EXHAUSTIVE_CUTOFF", 0)
    assert_same_topk(
        search_topk(reader, terms, mode=mode, k=10, where=WHERE_LANG), exh
    )


def test_filter_composes_with_not_and_boosts(reader):
    got = search_topk(
        reader,
        ["the", "a"],
        mode="conjunctive",
        k=10,
        exclude=["dup"],
        boosts={"a": 2.0},
        where=WHERE_LANG,
    )
    allow = set(int(d) for d in reader.filter_doc_ids(WHERE_LANG))
    full = search_topk(
        reader, ["the", "a"], mode="conjunctive", k=10**9,
        exclude=["dup"], boosts={"a": 2.0},
    )
    assert got == [(d, s) for d, s in full if d in allow][:10]


def test_empty_allowlist_returns_empty(reader):
    assert search_topk(
        reader, ["the"], mode="disjunctive", k=10, where={"lang": "xx"}
    ) == []
    assert search_many(
        reader, [(["the"], "disjunctive")], k=10, where={"lang": "xx"}
    ) == [[]]


def test_search_many_filtered_matches_per_query(reader):
    qs = [(["the", "a"], "conjunctive"), (["dup", "the"], "disjunctive")]
    batched = search_many(reader, qs, k=10, where=WHERE_IN)
    for (terms, mode), got in zip(qs, batched):
        assert got == search_topk(reader, terms, mode=mode, k=10, where=WHERE_IN)


def test_phrase_and_near_filtered(reader_pos):
    """Filtered phrase/near == unfiltered result intersected with the
    allowlist (scores unchanged for survivors)."""
    allow = set(int(d) for d in reader_pos.filter_doc_ids(WHERE_LANG))
    full = search_phrase(reader_pos, "the a", k=10**9)
    got = search_phrase(reader_pos, "the a", k=10, where=WHERE_LANG)
    assert got == [(d, s) for d, s in full if d in allow][:10]
    full_n = search_near(reader_pos, "the", "dup", slop=5, k=10**9)
    got_n = search_near(reader_pos, "the", "dup", slop=5, k=10, where=WHERE_LANG)
    assert got_n == [(d, s) for d, s in full_n if d in allow][:10]


def test_distributed_filtered_matches_driver(reader):
    rows = search_distributed(
        reader, ["the", "a"], mode="conjunctive", k=10, where=WHERE_IN
    ).collect()
    got = sorted(
        ((r.doc_id, round(r.score, 6)) for r in rows),
        key=lambda t: (-t[1], t[0]),
    )
    want = [
        (d, round(s, 6))
        for d, s in search_topk(
            reader, ["the", "a"], mode="conjunctive", k=10, where=WHERE_IN
        )
    ]
    assert got == want


# ------------------------------------------------------ ranges (A35) --

def test_range_filter_doc_ids_matches_docmap(reader):
    from miru_spark.filters import Range

    ids = reader.filter_doc_ids({"doc_len": Range(gte=40, lte=60)})
    via_spark = sorted(
        r.doc_id
        for r in reader.docmap_df()
        .filter("doc_len between 40 and 60")
        .select("doc_id")
        .collect()
    )
    assert ids.tolist() == via_spark
    # half-open + strict bounds + string lexicographic
    ids2 = reader.filter_doc_ids({"doc_len": Range(gt=40, lt=60)})
    via2 = sorted(
        r.doc_id
        for r in reader.docmap_df()
        .filter("doc_len > 40 and doc_len < 60")
        .select("doc_id")
        .collect()
    )
    assert ids2.tolist() == via2
    lex = reader.filter_doc_ids({"lang": Range(gte="en", lt="fr")})
    via_lex = sorted(
        r.doc_id
        for r in reader.docmap_df()
        .filter("lang >= 'en' and lang < 'fr'")
        .select("doc_id")
        .collect()
    )
    assert lex.tolist() == via_lex


def test_range_filtered_topk_is_postfiltered_ranking(reader):
    from miru_spark.filters import Range

    where = {"doc_len": Range(gte=40, lte=60)}
    got = search_topk(reader, ["the", "a"], mode="conjunctive", k=10, where=where)
    assert got == _postfilter(reader, ["the", "a"], "conjunctive", where, k=10)


def test_range_distributed_matches_driver(reader):
    from miru_spark.filters import Range

    where = {"doc_len": Range(gte=40, lte=60), "lang": "en"}
    rows = search_distributed(
        reader, ["the", "a"], mode="conjunctive", k=10, where=where
    ).collect()
    got = sorted(
        ((r.doc_id, round(r.score, 6)) for r in rows),
        key=lambda t: (-t[1], t[0]),
    )
    want = [
        (d, round(s, 6))
        for d, s in search_topk(
            reader, ["the", "a"], mode="conjunctive", k=10, where=where
        )
    ]
    assert got == want


def test_range_grammar(reader):
    from miru_spark.filters import Range

    where = {"doc_len": Range(gte=40, lte=60)}
    want = search_topk(reader, ["the", "a"], mode="conjunctive", k=10, where=where)
    # bracket syntax (inclusive), comparison-token syntax, open bound
    assert search(reader, "the AND a doc_len:[40 TO 60]") == want
    assert search(reader, "the AND a doc_len:>=40 doc_len:<=60") == want
    assert search(reader, "doc_len:[40 TO *] the AND a") == search_topk(
        reader, ["the", "a"], mode="conjunctive", k=10,
        where={"doc_len": Range(gte=40)},
    )
    # exclusive brackets
    assert search(reader, "the AND a doc_len:{40 TO 60}") == search_topk(
        reader, ["the", "a"], mode="conjunctive", k=10,
        where={"doc_len": Range(gt=40, lt=60)},
    )
    # ranges compose with equality filters on OTHER columns and with phrase
    assert search(reader, "lang:en the AND a doc_len:[40 TO 60]") == search_topk(
        reader, ["the", "a"], mode="conjunctive", k=10,
        where={"doc_len": Range(gte=40, lte=60), "lang": "en"},
    )


def test_range_grammar_errors(reader):
    from miru_spark.filters import Range

    with pytest.raises(ValueError, match="not an integer"):
        search(reader, "the doc_len:[x TO 60]")
    with pytest.raises(ValueError, match="conflicting lower"):
        search(reader, "the doc_len:>=4 doc_len:>6")
    with pytest.raises(ValueError, match="both equality and range"):
        search(reader, "the lang:en lang:[aa TO bb]")
    with pytest.raises(ValueError, match="two open bounds"):
        search(reader, "the doc_len:[* TO *]")
    with pytest.raises(ValueError, match="at most one lower"):
        Range(gte=1, gt=2)
    with pytest.raises(ValueError, match="at least one bound"):
        Range()


def test_range_phrase_composition(reader_pos):
    from miru_spark.filters import Range

    where = {"doc_len": Range(gte=40)}
    allow = set(int(d) for d in reader_pos.filter_doc_ids(where))
    full = search_phrase(reader_pos, "the a", k=10**9)
    got = search(reader_pos, '"the a" doc_len:[40 TO *]')
    assert got == [(d, s) for d, s in full if d in allow][:10]


def test_field_value_grammar(reader):
    assert search(reader, "lang:en the AND a") == search_topk(
        reader, ["the", "a"], mode="conjunctive", k=10, where=WHERE_LANG
    )
    # repeated field ORs into an IN-list
    assert search(reader, "lang:fr lang:es the OR dup") == search_topk(
        reader, ["the", "dup"], mode="disjunctive", k=10, where=WHERE_IN
    )
    # a colon token whose prefix is NOT a metadata column stays a term
    # (matches nothing in this corpus -> conjunctive empty)
    assert search(reader, "foo:bar AND the") == []
    # filters alone are not a query
    with pytest.raises(ValueError, match="positive term"):
        search(reader, "lang:en")


# ---- A34b Prefix metadata filter ---------------------------------------------


def test_prefix_filter_matches_postfilter(reader, monkeypatch):
    """where={col: Prefix(p)} == filtering the unfiltered ranking's docs by
    startswith on the docmap, on both sides of the routing cutoff and the
    distributed path; the pyarrow and Spark predicates agree doc-for-doc."""
    from miru_spark.filters import Prefix
    from miru_spark.plans import search as S
    from miru_spark.plans.search import search_distributed, search_topk

    spec = {"path": Prefix("doc_0001")}
    full = search_topk(reader, ["the"], mode="disjunctive", k=10**9)
    paths = {
        r.doc_id: r.path
        for r in reader.docmap_df().select("doc_id", "path").collect()
    }
    want = [(d, round(s, 6)) for d, s in full
            if paths[d].startswith("doc_0001")][:10]
    for cutoff in (S.EXHAUSTIVE_CUTOFF, 0):
        monkeypatch.setattr(S, "EXHAUSTIVE_CUTOFF", cutoff)
        got = [
            (d, round(s, 6))
            for d, s in search_topk(reader, ["the"], mode="disjunctive",
                                    k=10, where=spec)
        ]
        assert got == want and got, cutoff
    dist = [
        (int(r.doc_id), float(r.score))
        for r in search_distributed(reader, ["the"], mode="disjunctive",
                                    k=10, where=spec).collect()
    ]
    assert dist == want
    ids = reader.filter_doc_ids(spec)
    assert sorted(int(i) for i in ids) == sorted(
        d for d, p in paths.items() if p.startswith("doc_0001")
    )


def test_prefix_upper_bound_and_validation():
    from miru_spark.filters import Prefix

    assert Prefix("abc").upper_bound() == "abd"
    assert Prefix("ab" + chr(0x10FFFF)).upper_bound() == "ac"
    assert Prefix(chr(0x10FFFF)).upper_bound() is None
    assert Prefix("a") == Prefix("a") and Prefix("a") != Prefix("b")
    with pytest.raises(ValueError):
        Prefix("")


def test_prefix_ending_before_surrogates_serves(reader):
    """A prefix ending in U+D7FF bounds at U+E000, past the surrogate
    block: a lone surrogate cannot be UTF-8-encoded into the pyarrow scan
    bound, so the driver filter used to raise instead of answering."""
    from miru_spark.filters import Not, Prefix

    assert Prefix("doc_0001\ud7ff").upper_bound() == "doc_0001\ue000"
    assert Prefix("a\ud800").upper_bound() == "a\ue000"
    assert search_topk(
        reader, ["the"], mode="disjunctive", k=10,
        where={"path": Prefix("doc_0001\ud7ff")},
    ) == []
    # negated, the same bound keeps every doc
    spec = {"path": Not(Prefix("doc_0001\ud7ff"))}
    assert search_topk(reader, ["the"], mode="disjunctive", k=10, where=spec) \
        == search_topk(reader, ["the"], mode="disjunctive", k=10)


def test_not_filter_matches_postfilter(reader):
    """Not() over scalar / IN / Prefix equals the complement postfilter on
    driver and distributed paths; Not composes with positive specs in one
    where=; Not(Not(...)) rejected."""
    from miru_spark.filters import Not, Prefix
    from miru_spark.plans.search import search_distributed, search_topk

    meta = {
        r.doc_id: (r.lang, r.path)
        for r in reader.docmap_df().select("doc_id", "lang", "path").collect()
    }
    full = search_topk(reader, ["the"], mode="disjunctive", k=10**9)
    cases = [
        ({"lang": Not("en")}, lambda m: m[0] != "en"),
        ({"lang": Not(["zh", "fr"])}, lambda m: m[0] not in ("zh", "fr")),
        ({"path": Not(Prefix("doc_000"))},
         lambda m: not m[1].startswith("doc_000")),
        ({"lang": Not(["zh", "fr"]), "path": Not(Prefix("doc_000"))},
         lambda m: m[0] not in ("zh", "fr") and not m[1].startswith("doc_000")),
    ]
    for where, pred in cases:
        want = [(d, round(s, 6)) for d, s in full if pred(meta[d])][:10]
        got = [
            (d, round(s, 6))
            for d, s in search_topk(reader, ["the"], mode="disjunctive",
                                    k=10, where=where)
        ]
        assert got == want and got, where
        dist = [
            (int(r.doc_id), float(r.score))
            for r in search_distributed(reader, ["the"], mode="disjunctive",
                                        k=10, where=where).collect()
        ]
        assert dist == want, where
    with pytest.raises(ValueError, match="unwrap"):
        Not(Not("en"))
