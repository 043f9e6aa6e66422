"""Interval queries (Lucene IntervalQuery / ES intervals) — A84."""

from __future__ import annotations

import numpy as np
import pytest

from miru_spark.plans.intervals import (
    IAllOf,
    IAnyOf,
    IPhrase,
    ITerm,
    _eval_doc,
    intervals_oracle_sql,
    leaf_terms,
    search_intervals,
)


@pytest.fixture(scope="module")
def pos_reader(spark, tmp_path_factory):
    from miru_spark.index.reader import IndexReader
    from miru_spark.index.writer import build_index
    from miru_spark.schema import read_corpus
    from tests.conftest import SF_DIR

    p = str(tmp_path_factory.mktemp("ividx") / "idx")
    build_index(spark, read_corpus(spark, SF_DIR), p, num_partitions=4,
                positions=True, target_chunk=64)
    return IndexReader(spark, p)


SPECS = [
    ITerm("dup"),
    IPhrase(("the", "a")),
    IAnyOf((IPhrase(("tree", "node")), IPhrase(("join", "hash")))),
    IAllOf((ITerm("the"), ITerm("a"), ITerm("data")), ordered=True,
           max_gaps=6),
    IAllOf((ITerm("join"),
            IAnyOf((ITerm("hash"), IPhrase(("tree", "node"))))),
           ordered=False, max_gaps=3),
    IAllOf((IPhrase(("the", "a")), ITerm("zzz_missing")), ordered=True),
]


@pytest.mark.parametrize("spec", SPECS, ids=lambda s: type(s).__name__)
def test_intervals_match_oracle(pos_reader, duck, spec):
    got = search_intervals(pos_reader, spec, k=10)
    exp = duck.execute(intervals_oracle_sql(spec, k=10)).fetchall()
    assert got == [(int(d), float(s)) for d, s in exp]


def test_ordered_gap0_pair_is_phrase(pos_reader):
    """all_of(ordered, max_gaps=0, [a, b]) == the exact phrase 'a b'."""
    from miru_spark.plans.search import search_phrase

    iv = search_intervals(
        pos_reader,
        IAllOf((ITerm("the"), ITerm("a")), ordered=True, max_gaps=0),
        k=10**9,
    )
    ph = search_phrase(pos_reader, "the a", k=10**9)
    assert {d for d, _ in iv} == {d for d, _ in ph}


def test_unordered_pair_is_near(pos_reader):
    """unordered two terms with max_gaps=G matches exactly near slop=G+1:
    gaps = |pa - pb| - 1 for two width-1 leaves."""
    from miru_spark.plans.search import search_near

    for g in (0, 1, 3):
        iv = search_intervals(
            pos_reader,
            IAllOf((ITerm("join"), ITerm("hash")), ordered=False, max_gaps=g),
            k=10**9,
        )
        nr = search_near(pos_reader, "join", "hash", slop=g + 1, k=10**9)
        assert {d for d, _ in iv} == {d for d, _ in nr}, g


def test_any_of_is_union(pos_reader):
    a, b = ITerm("dup"), IPhrase(("tree", "node"))
    u = {d for d, _ in search_intervals(pos_reader, IAnyOf((a, b)), k=10**9)}
    ua = {d for d, _ in search_intervals(pos_reader, a, k=10**9)}
    ub = {d for d, _ in search_intervals(pos_reader, b, k=10**9)}
    assert u == ua | ub


def test_match_set_monotone_in_max_gaps(pos_reader):
    prev: set[int] = set()
    for g in (0, 2, 4, 8, 1 << 20):
        cur = {
            d
            for d, _ in search_intervals(
                pos_reader,
                IAllOf((ITerm("the"), ITerm("a"), ITerm("data")),
                       ordered=True, max_gaps=g),
                k=10**9,
            )
        }
        assert prev <= cur
        prev = cur
    # unbounded == huge budget
    unb = {
        d
        for d, _ in search_intervals(
            pos_reader,
            IAllOf((ITerm("the"), ITerm("a"), ITerm("data")), ordered=True),
            k=10**9,
        )
    }
    assert prev == unb


def test_eval_doc_handcrafted():
    toks = "the a dup the b a tree node hash".split()
    pos_of: dict[str, list[int]] = {}
    for i, t in enumerate(toks):
        pos_of.setdefault(t, []).append(i)
    pm = {t: np.array(v) for t, v in pos_of.items()}
    # phrase at (0,1) then dup at 2: ordered, 0 gaps
    assert _eval_doc(
        IAllOf((IPhrase(("the", "a")), ITerm("dup")), ordered=True,
               max_gaps=0), pm
    ) == [(0, 2)]
    # ordered needs strict order: dup before phrase fails
    assert _eval_doc(
        IAllOf((ITerm("dup"), IPhrase(("the", "a"))), ordered=True,
               max_gaps=0), pm
    ) == []
    # ...but a later 'the a'? positions of the: 0,3; a: 1,5 — no consecutive
    # pair after 2, so still empty; unordered with budget matches
    assert _eval_doc(
        IAllOf((ITerm("dup"), IPhrase(("the", "a"))), ordered=False,
               max_gaps=0), pm
    ) == [(0, 2)]
    # nested any_of picks the nearer alternative
    got = _eval_doc(
        IAllOf((ITerm("b"),
                IAnyOf((ITerm("hash"), IPhrase(("tree", "node"))))),
               ordered=False, max_gaps=1), pm
    )
    assert got == [(4, 7)]


def test_pinned_divergence_corner():
    """The documented EXISTS-over-all vs minimal-interval corner: a WIDER
    same-source child interval fills the span and passes a gap budget that
    the contained minimal interval misses. Pinned: we match."""
    # child A = unordered(x, y) has intervals (0,5) [x@0,y@5] and (2,3)
    # [x@2? no — craft positions so A yields a wide and a narrow interval]
    toks = "x q y x y q z".split()
    pm = {
        t: np.array([i for i, w in enumerate(toks) if w == t])
        for t in set(toks)
    }
    inner = IAllOf((ITerm("x"), ITerm("y")), ordered=False)
    ivs = _eval_doc(inner, pm)
    assert (0, 2) in ivs and (0, 4) in ivs  # narrow and wide both exist
    # outer: inner + z@6, unordered, max_gaps=1:
    #   wide (3,4): span 3..6 = 4, widths 2+1 = 3, gaps 1  -> match
    #   narrow-only world would give gaps >= 2 -> no match
    outer = IAllOf((inner, ITerm("z")), ordered=False, max_gaps=1)
    assert _eval_doc(outer, pm) != []


@pytest.mark.parametrize("spec", SPECS[2:], ids=lambda s: type(s).__name__)
def test_distributed_matches_driver(pos_reader, spec):
    """The cluster-scale occurrence-join plan returns exactly the
    driver-side evaluator's results (same pinned semantics, same rank)."""
    from miru_spark.plans.intervals import search_intervals_distributed

    drv = search_intervals(pos_reader, spec, k=10)
    dist = [
        (int(r["doc_id"]), float(r["score"]))
        for r in search_intervals_distributed(pos_reader, spec, k=10).collect()
    ]
    assert dist == drv


def test_distributed_plan_is_jvm_side(pos_reader):
    """Everything after the Arrow position decode stays in Catalyst: the
    interval joins and gap filters are codegen expressions, not Python."""
    from miru_spark.plans.intervals import search_intervals_distributed

    df = search_intervals_distributed(pos_reader, SPECS[3], k=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "mapInPandas" not in plan.lower()


def test_intervals_validation(pos_reader, reader):
    with pytest.raises(ValueError):
        IAllOf((), ordered=True)
    with pytest.raises(ValueError):
        IAnyOf(())
    with pytest.raises(ValueError):
        IAllOf((ITerm("a"),), max_gaps=-1)
    with pytest.raises(ValueError):
        IPhrase(("single",))
    with pytest.raises(ValueError):  # non-positional index
        search_intervals(reader, ITerm("the"))
    assert leaf_terms(SPECS[4]) == ["join", "hash", "tree", "node"]


# ---------------------------------------------------------------------------
# Round 5: the batched evaluator (_eval_tree_vec) replaced the
# per-candidate Python DFS inside search_intervals. _eval_doc stays as the
# semantics reference; this fuzz pins the two 1:1 — matched doc sets AND
# the full satisfying-interval relations — across random corpora and trees.


def _random_spec(rng, terms, depth=0):
    roll = rng.random()
    if depth >= 2 or roll < 0.25:
        return ITerm(rng.choice(terms))
    if roll < 0.40:
        n = rng.integers(2, 4)
        return IPhrase(tuple(rng.choice(terms) for _ in range(n)))
    kids = tuple(
        _random_spec(rng, terms, depth + 1)
        for _ in range(rng.integers(1, 4))
    )
    if roll < 0.65:
        return IAnyOf(kids)
    gaps = None if rng.random() < 0.4 else int(rng.integers(0, 8))
    return IAllOf(kids, ordered=bool(rng.integers(0, 2)), max_gaps=gaps)


def test_vectorized_eval_fuzz_matches_dfs():
    from miru_spark.plans.intervals import _eval_tree_vec

    rng = np.random.default_rng(84)
    terms = ["a", "b", "c", "d"]
    for trial in range(60):
        n_docs = int(rng.integers(1, 12))
        pos_by_doc = []
        for _ in range(n_docs):
            pm = {}
            for t in terms:
                n = int(rng.integers(0, 6))
                if n:
                    pm[t] = np.sort(
                        rng.choice(np.arange(25), size=n, replace=False)
                    ).astype(np.int64)
            pos_by_doc.append(pm)
        occ = {}
        for t in terms:
            rs, ps = [], []
            for d, pm in enumerate(pos_by_doc):
                if t in pm:
                    rs.append(np.full(pm[t].size, d, dtype=np.int64))
                    ps.append(pm[t])
            if rs:
                occ[t] = (np.concatenate(rs), np.concatenate(ps))
        spec = _random_spec(rng, terms)
        vr, vs, ve = _eval_tree_vec(spec, occ)
        got = {}
        for r, s, e in zip(vr.tolist(), vs.tolist(), ve.tolist()):
            got.setdefault(r, []).append((s, e))
        want = {
            d: _eval_doc(spec, pm)
            for d, pm in enumerate(pos_by_doc)
            if _eval_doc(spec, pm)
        }
        assert got == want, (trial, spec)


def test_auto_routes_to_distributed_past_cutoff(pos_reader, monkeypatch):
    """Hot-leaf trees must fall through to the distributed plan without
    the caller asking (VERDICT r4 #4), with identical results."""
    from miru_spark.plans import intervals as iv
    from miru_spark.plans import search as S

    spec = SPECS[3]
    drv = search_intervals(pos_reader, spec, k=10, strategy="driver")
    assert iv.LAST_ROUTE == "driver"
    monkeypatch.setattr(S, "EXHAUSTIVE_CUTOFF", 0)
    routed = search_intervals(pos_reader, spec, k=10)
    assert iv.LAST_ROUTE == "distributed"
    assert routed == drv
    # where= pins the driver path (the distributed plan has no filters)
    search_intervals(pos_reader, spec, k=10, where={"lang": ["en"]})
    assert iv.LAST_ROUTE == "driver"
    with pytest.raises(ValueError):
        search_intervals(
            pos_reader, spec, strategy="distributed", where={"lang": ["en"]}
        )
    with pytest.raises(ValueError):
        search_intervals(pos_reader, spec, strategy="bogus")
