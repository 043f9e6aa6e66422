"""Nested boolean queries (A56 — Lucene BooleanQuery trees).

The strongest check here is a pure-Python reference evaluator over the raw
corpus: it recomputes BM25 from scratch (df/dl/avgdl from tokenized text)
and applies the tree semantics doc-by-doc, sharing NO code with the engine.
Driver path, distributed path, and the DuckDB oracle must all agree with it.
"""

from __future__ import annotations

import math

import pytest

from miru_spark.filters import Range

from miru_spark.plans.booltree import (
    BAnd,
    BNot,
    BOr,
    BPhrase,
    BTerm,
    bool_oracle_sql,
    parse_bool,
    search_bool,
    search_bool_distributed,
)
from miru_spark.plans.search import search, search_topk

SF_DIR = "/root/testdata/sf0.001"

TREES = [
    "(join OR hash) AND (sort OR merge)",
    "(the AND data) OR dup",
    "(join OR hash) AND sort NOT (tree OR node)",
    "a AND (b OR c) AND NOT dup",
    "join AND hash OR dup",  # mixed flat -> (join AND hash) OR dup
    "(join^2 OR hash) AND the",
]


# ---------------------------------------------------------------------------
# reference evaluator (no engine code)


def _ref_corpus(spark):
    rows = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    docs = {int(r["doc_id"]): r["text"].split() for r in rows}
    n = len(docs)
    dl = {d: len(t) for d, t in docs.items()}
    avgdl = sum(dl.values()) / n
    df: dict[str, int] = {}
    for toks in docs.values():
        for t in set(toks):
            df[t] = df.get(t, 0) + 1
    return docs, dl, avgdl, n, df


def _ref_contrib(docs, dl, avgdl, n, df, doc, term):
    tf = docs[doc].count(term)
    if tf == 0:
        return None
    idf = math.log(1 + (n - df[term] + 0.5) / (df[term] + 0.5))
    return idf * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl[doc] / avgdl))


def _ref_eval(node, ctx, doc):
    """-> (matches: bool, score: float) under Lucene BooleanQuery rules."""
    docs, dl, avgdl, n, df = ctx
    if isinstance(node, BTerm):
        c = _ref_contrib(docs, dl, avgdl, n, df, doc, node.term)
        return (c is not None), (c or 0.0) * node.boost
    if isinstance(node, BPhrase):
        toks = docs[doc]
        hit = any(
            toks[i : i + len(node.tokens)] == list(node.tokens)
            for i in range(len(toks) - len(node.tokens) + 1)
        )
        if not hit:
            return False, 0.0
        s = sum(
            _ref_contrib(docs, dl, avgdl, n, df, doc, t) or 0.0
            for t in dict.fromkeys(node.tokens)
        )
        return True, s
    if isinstance(node, BOr):
        parts = [_ref_eval(c, ctx, doc) for c in node.children]
        return any(m for m, _ in parts), sum(s for m, s in parts if m)
    if isinstance(node, BAnd):
        pos = [c for c in node.children if not isinstance(c, BNot)]
        neg = [c.child for c in node.children if isinstance(c, BNot)]
        pparts = [_ref_eval(c, ctx, doc) for c in pos]
        if not all(m for m, _ in pparts):
            return False, 0.0
        if any(_ref_eval(nn, ctx, doc)[0] for nn in neg):
            return False, 0.0
        return True, sum(s for _, s in pparts)
    raise TypeError(node)


def _ref_topk(node, ctx, k=10):
    hits = []
    for d in ctx[0]:
        m, s = _ref_eval(node, ctx, d)
        if m:
            hits.append((d, round(s, 6)))
    hits.sort(key=lambda x: (-x[1], x[0]))
    return hits[:k]


@pytest.fixture(scope="module")
def ref_ctx(spark):
    return _ref_corpus(spark)


# ---------------------------------------------------------------------------
# parser


def test_parse_precedence_and_shapes():
    assert parse_bool("a AND b OR c") == BOr(
        (BAnd((BTerm("a"), BTerm("b"))), BTerm("c"))
    )
    assert parse_bool("a OR b AND c") == BOr(
        (BTerm("a"), BAnd((BTerm("b"), BTerm("c"))))
    )
    assert parse_bool("(a OR b) AND c") == BAnd(
        (BOr((BTerm("a"), BTerm("b"))), BTerm("c"))
    )
    # adjacency = implicit AND, same default as the flat grammar
    assert parse_bool("a b OR c") == BOr((BAnd((BTerm("a"), BTerm("b"))), BTerm("c")))
    assert parse_bool("a NOT b") == BAnd((BTerm("a"), BNot(BTerm("b"))))
    assert parse_bool("a AND NOT (b OR c)") == BAnd(
        (BTerm("a"), BNot(BOr((BTerm("b"), BTerm("c")))))
    )
    assert parse_bool('x AND "a b"') == BAnd((BTerm("x"), BPhrase(("a", "b"))))
    assert parse_bool("a^2.5 OR b") == BOr((BTerm("a", 2.5), BTerm("b")))
    assert parse_bool("(a)") == BTerm("a")


@pytest.mark.parametrize(
    "bad",
    [
        "",
        "(a OR b",
        "a )",
        "a OR",
        "AND a",
        "a OR NOT b",  # must_not outside an AND scope
        "NOT a",  # pure negative
        "NOT a NOT b",
        "a (NOT b)",  # parens make the NOT its own pure-negative scope
        '"unterminated',
        "()",
        "a^0 AND b",
        "(sp* OR join) AND hash",  # wildcard = flat-grammar rewrite only
        "(join~ OR hash) AND a",   # fuzzy likewise
        "(tcp|ip) AND a",          # synonym groups likewise
        '("a b"~2) AND c',         # slop phrases likewise
    ],
)
def test_parse_rejects(bad):
    with pytest.raises(ValueError):
        parse_bool(bad)


# ---------------------------------------------------------------------------
# driver path vs reference / flat paths


@pytest.mark.parametrize("q", TREES)
def test_tree_matches_reference(reader, ref_ctx, q):
    assert search_bool(reader, q, k=10) == _ref_topk(parse_bool(q), ref_ctx)


def _r6(hits):
    return [(d, round(s, 6)) for d, s in hits]


def test_tree_flat_compat(reader):
    assert search_bool(reader, "join AND hash", k=10) == _r6(
        search_topk(reader, ["join", "hash"], "conjunctive", k=10)
    )
    assert search_bool(reader, "join OR hash OR dup", k=10) == _r6(
        search_topk(reader, ["join", "hash", "dup"], "disjunctive", k=10)
    )
    assert search_bool(reader, "the AND a NOT dup", k=10) == _r6(
        search_topk(reader, ["the", "a"], "conjunctive", k=10, exclude=["dup"])
    )


def test_nonmatching_subtree_scores_zero(reader, ref_ctx):
    """(a AND zzz) OR the: the AND clause never matches (zzz not in vocab),
    so hits must score ONLY the 'the' contribution — presence of 'a' in the
    doc contributes nothing (Lucene clause semantics, not flat-sum)."""
    got = search_bool(reader, "(a AND zzz_not_in_vocab) OR the", k=10)
    flat = _r6(search_topk(reader, ["the"], "disjunctive", k=10))
    assert got == flat


def test_tree_grammar_via_search(reader):
    got = search(reader, "(join OR hash) AND (sort OR merge)", k=10)
    assert got == search_bool(reader, "(join OR hash) AND (sort OR merge)", k=10)
    # mixed AND/OR now routes to the tree instead of raising
    assert search(reader, "join AND hash OR dup", k=10) == search_bool(
        reader, "join AND hash OR dup", k=10
    )
    # range filters still extract before the tree parse
    filtered = search(reader, "(join OR hash) AND sort doc_len:[40 TO 200]", k=10)
    assert filtered == search_bool(
        reader,
        "(join OR hash) AND sort",
        k=10,
        where={"doc_len": Range(gte=40, lte=200)},
    )


@pytest.fixture(scope="module")
def pos_reader(spark, tmp_path_factory):
    from miru_spark.index.reader import IndexReader
    from miru_spark.index.writer import build_index
    from miru_spark.schema import read_corpus

    p = str(tmp_path_factory.mktemp("btree_pos") / "idx")
    build_index(
        spark, read_corpus(spark, SF_DIR), p, num_partitions=4,
        positions=True, target_chunk=64,
    )
    return IndexReader(spark, p)


def test_phrase_leaf(pos_reader, ref_ctx):
    q = '(join OR hash) AND "the a"'
    got = search_bool(pos_reader, q, k=10)
    assert got == _ref_topk(parse_bool(q), ref_ctx)
    assert got  # non-vacuous: the phrase occurs in the corpus
    # a NOT-side phrase excludes exactly the docs containing it
    q2 = 'the NOT "the a"'
    assert search_bool(pos_reader, q2, k=10) == _ref_topk(parse_bool(q2), ref_ctx)


def test_where_composes(reader, ref_ctx, duck):
    got = search_bool(reader, "(join OR hash) AND the", k=10, where={"lang": "en"})
    exp = duck.execute(
        bool_oracle_sql("(join OR hash) AND the", k=10, meta_where="lang = 'en'")
    ).fetchall()
    assert got == [(int(d), float(s)) for d, s in exp]
    assert got


# ---------------------------------------------------------------------------
# distributed path + oracle


@pytest.mark.parametrize("q", [TREES[0], TREES[2], TREES[4], TREES[5]])
def test_distributed_matches_driver(reader, q):
    got = [
        (int(r["doc_id"]), float(r["score"]))
        for r in search_bool_distributed(reader, q, k=10).collect()
    ]
    assert got == search_bool(reader, q, k=10)
    assert got


@pytest.mark.parametrize("q", [TREES[0], TREES[1], TREES[2], TREES[3], TREES[5]])
def test_tree_matches_duck_oracle(reader, duck, q):
    exp = duck.execute(bool_oracle_sql(q, k=10)).fetchall()
    assert search_bool(reader, q, k=10) == [(int(d), float(s)) for d, s in exp]


def test_distributed_phrase_needs_positions(reader):
    with pytest.raises(ValueError, match="positional"):
        search_bool_distributed(reader, '(a OR b) AND "c d"').collect()


@pytest.mark.parametrize(
    "q",
    [
        '(join OR hash) AND "the a"',
        'the NOT "the a"',
        '"the a" OR sort',
        'filter AND "zzz yyy"',  # absent phrase terms: phrase matches nothing
    ],
)
def test_distributed_phrase_leaf_matches_driver(pos_reader, q):
    got = [
        (int(r["doc_id"]), float(r["score"]))
        for r in search_bool_distributed(pos_reader, q, k=10).collect()
    ]
    assert got == search_bool(pos_reader, q, k=10), q


@pytest.mark.parametrize("q", ['(join OR hash) AND "the a"', '"the a" OR sort'])
def test_phrase_tree_matches_duck_oracle(pos_reader, duck, q):
    exp = duck.execute(bool_oracle_sql(q, k=10)).fetchall()
    assert search_bool(pos_reader, q, k=10) == [
        (int(d), float(s)) for d, s in exp
    ], q


def test_tree_respects_tombstones(spark, tmp_path):
    from miru_spark.index.reader import IndexReader
    from miru_spark.index.writer import build_index, delete_docs
    from miru_spark.schema import read_corpus

    p = str(tmp_path / "idx")
    build_index(spark, read_corpus(spark, SF_DIR), p, num_partitions=4)
    r = IndexReader(spark, p)
    q = "(join OR hash) AND the"
    before = search_bool(r, q, k=5)
    assert before
    delete_docs(p, [before[0][0]])
    r2 = IndexReader(spark, p)
    after = search_bool(r2, q, k=5)
    assert before[0][0] not in [d for d, _ in after]
    dist = [
        (int(x["doc_id"]), float(x["score"]))
        for x in search_bool_distributed(r2, q, k=5).collect()
    ]
    assert dist == after


def test_distributed_plan_is_codegen(reader):
    """The tree's match/score evaluation must compile to Catalyst
    expressions (no Python row evaluation after the decode)."""
    df = search_bool_distributed(reader, "(join OR hash) AND sort NOT dup", k=10)
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    explained = df._jdf.queryExecution().explainString(mode)
    # exactly one Python crossing: the mapInArrow chunk decode
    assert explained.count("ArrowEvalPython") == 0
    assert explained.count("BatchEvalPython") == 0
    assert "TakeOrderedAndProject" in explained


# ---------------------------------------------------------------------------
# constant_score + boosting (ES constant_score / boosting queries)

from miru_spark.plans.booltree import (  # noqa: E402
    boosting_oracle_sql,
    constant_score_oracle_sql,
    search_boosting,
    search_constant_score,
)


def test_constant_score_matches_oracle(reader, duck):
    q = "(join OR hash) AND sort"
    got = search_constant_score(reader, q, boost=1.5, k=10)
    exp = duck.execute(constant_score_oracle_sql(q, boost=1.5, k=10)).fetchall()
    assert got == [(int(d), float(s)) for d, s in exp]
    assert got and all(s == 1.5 for _, s in got)
    # same docs as the scored tree, order by doc_id
    scored = {d for d, _ in search_bool(reader, q, k=10**9)}
    assert {d for d, _ in search_constant_score(reader, q, k=10**9)} == scored


def test_boosting_demotes_not_excludes(reader, ref_ctx):
    """Docs matching the negative tree stay in the results with
    score * negative_boost; boolean NOT would drop them entirely."""
    pos, neg, nb = "the OR a", "dup", 0.25
    got = search_boosting(reader, pos, neg, negative_boost=nb, k=10**9)
    base = dict(search_bool(reader, pos, k=10**9, round_digits=None))
    neg_docs = {d for d, _ in search_bool(reader, "dup OR dup", k=10**9)}
    assert {d for d, _ in got} == set(base)  # nothing excluded
    for d, s in got:
        want = base[d] * nb if d in neg_docs else base[d]
        assert s == round(want, 6), (d, s, want)
    assert any(d in neg_docs for d, _ in got)  # non-vacuous


def test_boosting_matches_oracle(reader, duck):
    pos, neg = "(join OR hash) AND the", "dup OR tree"
    got = search_boosting(reader, pos, neg, negative_boost=0.3, k=10)
    exp = duck.execute(
        boosting_oracle_sql(pos, neg, negative_boost=0.3, k=10)
    ).fetchall()
    assert got == [(int(d), float(s)) for d, s in exp]
    assert got


def test_boosting_validation(reader):
    with pytest.raises(ValueError):
        search_boosting(reader, "a", "b", negative_boost=1.5)
    with pytest.raises(ValueError):
        search_boosting(reader, "a", "NOT b")  # negative side still validates


# ---------------------------------------------------------------------------
# property fuzz: random trees vs the reference evaluator


def test_random_trees_match_reference(reader, ref_ctx):
    """Deterministic random-tree fuzz (seeded; no hypothesis shrinking
    needed since the generator is pure): 40 random trees over the corpus
    vocabulary, driver path vs the pure-Python reference evaluator."""
    import random

    rng = random.Random(20260818)
    vocab = ["the", "a", "data", "join", "hash", "dup", "sort", "merge",
             "tree", "node", "scan", "slow"]

    def gen(depth: int):
        r = rng.random()
        if depth >= 3 or r < 0.35:
            t = rng.choice(vocab)
            return t + ("^2" if rng.random() < 0.2 else "")
        kids = [gen(depth + 1) for _ in range(rng.randint(2, 3))]
        if r < 0.65:
            return "(" + " OR ".join(kids) + ")"
        expr = "(" + " AND ".join(kids)
        if rng.random() < 0.4:
            expr += " NOT " + rng.choice(vocab)
        return expr + ")"

    checked = 0
    for _ in range(40):
        q = gen(0)
        try:
            node = parse_bool(q)
        except ValueError:
            continue  # e.g. same term required and negated after collapse
        got = search_bool(reader, q, k=15)
        want = _ref_topk(node, ref_ctx, k=15)
        assert got == want, q
        checked += 1
    assert checked >= 35  # the generator must mostly produce valid trees


def test_auto_routes_to_distributed_past_cutoff(reader, monkeypatch):
    """Hot-leaf trees fall through to search_bool_distributed without the
    caller asking (VERDICT r4 #4), identical results, where= included."""
    from miru_spark.plans import booltree as B
    from miru_spark.plans import search as S

    q = "(the AND data) OR dup"
    drv = search_bool(reader, q, k=10, strategy="driver")
    assert B.LAST_ROUTE == "driver"
    monkeypatch.setattr(S, "EXHAUSTIVE_CUTOFF", 0)
    assert search_bool(reader, q, k=10) == drv
    assert B.LAST_ROUTE == "distributed"
    w = {"lang": ["en"]}
    want = search_bool(reader, q, k=10, where=w, strategy="driver")
    assert search_bool(reader, q, k=10, where=w) == want
    assert B.LAST_ROUTE == "distributed"
    with pytest.raises(ValueError):
        search_bool(reader, q, strategy="bogus")
