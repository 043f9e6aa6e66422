"""Full Porter stemmer (Lucene PorterStemFilter / ES porter_stem):
algorithm pins, analyzer-chain twin identity, dictionary-side scale path,
and the driver composite case vs its generated oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from miru_spark.functions.porter import (
    _measure,
    porter_stem,
    porter_stem_case_sql,
    stem_corpus_dict,
    stem_dictionary,
)
from miru_spark.functions.tokenize import tokenize_py, tokens_col

# full-pipeline outputs, each hand-traced through the 1980 paper's rules
PINNED = {
    "caresses": "caress", "ponies": "poni", "ties": "ti", "cats": "cat",
    "caress": "caress", "feed": "feed", "agreed": "agre",
    "plastered": "plaster", "bled": "bled", "motoring": "motor",
    "sing": "sing", "hopping": "hop", "tanned": "tan", "falling": "fall",
    "hissing": "hiss", "fizzed": "fizz", "failing": "fail",
    "filing": "file", "happy": "happi", "sky": "sky", "running": "run",
    "goodness": "good", "hopefulness": "hope", "controlling": "control",
    "generalization": "gener", "oscillators": "oscil",
    "troubled": "troubl", "troubles": "troubl", "trouble": "troubl",
    "argument": "argument", "arguments": "argument",
    "relational": "relat", "relations": "relat",
    "adjustable": "adjust", "adjustment": "adjust",
    "a": "a", "is": "is", "be": "be",
}

# measure examples straight from the paper
MEASURES = {
    "tr": 0, "ee": 0, "tree": 0, "y": 0, "by": 0,
    "trouble": 1, "oats": 1, "trees": 1, "ivy": 1,
    "troubles": 2, "private": 2, "oaten": 2, "orrery": 2,
}


def test_pinned_pairs():
    for w, s in PINNED.items():
        assert porter_stem(w) == s, (w, s, porter_stem(w))


def test_measure_paper_examples():
    for w, m in MEASURES.items():
        assert _measure(w) == m, (w, m, _measure(w))


def test_case_sql_twin(duck):
    """The generated CASE maps a vocabulary exactly like porter_stem."""
    words = sorted(PINNED)
    sql = porter_stem_case_sql(words, var="w")
    got = duck.execute(
        f"SELECT w, {sql} FROM (SELECT unnest(?) AS w)", [words]
    ).fetchall()
    assert dict(got) == {w: porter_stem(w) for w in words}


def test_udf_chain_matches_tokenize_py(spark):
    texts = [
        "Running RELATIONS and the troubled oscillators",
        "hopefulness is not hopeful generalizations",
        "a an controlled CONTROLLING adjustment",
        "",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "content string")
    got = [
        r["toks"]
        for r in df.select(
            tokens_col("content", "porter").alias("toks")
        ).collect()
    ]
    assert got == [tokenize_py(t, "porter") for t in texts]


def test_stem_dictionary(spark):
    vocab = spark.createDataFrame(
        [(w,) for w in sorted(PINNED)], "term string"
    )
    got = {r["term"]: r["stem"] for r in stem_dictionary(vocab).collect()}
    assert got == {w: porter_stem(w) for w in PINNED}


def test_dict_path_token_identical_to_udf_path(spark):
    """The 100-TB shape (distinct vocab -> stem O(|vocab|) in Python ->
    broadcast join back) produces token-for-token the same corpus as the
    per-row porter UDF — zero-token docs (empty, all-stopword) included."""
    rows = [
        (0, "Running relations and troubled TROUBLES"),
        (1, "generalization generalizations controlling"),
        (2, "the hopefulness of adjustable adjustment is"),
        (3, "oscillators oscillating controlled hopeful"),
        (4, ""),
        (5, "the of and is"),
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, content string")
    udf_toks = {
        r["doc_id"]: r["toks"]
        for r in corpus.select(
            "doc_id", tokens_col("content", "porter").alias("toks")
        ).collect()
    }
    stemmed = stem_corpus_dict(corpus)
    assert stemmed.columns == corpus.columns
    dict_toks = {
        r["doc_id"]: r["toks"]
        for r in stemmed.select(
            "doc_id", tokens_col("content", "whitespace").alias("toks")
        ).collect()
    }
    assert dict_toks == udf_toks
    assert udf_toks[4] == udf_toks[5] == []
    # and the stemming genuinely changed something
    assert udf_toks[0] == ["run", "relat", "troubl", "troubl"]


def test_driver_case_matches_oracle(spark, duck):
    from miru_spark.plans.index_suite import _porter_tok_sql, q_porter
    from miru_spark.plans.relational import bm25_oracle_sql

    got = sorted(
        (int(r["doc_id"]), float(r["score"]))
        for r in q_porter(spark, "/root/testdata/sf0.001").collect()
    )
    exp = sorted(
        (int(d), float(s))
        for d, s in duck.execute(
            bm25_oracle_sql(
                ["run", "relat"], "conjunctive", tok_sql=_porter_tok_sql()
            )
        ).fetchall()
    )
    assert got == exp
    assert got, "conjunctive [run, relat] must match some docs"


def test_same_stem_unifies_inflections(spark):
    """'hope' (disjunctive) reaches docs that contained only 'hopefulness'
    or only 'hopeful' — the unification minimal stemming can't do."""
    from miru_spark.index.reader import IndexReader
    from miru_spark.plans.index_suite import _PORTER_IDX, q_porter
    from miru_spark.plans.search import search_topk

    q_porter(spark, "/root/testdata/sf0.001")  # ensure index built
    reader = IndexReader(spark, _PORTER_IDX["/root/testdata/sf0.001"])
    hits = search_topk(reader, ["hope"], mode="disjunctive", k=10**9)
    assert hits
    # every word list position producing 'hopefulness' (10) or
    # 'hopeful' (11) must be covered: docs where (3d+i) % 16 in {10, 11}
    dm = reader.docmap_df().select("doc_id").collect()
    expect = {
        int(r["doc_id"])
        for r in dm
        if any((3 * int(r["doc_id"]) + i) % 16 in (10, 11) for i in range(3))
    }
    assert {d for d, _ in hits} == expect


def test_validation():
    with pytest.raises(Exception):
        tokenize_py("x", "no_such_mode")
    # short tokens pass through
    assert porter_stem("as") == "as"
