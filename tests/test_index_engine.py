from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from miru_spark.functions.codecs import CODEC_PFOR, CODEC_VARINT
from miru_spark.index.reader import IndexReader
from miru_spark.index.writer import build_index, read_manifest
from miru_spark.plans.relational import bm25_oracle_sql
from miru_spark.plans.search import search_distributed, search_exhaustive, search_topk
from miru_spark.schema import read_corpus
from tests.conftest import SF_DIR, assert_same_topk

QUERIES = [
    (["join", "hash"], "conjunctive"),
    (["the", "a", "data"], "conjunctive"),
    (["dup"], "conjunctive"),
    (["join", "dup"], "disjunctive"),
    (["join", "hash", "dup", "sort", "merge"], "disjunctive"),
    (["the", "a"], "disjunctive"),
    (["zzz_missing"], "disjunctive"),
    (["the", "zzz_missing"], "conjunctive"),
]


def _oracle(duck, terms, mode, k=10):
    return [
        (d, s) for d, s in duck.execute(bm25_oracle_sql(terms, mode, k=k)).fetchall()
    ]


@pytest.mark.parametrize("terms,mode", QUERIES, ids=lambda x: str(x))
def test_fast_path_matches_oracle(reader, duck, terms, mode):
    got = search_topk(reader, terms, mode=mode, k=10)
    got_rounded = [(d, round(s, 6)) for d, s in got]
    assert got_rounded == _oracle(duck, terms, mode)


@pytest.mark.parametrize("terms,mode", QUERIES, ids=lambda x: str(x))
def test_bmw_equals_exhaustive(reader, terms, mode, monkeypatch):
    """The route past the cutoff (search_distributed) ranks like the driver
    kernel. (Historical name: the path past the cutoff was WAND.)"""
    from miru_spark.plans import search as S

    ex = search_exhaustive(reader, terms, mode=mode, k=10)
    monkeypatch.setattr(S, "EXHAUSTIVE_CUTOFF", 0)
    assert_same_topk(search_topk(reader, terms, mode=mode, k=10), ex)


@pytest.mark.parametrize(
    "terms,mode",
    [(["join", "hash"], "conjunctive"), (["the", "dup"], "disjunctive")],
    ids=lambda x: str(x),
)
def test_distributed_matches_oracle(reader, duck, terms, mode):
    got = [(r.doc_id, r.score) for r in search_distributed(reader, terms, mode).collect()]
    assert got == _oracle(duck, terms, mode)


def test_multi_bucket_chunks_exist(reader):
    buckets = (
        reader.postings_df()
        .groupBy("term")
        .agg(F.countDistinct("bucket").alias("nb"))
        .filter(F.col("nb") > 1)
        .count()
    )
    assert buckets > 0, "target_chunk=64 should split hot terms across buckets"


def test_sha256_invariant(spark, reader, index_path):
    src = read_corpus(spark, SF_DIR).select(
        "doc_id", F.sha2("content", 256).alias("expected")
    )
    dm = reader.docmap_df().select("doc_id", "content_sha256")
    bad = dm.join(src, "doc_id").filter(
        F.col("content_sha256") != F.col("expected")
    ).count()
    assert bad == 0
    assert dm.count() == src.count()


def test_tf_sums_to_doc_len(reader):
    # sum of tf over all postings == total token count; df table == chunk sums
    chunks = reader.postings_df()
    dm = reader.docmap_df()
    total_tokens = dm.agg(F.sum("doc_len")).collect()[0][0]
    df_tbl = reader.df_df()
    chunk_df = chunks.groupBy("term").agg(F.sum("df_chunk").alias("df2"))
    mism = (
        df_tbl.join(chunk_df, "term", "full")
        .filter(F.col("df").isNull() | F.col("df2").isNull() | (F.col("df") != F.col("df2")))
        .count()
    )
    assert mism == 0
    assert reader.stats["n_tokens"] == total_tokens


def test_determinism_across_parallelism(spark, tmp_path, reader, duck):
    """Same logical index content + same results at a different partitioning
    (the sandbox stand-in for N vs 4N executors)."""
    p2 = str(tmp_path / "idx2")
    build_index(
        spark,
        read_corpus(spark, SF_DIR),
        p2,
        num_partitions=2,
        codec=CODEC_PFOR,
        target_chunk=96,
    )
    r2 = IndexReader(spark, p2)
    for terms, mode in QUERIES[:4]:
        a = search_topk(reader, terms, mode=mode, k=10)
        b = search_topk(r2, terms, mode=mode, k=10)
        assert [d for d, _ in a] == [d for d, _ in b]
        np.testing.assert_allclose([s for _, s in a], [s for _, s in b], atol=1e-9)
    # full logical posting-list equality for a hot and a rare term
    for term in ("the", "dup"):
        tp1, tp2 = reader.fetch_terms([term])[term], r2.fetch_terms([term])[term]
        a = reader.decode_term(tp1)
        b = r2.decode_term(tp2)
        for x, y in zip(a, b):
            np.testing.assert_array_equal(x, y)


def test_resume_matches_uninterrupted(spark, tmp_path, reader):
    """Simulate executor loss: commit only half the partitions, then resume;
    the final index must match the uninterrupted build."""
    import json
    import shutil

    p3 = str(tmp_path / "idx3")
    build_index(spark, read_corpus(spark, SF_DIR), p3, num_partitions=8, target_chunk=64)
    man = read_manifest(p3)
    # truncate: keep 4 committed partitions, delete the others' segment dirs
    keep = sorted(man["partitions"], key=int)[:4]
    man["partitions"] = {k: man["partitions"][k] for k in keep}
    with open(f"{p3}/manifest.json", "w") as f:
        json.dump(man, f)
    import os

    for d in os.listdir(f"{p3}/segments"):
        pid = d.split("=")[-1]
        if d.startswith("partition_id=") and pid not in keep:
            shutil.rmtree(f"{p3}/segments/{d}")
    man2 = build_index(
        spark, read_corpus(spark, SF_DIR), p3, num_partitions=8, target_chunk=64,
        resume=True,
    )
    assert man2["metrics"]["resumed_partitions"] == [int(k) for k in keep]
    assert man2["metrics"]["built_docs"] < 500
    r3 = IndexReader(spark, str(p3))
    for terms, mode in QUERIES[:3]:
        assert search_topk(r3, terms, mode=mode, k=10) == search_topk(
            reader, terms, mode=mode, k=10
        )
    # checksums per partition equal the uninterrupted reference build
    ref = read_manifest(str(reader.index_path))["partitions"]
    for pid, seg in man2["partitions"].items():
        assert seg["checksum_xxh64_xor"] == ref[pid]["checksum_xxh64_xor"]


# ---------------------------------------------------- positional phrase ----

@pytest.fixture(scope="module")
def pos_index(spark, tmp_path_factory):
    from miru_spark.index.reader import IndexReader
    from miru_spark.index.writer import build_index
    from miru_spark.schema import read_corpus

    p = str(tmp_path_factory.mktemp("posidx") / "sf0001")
    build_index(
        spark, read_corpus(spark, SF_DIR), p, num_partitions=8,
        target_chunk=64, positions=True,
    )
    return IndexReader(spark, p)


@pytest.mark.parametrize("phrase", ["the a", "data the table", "join hash", "a a"])
def test_phrase_index_matches_relational_twin(spark, pos_index, phrase):
    """Index-served phrase search (positions, no corpus access) must equal
    the relational twin (BM25 candidates + token-sequence verify)."""
    from miru_spark.plans.relational import bm25_phrase_search
    from miru_spark.plans.search import search_phrase
    from miru_spark.schema import read_corpus

    got = search_phrase(pos_index, phrase, k=10)
    want = [
        (r.doc_id, r.score)
        for r in bm25_phrase_search(read_corpus(spark, SF_DIR), phrase, k=10).collect()
    ]
    assert [(d, round(s, 6)) for d, s in got] == [(d, round(s, 6)) for d, s in want]


def test_phrase_index_matches_duck_oracle(pos_index, duck):
    from miru_spark.plans.relational import bm25_phrase_oracle_sql
    from miru_spark.plans.search import search_phrase

    for phrase in ["the a", "data the table"]:
        got = [(d, round(s, 6)) for d, s in search_phrase(pos_index, phrase, k=10)]
        want = [tuple(r) for r in duck.execute(bm25_phrase_oracle_sql(phrase)).fetchall()]
        assert got == [(int(d), float(s)) for d, s in want]


def test_phrase_needs_positional_index(reader):
    from miru_spark.plans.search import search_phrase

    with pytest.raises(ValueError, match="positional"):
        search_phrase(reader, "the a")


def test_positions_roundtrip_through_merge(spark, pos_index):
    """Decoded positions reproduce each doc's actual token offsets."""
    import numpy as np

    from miru_spark.index.format import unpack_chunk_bm, unpack_positions
    from miru_spark.schema import read_corpus

    texts = {
        r.doc_id: r.content.split()
        for r in read_corpus(spark, SF_DIR).collect()
    }
    tps = pos_index.fetch_terms(["join", "dup"], with_positions=True)
    checked = 0
    for t, tp in tps.items():
        for r in tp.chunks:
            ids, tfs, dls = unpack_chunk_bm(r["blob"], r["bm"], int(r["codec"]))
            pos = unpack_positions(r["pos_blob"], tfs)
            starts = np.concatenate(([0], np.cumsum(tfs.astype(np.int64))[:-1]))
            for j, d in enumerate(ids.astype(np.int64)):
                p = pos[starts[j] : starts[j] + int(tfs[j])].astype(np.int64)
                expect = [i for i, tok in enumerate(texts[int(d)]) if tok == t]
                assert p.tolist() == expect
                checked += 1
    assert checked > 20


def test_non_phrase_fetch_skips_pos_blob(pos_index):
    """Column pruning: a plain fetch must not materialize pos_blob."""
    tps = pos_index.fetch_terms(["join"])
    row = tps["join"].chunks[0]
    assert "pos_blob" not in row
    tps2 = pos_index.fetch_terms(["join"], with_positions=True)
    assert tps2["join"].chunks[0]["pos_blob"] is not None


@pytest.mark.parametrize("phrase", ["the a", "data the table", "a a"])
def test_phrase_distributed_matches_driver_path(spark, pos_index, phrase):
    """The cluster-scale phrase plan (positional occurrence joins + semi-
    joined distributed scorer) equals the driver fast path exactly."""
    from miru_spark.plans.search import search_phrase, search_phrase_distributed

    want = [(d, round(s, 6)) for d, s in search_phrase(pos_index, phrase, k=10)]
    got = [
        (r.doc_id, r.score)
        for r in search_phrase_distributed(pos_index, phrase, k=10).collect()
    ]
    assert got == want
