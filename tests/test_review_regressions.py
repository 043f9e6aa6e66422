"""Regression tests for the round-1 code-review findings."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from miru_spark.index.reader import IndexReader
from miru_spark.index.writer import build_index
from miru_spark.plans.search import search_distributed, search_topk
from miru_spark.schema import read_corpus
from tests.conftest import SF_DIR


def test_incremental_out_of_order_drops(spark, tmp_path, reader):
    """Drops arriving in REVERSED doc order append multiple same-pid segment
    rows whose relative order is arbitrary; the merge must re-sort instead
    of trusting row order (silent-corruption finding)."""
    from miru_spark.streaming.incremental import (
        finalize_streamed_index,
        incremental_index_stream,
        stream_corpus,
    )

    drops = str(tmp_path / "drops")
    corpus = read_corpus(spark, SF_DIR)
    # high half FIRST, then even/odd split of the low half -> same pid gets
    # rows from multiple batches with interleaved doc ranges
    corpus.filter(F.col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(drops)
    corpus.filter((F.col("doc_id") < 250) & (F.col("doc_id") % 2 == 0)).coalesce(
        1
    ).write.mode("append").parquet(drops)
    corpus.filter((F.col("doc_id") < 250) & (F.col("doc_id") % 2 == 1)).coalesce(
        1
    ).write.mode("append").parquet(drops)

    idx = str(tmp_path / "idx")
    q = incremental_index_stream(
        stream_corpus(spark, drops), idx, docs_per_part=63, num_partitions=8
    )
    q.awaitTermination(180)
    finalize_streamed_index(spark, idx, num_partitions=8, target_chunk=64)
    r2 = IndexReader(spark, idx)

    # decoded posting lists must be strictly ascending and equal the batch
    # build's, for a hot and a rare term
    for term in ("the", "dup"):
        tp = r2.fetch_terms([term])[term]
        ids, _, _ = r2.decode_term(tp)
        assert np.all(np.diff(ids.astype(np.int64)) > 0)
        ref_ids, _, _ = reader.decode_term(reader.fetch_terms([term])[term])
        np.testing.assert_array_equal(ids, ref_ids)
    for terms, mode in [(["join", "hash"], "conjunctive"), (["the", "dup"], "disjunctive")]:
        assert search_topk(r2, terms, mode=mode) == search_topk(reader, terms, mode=mode)


def test_build_with_all_empty_partition(spark, tmp_path):
    """A logical partition whose docs all tokenize to nothing must not crash
    the segment builder (empty-array reduction finding)."""
    rows = [(i, "r", f"{i}.txt", "v0", "en", "" if i < 8 else "hello world") for i in range(16)]
    corpus = spark.createDataFrame(
        rows, "doc_id long, repo string, path string, commit string, lang string, content string"
    )
    p = str(tmp_path / "idx")
    build_index(spark, corpus, p, num_partitions=4)  # pid 0-1 all-empty docs
    r = IndexReader(spark, p)
    assert r.n_docs == 16
    assert [d for d, _ in search_topk(r, ["hello"], "conjunctive")] == list(range(8, 16))


def test_distributed_conjunctive_all_terms_missing(spark, reader):
    """No query term in the index -> empty DataFrame, not ValueError."""
    out = search_distributed(reader, ["zzz1", "zzz2"], mode="conjunctive")
    assert out.collect() == []


def test_k_zero_and_bad_mode(reader):
    assert search_topk(reader, ["the"], mode="disjunctive", k=0) == []
    with pytest.raises(ValueError):
        search_topk(reader, ["the"], mode="conjuctive")  # typo'd mode
