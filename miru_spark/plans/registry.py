"""The driver-facing query/oracle registry.

Every implemented operator from SURVEY.md section 2 registers here as a
(queries, oracle_sql) pair; the driver executes both sides at sf0.01 and
compares row-count + schema + order-insensitive value-hash. Column aliases are
kept identical on both sides by construction.

Floating-point policy: any double-valued aggregate is rounded (both sides) so
that summation-order differences between Spark and DuckDB cannot flip the
hash; rounding happens BEFORE any order-by/limit so tie-breaks agree too.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from miru_spark.plans.relational import (
    CorpusModel,
    bm25_from_model,
    bm25_oracle_sql,
    bm25_phrase_oracle_sql,
)
from miru_spark.schema import read_corpus

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, fn: Callable[[SparkSession, str], DataFrame], sql: str | None):
    _QUERIES[name] = fn
    if sql is not None:
        _ORACLES[name] = sql


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _ensure_loaded()
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    return dict(_ORACLES)


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build index on the given corpus, search via the driver top-k kernel,
    return top-k joined back to the docmap."""
    from miru_spark.plans.flagship import flagship_search

    return flagship_search(spark, sf_dir)


_loaded = False


def _ensure_loaded() -> None:
    """Registration order == the order the driver runs entries in, and the
    driver's run has a time cap: the product paths (binary index, streaming)
    register FIRST so a cap can never truncate them out of the correctness
    record; the cheap relational/pipeline entries follow. (Round-1 lesson:
    index/streaming registered last and the driver file truncated mid-index.)
    """
    global _loaded
    if _loaded:
        return
    from miru_spark.plans import index_suite

    index_suite.register_all(register)
    from miru_spark.streaming import suite as streaming_suite

    streaming_suite.register_all(register)
    _register_bm25()
    from miru_spark.plans import relational_suite

    relational_suite.register_all(register)
    from miru_spark.pipeline import suite as pipeline_suite

    pipeline_suite.register_all(register)
    _loaded = True


_MODELS: dict[str, CorpusModel] = {}


def corpus_model(spark: SparkSession, sf_dir: str) -> CorpusModel:
    """Per-corpus cached tf/dl/stats/df — every relational bm25_* entry reuses
    one persisted explode/groupBy instead of recomputing per query."""
    if sf_dir not in _MODELS:
        _MODELS[sf_dir] = CorpusModel(read_corpus(spark, sf_dir)).persist()
    return _MODELS[sf_dir]


def _register_bm25() -> None:
    from miru_spark.plans.composite import register_composite

    DS = ("doc_id", "score")
    cases = {
        "bm25_rel_conj2": (["join", "hash"], "conjunctive"),
        "bm25_rel_conj3": (["the", "a", "data"], "conjunctive"),
        "bm25_rel_missing": (["the", "zzz_not_in_vocab"], "disjunctive"),
        "bm25_rel_disj2": (["join", "dup"], "disjunctive"),
        "bm25_rel_disj5": (["join", "hash", "dup", "tree", "node"], "disjunctive"),
        "bm25_rel_rare": (["dup"], "conjunctive"),
    }
    register_composite(register, "bm25_rel", [
        (name, _mk_bm25(terms, mode), bm25_oracle_sql(terms, mode), DS)
        for name, (terms, mode) in cases.items()
    ] + [
        ("bm25_rel_not",
         _mk_bm25(["the", "a"], "conjunctive", exclude=["dup"]),
         bm25_oracle_sql(["the", "a"], "conjunctive", exclude=["dup"]), DS),
    ])

    def _mk_phrase(phrase):
        def run(spark, sf_dir):
            # served from the POSITIONAL binary index — no corpus scan; the
            # relational twin (bm25_phrase_search) remains the pytest
            # cross-check and the oracle stays the same ANSI SQL
            from miru_spark.plans.flagship import ensure_index
            from miru_spark.plans.search import search_phrase

            reader = ensure_index(spark, sf_dir)
            rows = [
                (int(d), round(float(s), 6))
                for d, s in search_phrase(reader, phrase, k=10)
            ]
            return spark.createDataFrame(rows, "doc_id long, score double")

        return run

    register_composite(register, "bm25_phrase", [
        (name, _mk_phrase(phrase), bm25_phrase_oracle_sql(phrase), DS)
        for name, phrase in {
            "bm25_phrase2": "the a",
            "bm25_phrase3": "data the table",
        }.items()
    ])


def _mk_bm25(terms: list[str], mode: str, exclude: list[str] | None = None):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return bm25_from_model(
            corpus_model(spark, sf_dir), terms, mode=mode, exclude=exclude
        )

    return run
