"""Index-path correctness entries for the driver.

The binary-index serving paths (the driver's vectorized top-k kernel and the
distributed DataFrame scorer) are checked against the SAME ANSI-SQL BM25
oracle as the relational twin — proving index build + compression + merge +
scoring end-to-end, not just the relational reformulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from miru_spark.plans.relational import (
    bm25_fuzzy_oracle_sql,
    bm25_oracle_sql,
    bm25_phrase_oracle_sql,
    bm25_prefix_oracle_sql,
    facet_oracle_sql,
    facet_topk_oracle_sql,
)

CASES = {
    "bm25_index_wand_disj2": (["join", "dup"], "disjunctive"),
    "bm25_index_wand_disj5": (["join", "hash", "dup", "sort", "merge"], "disjunctive"),
    "bm25_index_conj2": (["join", "hash"], "conjunctive"),
    "bm25_index_conj3": (["the", "a", "data"], "conjunctive"),
}

# boolean NOT (posting-list difference): (terms, mode, exclude)
NOT_CASES = {
    "bm25_index_not_conj": (["join", "hash"], "conjunctive", ["tree"]),
    "bm25_index_not_disj": (["the", "dup"], "disjunctive", ["join", "hash"]),
}

DIST_CASES = {
    "bm25_index_dist_conj2": (["join", "hash"], "conjunctive"),
    "bm25_index_dist_disj2": (["the", "dup"], "disjunctive"),
}

DIST_NOT_CASES = {
    "bm25_index_dist_not": (["the", "a"], "conjunctive", ["dup"]),
}

# prefix queries (term-dictionary expansion -> scored OR): name -> prefix
PREFIX_CASES = {
    "bm25_index_prefix_s": "s",  # scan slow small sort spark stream
    "bm25_index_prefix_exact": "dup",  # prefix == a whole term
}

DIST_PREFIX_CASES = {
    "bm25_index_dist_prefix_c": "c",  # column customer
}

# regex term queries (grep-style): name -> pattern (re/RE2 common subset)
REGEX_CASES = {
    "bm25_index_regex_alt": "s(ort|low)",  # -> sort, slow (literal-prefix 's')
    "bm25_index_regex_class": "[bd]a[tc].*",  # -> batch, data
}

# fuzzy queries (Levenshtein <=1 dictionary expansion): name -> probe term
FUZZY_CASES = {
    "bm25_index_fuzzy_ag": "ag",  # -> a, agg (misspelling hits two terms)
    "bm25_index_fuzzy_hsh": "hsh",  # -> hash
}

# facet counts over the full candidate set: name -> (terms, mode, facet)
FACET_CASES = {
    "bm25_index_facets_conj": (["the", "a"], "conjunctive", "lang"),
    "bm25_index_facets_disj": (["join", "dup"], "disjunctive", "lang"),
}

PHRASE_DIST_CASES = {
    "bm25_index_dist_phrase2": "the a",
}

# proximity (positional index): name -> (term_a, term_b, slop)
NEAR_CASES = {
    "bm25_index_near2": ("join", "hash", 2),
    "bm25_index_near4": ("sort", "merge", 4),
    "bm25_index_near_rare": ("dup", "data", 5),
}


def _mk_grammar(query: str):
    """A driver case that goes through the full query grammar (parse ->
    filter/range extraction -> routed search), not search_topk directly."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search

        reader = ensure_index(spark, sf_dir)
        rows = [
            (int(d), round(float(s), 6)) for d, s in search(reader, query, k=10)
        ]
        return spark.createDataFrame(rows, "doc_id long, score double")

    return run


def _tree_oracle(query: str) -> str:
    from miru_spark.plans.booltree import bool_oracle_sql

    return bool_oracle_sql(query, k=10)


def _boosting_oracle(pos: str, neg: str, nb: float) -> str:
    from miru_spark.plans.booltree import boosting_oracle_sql

    return boosting_oracle_sql(pos, neg, negative_boost=nb, k=10)


def _constscore_oracle(query: str, boost: float) -> str:
    from miru_spark.plans.booltree import constant_score_oracle_sql

    return constant_score_oracle_sql(query, boost=boost, k=10)


def _mk_facets_composite(terms, mode, size):
    """A66 — page 2 of composite buckets driven by page 1's real last key,
    so the driver row proves the after-key boundary, not just an agg."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_facets_composite

        reader = ensure_index(spark, sf_dir)
        p1 = search_facets_composite(
            reader, terms, mode=mode, sources=("lang", "repo"), size=size
        ).collect()
        cursor = (p1[-1]["lang"], p1[-1]["repo"])
        return search_facets_composite(
            reader, terms, mode=mode, sources=("lang", "repo"), size=size,
            after=cursor,
        )

    return run


def _facets_composite_oracle(terms, mode, size) -> str:
    from miru_spark.plans.relational import facet_composite_oracle_sql

    # rows (size+1)..(2*size) of the full bucket ordering == page 2
    inner = facet_composite_oracle_sql(
        terms, mode, sources=("lang", "repo"), size=2 * size
    )
    return (
        f"SELECT lang, repo, n_docs FROM ({inner}) "
        f"ORDER BY lang, repo LIMIT {size} OFFSET {size}"
    )


def _mk_phrase_prefix(phrase: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_phrase_prefix

        reader = ensure_index(spark, sf_dir)
        rows = search_phrase_prefix(reader, phrase, k=10)
        return spark.createDataFrame(rows, "doc_id long, score double")

    return run


def _phrase_prefix_oracle(phrase: str) -> str:
    from miru_spark.plans.relational import phrase_prefix_oracle_sql

    return phrase_prefix_oracle_sql(phrase, k=10)


def _mk_filters_agg(filters):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_filters_agg

        reader = ensure_index(spark, sf_dir)
        return search_filters_agg(reader, filters)

    return run


def _mk_adjacency(filters):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_adjacency_matrix

        reader = ensure_index(spark, sf_dir)
        return search_adjacency_matrix(reader, filters)

    return run


def _adjacency_oracle(filters) -> str:
    from miru_spark.plans.relational import adjacency_matrix_oracle_sql

    return adjacency_matrix_oracle_sql(filters)


def _mk_cardinality(terms, mode, col):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_cardinality

        reader = ensure_index(spark, sf_dir)
        return search_cardinality(reader, terms, mode=mode, col=col, exact=True)

    return run


def _cardinality_oracle(terms, mode, col) -> str:
    from miru_spark.plans.relational import cardinality_oracle_sql

    return cardinality_oracle_sql(terms, mode, col=col)


def _mk_percentiles(terms, mode):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_percentiles

        reader = ensure_index(spark, sf_dir)
        return search_percentiles(reader, terms, mode=mode)

    return run


def _percentiles_oracle(terms, mode) -> str:
    from miru_spark.plans.relational import percentiles_oracle_sql

    return percentiles_oracle_sql(terms, mode)


def _mk_boosting(pos: str, neg: str, nb: float):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.booltree import search_boosting
        from miru_spark.plans.flagship import ensure_index

        reader = ensure_index(spark, sf_dir)
        rows = search_boosting(reader, pos, neg, negative_boost=nb, k=10)
        return spark.createDataFrame(rows, "doc_id long, score double")

    return run


def _mk_constscore(query: str, boost: float):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.booltree import search_constant_score
        from miru_spark.plans.flagship import ensure_index

        reader = ensure_index(spark, sf_dir)
        rows = search_constant_score(reader, query, boost=boost, k=10)
        return spark.createDataFrame(rows, "doc_id long, score double")

    return run


def _mk_tree_dist(query: str):
    """A56 distributed path: the boolean tree compiled to Catalyst
    expressions over one pivoted hash agg."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.booltree import search_bool_distributed
        from miru_spark.plans.flagship import ensure_index

        reader = ensure_index(spark, sf_dir)
        return search_bool_distributed(reader, query, k=10)

    return run


def _mk_topk(terms, mode, exclude=None, where=None, min_match=None):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_topk

        reader = ensure_index(spark, sf_dir)
        rows = [
            (int(d), round(float(s), 6))
            for d, s in search_topk(
                reader, terms, mode=mode, k=10, exclude=exclude, where=where,
                min_match=min_match,
            )
        ]
        return spark.createDataFrame(rows, "doc_id long, score double")

    return run


def _mk_filter_prefix(terms, mode, col, prefix):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.filters import Prefix

        return _mk_topk(terms, mode, where={col: Prefix(prefix)})(
            spark, sf_dir
        )

    return run


def _mk_filter_not(terms, mode):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.filters import Not, Prefix

        return _mk_topk(
            terms, mode,
            where={"lang": Not(["zh", "fr"]),
                   "path": Not(Prefix("doc_000"))},
        )(spark, sf_dir)

    return run


def _mk_after(terms, mode):
    """A38 search_after: page 2 driven by a REAL page-1 cursor (the last
    hit's raw score + doc_id), so the driver row proves the keyset
    boundary, not just a re-run."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_topk

        reader = ensure_index(spark, sf_dir)
        p1 = search_topk(reader, terms, mode=mode, k=10)
        cur = (p1[-1][1], p1[-1][0])
        rows = [
            (int(d), round(float(s), 6))
            for d, s in search_topk(reader, terms, mode=mode, k=10, after=cur)
        ]
        return spark.createDataFrame(rows, "doc_id long, score double")

    return run


def _mk_synonym(groups, mode):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_synonym

        reader = ensure_index(spark, sf_dir)
        rows = [
            (int(d), round(float(s), 6))
            for d, s in search_synonym(reader, groups, mode=mode, k=10)
        ]
        return spark.createDataFrame(rows, "doc_id long, score double")

    return run


def _mk_sorted(terms, mode, ascending=False):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_sorted

        reader = ensure_index(spark, sf_dir)
        return search_sorted(
            reader, terms, mode=mode, sort_field="doc_len", k=10,
            ascending=ascending,
        )

    return run


def _mk_facets_by_metric(terms, mode, metric, size):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_facets_by_metric

        reader = ensure_index(spark, sf_dir)
        return search_facets_by_metric(
            reader, terms, mode=mode, metric=metric, size=size
        )

    return run


def _mk_multi_terms(terms, mode, size):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_multi_terms

        reader = ensure_index(spark, sf_dir)
        return search_multi_terms(
            reader, terms, mode=mode, fields=("lang", "repo"), size=size
        )

    return run


def _mk_rare_terms(terms, mode, max_doc_count):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.sigterms import rare_terms
        from miru_spark.schema import read_corpus

        reader = ensure_index(spark, sf_dir)
        return rare_terms(
            reader, read_corpus(spark, sf_dir), terms, mode=mode,
            max_doc_count=max_doc_count,
        )

    return run


def _rare_terms_oracle(terms, mode, max_doc_count) -> str:
    from miru_spark.plans.sigterms import rare_terms_oracle_sql

    return rare_terms_oracle_sql(terms, mode, max_doc_count=max_doc_count)


def _mk_sampled_facets(terms, mode, probability):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_facets_sampled

        reader = ensure_index(spark, sf_dir)
        return search_facets_sampled(
            reader, terms, mode=mode, facet_col="lang",
            probability=probability,
        ).withColumnRenamed("lang", "facet")

    return run


def _mk_ranges(terms, mode, ranges):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_facets_ranges

        reader = ensure_index(spark, sf_dir)
        return search_facets_ranges(
            reader, terms, ranges, mode=mode, col="doc_len"
        )

    return run


def _mk_bucket_sort(terms, mode, width, frm, size):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_bucket_sort

        reader = ensure_index(spark, sf_dir)
        return search_bucket_sort(
            reader, terms, mode=mode, width=width, frm=frm, size=size
        )

    return run


def _mk_vw_histogram(terms, mode, buckets):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_variable_width_histogram

        reader = ensure_index(spark, sf_dir)
        return search_variable_width_histogram(
            reader, terms, mode=mode, buckets=buckets
        )

    return run


def _mk_histogram(terms, mode, width):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_facets_histogram

        reader = ensure_index(spark, sf_dir)
        return search_facets_histogram(
            reader, terms, mode=mode, col="doc_len", width=width
        )

    return run


def _mk_histo_pipeline(terms, mode, width, moving_window, selector_min):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_histogram_pipeline

        reader = ensure_index(spark, sf_dir)
        return search_histogram_pipeline(
            reader, terms, mode=mode, width=width,
            moving_window=moving_window, selector_min=selector_min,
        )

    return run


def _histo_pipeline_oracle(terms, mode, width, moving_window, selector_min):
    from miru_spark.plans.relational import histogram_pipeline_oracle_sql

    return histogram_pipeline_oracle_sql(
        terms, mode, width=width, moving_window=moving_window,
        selector_min=selector_min,
    )


def _mk_collapse(terms, mode, k_groups, per_group):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_collapse

        reader = ensure_index(spark, sf_dir)
        return search_collapse(
            reader, terms, mode=mode, collapse_field="repo",
            k_groups=k_groups, per_group=per_group,
        )

    return run


def _mk_field_stats(terms, mode):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_field_stats

        reader = ensure_index(spark, sf_dir)
        return search_field_stats(reader, terms, mode=mode, col="doc_len")

    return run


def _mk_percentile_ranks(terms, mode, values):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_percentile_ranks

        reader = ensure_index(spark, sf_dir)
        return search_percentile_ranks(reader, terms, values, mode=mode)

    return run


def _mk_ext_stats(terms, mode):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_extended_stats

        reader = ensure_index(spark, sf_dir)
        return search_extended_stats(reader, terms, mode=mode, col="doc_len")

    return run


def _mk_string_stats(terms, mode, col):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_string_stats

        reader = ensure_index(spark, sf_dir)
        return search_string_stats(reader, terms, mode=mode, col=col)

    return run


def _mk_mad(terms, mode):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_mad

        reader = ensure_index(spark, sf_dir)
        return search_mad(reader, terms, mode=mode, col="doc_len")

    return run


def _mk_boxplot(terms, mode):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_boxplot

        reader = ensure_index(spark, sf_dir)
        return search_boxplot(reader, terms, mode=mode, col="doc_len")

    return run


def _mk_t_test(terms_a, terms_b, mode):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_t_test

        reader = ensure_index(spark, sf_dir)
        return search_t_test(reader, terms_a, terms_b, mode=mode,
                             col="doc_len")

    return run


def _mk_term_vector(doc_id):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.search import term_vector
        from miru_spark.schema import read_corpus

        return term_vector(read_corpus(spark, sf_dir), doc_id)

    return run


_PRUNED_IDX: dict[str, str] = {}


def _mk_dist_pruned(terms, k=3):
    """Block-max chunk skipping exercised INSIDE the correctness record:
    a fine-chunked index (target_chunk=64 -> ~7 chunks per hot term at
    sf0.01) with the gate forced open (prune_gate=0), so the theta filter
    genuinely drops chunk rows before the decode and the result must
    still hash-match the standard SQL twin."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        import tempfile

        from miru_spark.index.reader import IndexReader
        from miru_spark.index.writer import build_index
        from miru_spark.plans.search import LAST_PRUNE_STATS, search_distributed
        from miru_spark.schema import read_corpus

        if sf_dir not in _PRUNED_IDX:
            p = tempfile.mkdtemp(prefix="miru_finechunk_") + "/idx"
            build_index(
                spark, read_corpus(spark, sf_dir), p,
                num_partitions=8, target_chunk=64,
            )
            _PRUNED_IDX[sf_dir] = p
        reader = IndexReader(spark, _PRUNED_IDX[sf_dir])
        return search_distributed(
            reader, terms, mode="disjunctive", k=k, prune_gate=0
        )

    return run


def _mk_dist_many(queries):
    """Batched distributed serving: N queries, ONE postings scan/decode/
    shuffle (search_many_distributed); rank-identical to per-query runs."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_many_distributed

        reader = ensure_index(spark, sf_dir)
        return search_many_distributed(reader, queries, k=10)

    return run


def _dist_many_oracle(queries, k: int = 10) -> str:
    branches = [
        f"SELECT {qid} AS query_id, doc_id, score FROM ("
        + bm25_oracle_sql(terms, mode, k=k)
        + ")"
        for qid, (terms, mode) in enumerate(queries)
    ]
    return "\nUNION ALL\n".join(branches)


def _mk_dist_after(terms, mode):
    """A38 on the cluster path: page 2 of the DISTRIBUTED scorer via a
    real page-1 cursor (last hit's rounded score + doc_id) — the keyset
    filter is a codegen predicate ahead of the TakeOrderedAndProject."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_distributed

        reader = ensure_index(spark, sf_dir)
        p1 = search_distributed(reader, terms, mode=mode, k=10).collect()
        cur = (float(p1[-1]["score"]), int(p1[-1]["doc_id"]))
        return search_distributed(reader, terms, mode=mode, k=10, after=cur)

    return run


def _mk_dist(terms, mode, exclude=None, where=None):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_distributed

        reader = ensure_index(spark, sf_dir)
        return search_distributed(
            reader, terms, mode=mode, k=10, exclude=exclude, where=where
        )

    return run


def _mk_prefix(prefix):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_prefix

        reader = ensure_index(spark, sf_dir)
        rows = [
            (int(d), round(float(s), 6))
            for d, s in search_prefix(reader, prefix, k=10)
        ]
        return spark.createDataFrame(rows, "doc_id long, score double")

    return run


def _mk_match_bool_prefix(query, mode):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_match_bool_prefix

        reader = ensure_index(spark, sf_dir)
        rows = [
            (int(d), round(float(s), 6))
            for d, s in search_match_bool_prefix(reader, query, mode=mode, k=10)
        ]
        return spark.createDataFrame(rows, "doc_id long, score double")

    return run


def _mk_prefix_dist(prefix):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_distributed

        reader = ensure_index(spark, sf_dir)
        terms = reader.expand_prefix(prefix)
        return search_distributed(reader, terms, mode="disjunctive", k=10)

    return run


def _mk_regex(pattern):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_regex

        reader = ensure_index(spark, sf_dir)
        rows = [
            (int(d), round(float(s), 6))
            for d, s in search_regex(reader, pattern, k=10)
        ]
        return spark.createDataFrame(rows, "doc_id long, score double")

    return run


def _mk_fuzzy(probe):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_fuzzy

        reader = ensure_index(spark, sf_dir)
        rows = [
            (int(d), round(float(s), 6))
            for d, s in search_fuzzy(reader, probe, max_edits=1, k=10)
        ]
        return spark.createDataFrame(rows, "doc_id long, score double")

    return run


# per-term boosts (Lucene 'term^w'): (terms, mode, boosts, distributed)
BOOST_CASES = {
    "bm25_index_boost": (["the", "dup"], "disjunctive", {"dup": 0.25}, False),
    "bm25_index_dist_boost": (["join", "hash"], "conjunctive", {"hash": 3.0}, True),
}


def _mk_boost(terms, mode, boosts, distributed):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_distributed, search_topk

        reader = ensure_index(spark, sf_dir)
        if distributed:
            return search_distributed(reader, terms, mode=mode, k=10, boosts=boosts)
        rows = [
            (int(d), round(float(s), 6))
            for d, s in search_topk(reader, terms, mode=mode, k=10, boosts=boosts)
        ]
        return spark.createDataFrame(rows, "doc_id long, score double")

    return run


_FASTSS_BUILT: set[str] = set()


def _mk_fuzzy_osa(probe):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_fuzzy

        reader = ensure_index(spark, sf_dir)
        rows = [
            (int(d), round(float(s), 6))
            for d, s in search_fuzzy(
                reader, probe, max_edits=1, k=10, transpositions=True
            )
        ]
        return spark.createDataFrame(rows, "doc_id long, score double")

    return run


def q_fuzzy_fastss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy serving through the FastSS deletion-neighborhood dictionary
    (pruned variant seeks instead of a dictionary scan) — same oracle as
    the scan path; equality of the two expansions is pytest-proven."""
    from miru_spark.index.writer import build_fuzzy_dictionary
    from miru_spark.plans.flagship import ensure_index
    from miru_spark.plans.search import search_fuzzy

    reader = ensure_index(spark, sf_dir)
    if reader.index_path not in _FASTSS_BUILT:
        build_fuzzy_dictionary(spark, reader.index_path)
        reader._fuzzy_dset = None
        _FASTSS_BUILT.add(reader.index_path)
    rows = [
        (int(d), round(float(s), 6))
        for d, s in search_fuzzy(reader, "lin", max_edits=1, k=10)
    ]
    return spark.createDataFrame(rows, "doc_id long, score double")


def _mk_facets(terms, mode, facet):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_facets

        reader = ensure_index(spark, sf_dir)
        return search_facets(reader, terms, mode=mode, facet_col=facet)

    return run


def q_facets_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from miru_spark.plans.flagship import ensure_index
    from miru_spark.plans.search import search_facets_rollup

    reader = ensure_index(spark, sf_dir)
    return search_facets_rollup(reader, ["the", "a"], mode="conjunctive")


def q_facets_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from miru_spark.plans.flagship import ensure_index
    from miru_spark.plans.search import search_facets_topk

    reader = ensure_index(spark, sf_dir)
    return search_facets_topk(
        reader, ["the", "dup"], mode="disjunctive", facet_col="lang", k=3
    )


def _mk_lm(terms, mode, mu):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_lm

        reader = ensure_index(spark, sf_dir)
        rows = [
            (int(d), round(float(s), 6))
            for d, s in search_lm(reader, terms, mode=mode, mu=mu, k=10)
        ]
        return spark.createDataFrame(rows, "doc_id long, score double")

    return run


def _mk_simpleq(query):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.simpleq import search_simple

        reader = ensure_index(spark, sf_dir)
        rows = [
            (int(d), round(float(s), 6))
            for d, s in search_simple(reader, query, k=10)
        ]
        return spark.createDataFrame(rows, "doc_id long, score double")

    return run


def _simpleq_oracle(query) -> str:
    from miru_spark.plans.simpleq import simple_oracle_sql

    return simple_oracle_sql(query, k=10)


def _mk_terms_set(terms, divisor):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_terms_set

        reader = ensure_index(spark, sf_dir)
        return search_terms_set(reader, terms, divisor=divisor, k=10)

    return run


def _iv_ord():
    from miru_spark.plans.intervals import IAllOf, ITerm

    return IAllOf((ITerm("the"), ITerm("a"), ITerm("data")), ordered=True,
                  max_gaps=6)


def _iv_nested():
    from miru_spark.plans.intervals import IAllOf, IAnyOf, IPhrase, ITerm

    return IAllOf(
        (ITerm("join"), IAnyOf((ITerm("hash"), IPhrase(("tree", "node"))))),
        ordered=False, max_gaps=3,
    )


def _mk_intervals(mk_spec):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.intervals import search_intervals

        reader = ensure_index(spark, sf_dir)
        rows = [
            (int(d), round(float(s), 6))
            for d, s in search_intervals(reader, mk_spec(), k=10)
        ]
        return spark.createDataFrame(rows, "doc_id long, score double")

    return run


def _mk_intervals_dist(mk_spec):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.intervals import search_intervals_distributed

        reader = ensure_index(spark, sf_dir)
        return search_intervals_distributed(reader, mk_spec(), k=10)

    return run


def _intervals_oracle(mk_spec) -> str:
    from miru_spark.plans.intervals import intervals_oracle_sql

    return intervals_oracle_sql(mk_spec(), k=10)


_IV_ORD = _iv_ord
_IV_NESTED = _iv_nested


def _mk_classic(terms, mode):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_classic

        reader = ensure_index(spark, sf_dir)
        rows = [
            (int(d), round(float(s), 6))
            for d, s in search_classic(reader, terms, mode=mode, k=10)
        ]
        return spark.createDataFrame(rows, "doc_id long, score double")

    return run


def _mk_term_range(lo, hi, il, ih):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_term_range

        reader = ensure_index(spark, sf_dir)
        rows = [
            (int(d), round(float(s), 6))
            for d, s in search_term_range(
                reader, lo, hi, include_lo=il, include_hi=ih, k=10
            )
        ]
        return spark.createDataFrame(rows, "doc_id long, score double")

    return run


def _mk_matrix_stats(terms, mode):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_matrix_stats

        reader = ensure_index(spark, sf_dir)
        return search_matrix_stats(reader, terms, mode=mode)

    return run


def _mk_sloppy_phrase(phrase, slop):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search

        reader = ensure_index(spark, sf_dir)
        rows = [
            (int(d), round(float(s), 6))
            for d, s in search(reader, f'"{phrase}"~{slop}', k=10)
        ]
        return spark.createDataFrame(rows, "doc_id long, score double")

    return run


def _mk_pinned(terms, pins, mode):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_pinned

        reader = ensure_index(spark, sf_dir)
        rows = search_pinned(reader, terms, pins, mode=mode, k=10)
        return spark.createDataFrame(rows, "doc_id long, score double")

    return run


def _mk_span_first(term, end):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_span_first

        reader = ensure_index(spark, sf_dir)
        rows = [
            (int(d), round(float(s), 6))
            for d, s in search_span_first(reader, term, end, k=10)
        ]
        return spark.createDataFrame(rows, "doc_id long, score double")

    return run


def _mk_span_not(term, excl_term, pre, post):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_span_not

        reader = ensure_index(spark, sf_dir)
        rows = [
            (int(d), round(float(s), 6))
            for d, s in search_span_not(reader, term, excl_term, pre, post, k=10)
        ]
        return spark.createDataFrame(rows, "doc_id long, score double")

    return run


def _mk_span_enclosure(ta, tb, little, slop, scored):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import (
            search_span_containing,
            search_span_within,
        )

        fn = search_span_within if scored == "little" else search_span_containing
        reader = ensure_index(spark, sf_dir)
        rows = [
            (int(d), round(float(s), 6))
            for d, s in fn(reader, ta, tb, little, slop, k=10)
        ]
        return spark.createDataFrame(rows, "doc_id long, score double")

    return run


def _mk_near(ta, tb, slop, in_order=False):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_near

        reader = ensure_index(spark, sf_dir)
        rows = [
            (int(d), round(float(s), 6))
            for d, s in search_near(
                reader, ta, tb, slop=slop, k=10, in_order=in_order
            )
        ]
        return spark.createDataFrame(rows, "doc_id long, score double")

    return run


def _mk_phrase_dist(phrase):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_phrase_distributed

        reader = ensure_index(spark, sf_dir)
        return search_phrase_distributed(reader, phrase, k=10)

    return run


def _mk_count(terms, mode, exclude=None):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.search import search_count

        reader = ensure_index(spark, sf_dir)
        return search_count(reader, terms, mode=mode, exclude=exclude)

    return run


def q_mlt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from miru_spark.plans.flagship import ensure_index
    from miru_spark.plans.search import more_like_this
    from miru_spark.schema import read_corpus

    reader = ensure_index(spark, sf_dir)
    rows = [
        (int(d), round(float(s), 6))
        for d, s in more_like_this(
            reader, 42, read_corpus(spark, sf_dir), n_terms=5, k=10
        )
    ]
    return spark.createDataFrame(rows, "doc_id long, score double")


# A94 rank_eval: the pinned evaluation request set — conjunctive,
# disjunctive, single rare term, and a query with an absent term (empty
# judgment edge: mrr/ndcg/recall coalesce to 0)
_RANK_EVAL_QUERIES = {
    "q_conj": (["join", "hash"], "conjunctive"),
    "q_disj": (["the", "dup"], "disjunctive"),
    "q_rare": (["dup"], "conjunctive"),
    "q_missing": (["the", "zzz_not_in_vocab"], "disjunctive"),
}


def q_rank_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from miru_spark.plans.flagship import ensure_index
    from miru_spark.plans.rankeval import rank_eval
    from miru_spark.schema import read_corpus

    reader = ensure_index(spark, sf_dir)
    # eval_query (string), not query_id: the composite union would try to
    # unify it with percolate's BIGINT query_id column otherwise
    return rank_eval(
        spark, reader, read_corpus(spark, sf_dir), _RANK_EVAL_QUERIES, k=10
    ).withColumnRenamed("query_id", "eval_query")


def _rank_eval_sql():
    from miru_spark.plans.rankeval import rank_eval_oracle_sql

    inner = rank_eval_oracle_sql(_RANK_EVAL_QUERIES, k=10)
    return (
        "SELECT query_id AS eval_query, p_at_k, recall_at_k, mrr, ndcg "
        f"FROM (\n{inner}\n) ORDER BY eval_query"
    )


_RANK_EVAL_SQL = _rank_eval_sql()


def q_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k + stored-field snippets: the result-page render step."""
    from miru_spark.plans.flagship import ensure_index
    from miru_spark.plans.search import search_topk, snippets_for_hits
    from miru_spark.schema import read_corpus

    reader = ensure_index(spark, sf_dir)
    hits = search_topk(reader, ["join", "hash"], mode="conjunctive", k=10)
    return snippets_for_hits(
        read_corpus(spark, sf_dir), [d for d, _ in hits], ["join", "hash"]
    )


def q_highlight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A48 — the ES highlighter: same snippet window, query terms wrapped
    in <em> tags (list-transform built-ins on both sides)."""
    from miru_spark.plans.flagship import ensure_index
    from miru_spark.plans.search import search_topk, snippets_for_hits
    from miru_spark.schema import read_corpus

    reader = ensure_index(spark, sf_dir)
    hits = search_topk(reader, ["the", "dup"], mode="disjunctive", k=10)
    return snippets_for_hits(
        read_corpus(spark, sf_dir), [d for d, _ in hits], ["the", "dup"],
        mark=("<em>", "</em>"),
    )


def q_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 as a first-class driver entry: the corpus stats the index
    persists (stats.json + df table) against the oracle's recount."""
    from miru_spark.plans.flagship import ensure_index

    reader = ensure_index(spark, sf_dir)
    vocab = reader.df_df().count()
    n_tokens = int(reader.stats["n_tokens"])
    row = (
        int(reader.n_docs),
        int(vocab),
        n_tokens,
        round(n_tokens / reader.n_docs, 6),
    )
    return spark.createDataFrame(
        [row], "n_docs long, vocab_size long, n_tokens long, avgdl double"
    )


SQL_INDEX_STATS = """
WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
t AS (SELECT doc_id, term FROM tok WHERE term <> '')
SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
       (SELECT COUNT(DISTINCT term) FROM t) AS vocab_size,
       (SELECT COUNT(*) FROM t) AS n_tokens,
       ROUND((SELECT COUNT(*) FROM t)::DOUBLE
             / (SELECT COUNT(*) FROM documents), 6) AS avgdl
""".strip()


def q_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocomplete: top-df dictionary terms under a prefix — the term
    dictionary served as a queryable artifact (Spark scan side; the
    driver-side pyarrow seek is expand_prefix)."""
    from pyspark.sql import functions as F

    from miru_spark.plans.flagship import ensure_index

    reader = ensure_index(spark, sf_dir)
    return (
        reader.df_df()
        .filter(F.col("term").startswith("s"))
        .select("term", F.col("df").cast("long").alias("df"))
        .orderBy(F.desc("df"), "term")
        .limit(5)
    )


SQL_SUGGEST = """
WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
t AS (SELECT DISTINCT doc_id, term FROM tok WHERE term <> '')
SELECT term, CAST(COUNT(*) AS BIGINT) AS df
FROM t WHERE term LIKE 's%'
GROUP BY term ORDER BY df DESC, term LIMIT 5
""".strip()


_ASCII_IDX: dict[str, str] = {}


def _ascii_tok_sql() -> str:
    from miru_spark.functions.tokenize import FOLD_DST, FOLD_SRC

    return (
        "SELECT doc_id, unnest(string_split(translate(lower("
        "text || CASE WHEN doc_id % 3 = 0 THEN ' Café Résumé' ELSE '' END), "
        f"'{FOLD_SRC}', '{FOLD_DST}'), ' ')) AS term FROM documents"
    )


def q_ascii_folding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A77 — asciifolding analyzer (Lucene ASCIIFoldingFilter): every 3rd
    doc gets ' Café Résumé' appended; the plain-ASCII query [cafe, resume]
    only matches if the PINNED diacritic fold round-trips build+serve
    identically to the SQL twin's translate()."""
    import tempfile

    from pyspark.sql import functions as F

    from miru_spark.functions.tokenize import tokenize_py
    from miru_spark.index.reader import IndexReader
    from miru_spark.index.writer import build_index
    from miru_spark.plans.search import search_topk
    from miru_spark.schema import read_corpus

    if sf_dir not in _ASCII_IDX:
        corpus = read_corpus(spark, sf_dir).withColumn(
            "content",
            F.concat(
                F.col("content"),
                F.when(F.col("doc_id") % 3 == 0, F.lit(" Café Résumé"))
                .otherwise(F.lit("")),
            ),
        )
        path = tempfile.mkdtemp(prefix="miru_ascii_") + "/idx"
        build_index(spark, corpus, path, num_partitions=8, tokenizer="ascii")
        _ASCII_IDX[sf_dir] = path
    reader = IndexReader(spark, _ASCII_IDX[sf_dir])
    terms = tokenize_py("Café Résumé", "ascii")  # -> [cafe, resume]
    rows = [
        (int(d), round(float(s), 6))
        for d, s in search_topk(reader, terms, mode="conjunctive", k=10)
    ]
    return spark.createDataFrame(rows, "doc_id long, score double")


_SORTED_IDX: dict[str, str] = {}


def q_sorted_early(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A76 — index sorting + early termination: corpus doc_ids reassigned
    in (doc_len, old id) rank order before the build, so the first k
    matching ids ARE the k best docs by the sort field and the chunk scan
    stops at the decode frontier."""
    import tempfile

    from miru_spark.functions.tokenize import doc_len_col
    from miru_spark.index.reader import IndexReader
    from miru_spark.index.writer import build_index
    from miru_spark.plans.search import search_sorted_topk
    from miru_spark.schema import read_corpus, reassign_ids_sorted

    if sf_dir not in _SORTED_IDX:
        corpus = reassign_ids_sorted(
            read_corpus(spark, sf_dir), doc_len_col("content")
        )
        path = tempfile.mkdtemp(prefix="miru_srt_") + "/idx"
        build_index(spark, corpus, path, num_partitions=8, target_chunk=64)
        _SORTED_IDX[sf_dir] = path
    reader = IndexReader(spark, _SORTED_IDX[sf_dir])
    rows = search_sorted_topk(reader, ["the", "a"], mode="conjunctive", k=10)
    return spark.createDataFrame(rows, "doc_id long, score double")


_LM_CACHE: dict[str, tuple] = {}


def q_phrase_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A75 — ES phrase suggester: 'joinn hashh' -> 'join hash' via fuzzy
    candidate generation + bigram-LM rerank (self-trained corpus model)."""
    from miru_spark.pipeline.lm import train_bigram_lm
    from miru_spark.plans.didyoumean import suggest_phrase
    from miru_spark.plans.flagship import ensure_index

    reader = ensure_index(spark, sf_dir)
    if sf_dir not in _LM_CACHE:
        from pyspark.sql import functions as F

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        bg, uni, v = train_bigram_lm(docs)
        # materialize the small count tables + the train-time total once:
        # later suggest calls do two tiny filtered scans, no corpus pass
        bg, uni = bg.cache(), uni.cache()
        tot = int(uni.agg(F.sum("c1")).first()[0] or 0)
        _LM_CACHE[sf_dir] = (bg, uni, v, tot)
    bg, uni, v, tot = _LM_CACHE[sf_dir]
    rows = suggest_phrase(
        reader, "joinn hashh", bg, uni, v, top_n=3, total_tokens=tot
    )
    return spark.createDataFrame(rows, "suggestion string, score double")


def _phrase_suggest_sql():
    from miru_spark.plans.didyoumean import phrase_suggest_oracle_sql

    return phrase_suggest_oracle_sql("joinn", "hashh", top_n=3)


_PHRASE_SUGGEST_SQL = _phrase_suggest_sql()


def q_spell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did-you-mean (Lucene DirectSpellChecker): corrections for the typo
    'sow' within 1 edit, more-popular-only, ranked (dist, df desc, term)."""
    from miru_spark.plans.flagship import ensure_index
    from miru_spark.plans.search import suggest_spelling

    reader = ensure_index(spark, sf_dir)
    rows = [
        (t, int(d), int(df))
        for t, d, df in suggest_spelling(reader, "sow", max_edits=1, k=5)
    ]
    return spark.createDataFrame(rows, "term string, dist long, df long")


SQL_SPELL = """
WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
t AS (SELECT DISTINCT doc_id, term FROM tok WHERE term <> ''),
df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM t GROUP BY term),
qdf AS (SELECT coalesce((SELECT df FROM df WHERE term = 'sow'), 0) AS qdf)
SELECT term, CAST(levenshtein(term, 'sow') AS BIGINT) AS dist, df
FROM df, qdf
WHERE levenshtein(term, 'sow') = 1 AND df > qdf.qdf
ORDER BY dist, df DESC, term LIMIT 5
""".strip()


_ADD_IDX: dict[str, str] = {}


_JSONL_IDX: dict[str, str] = {}


def q_jsonl_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 source breadth: documents -> gzipped JSONL -> index -> serve."""
    import tempfile

    from miru_spark.index.reader import IndexReader
    from miru_spark.index.writer import build_index
    from miru_spark.plans.search import search_topk
    from miru_spark.schema import corpus_from_any

    if sf_dir not in _JSONL_IDX:
        base = tempfile.mkdtemp(prefix="miru_jsonl_")
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        jl = f"{base}/docs"
        docs.coalesce(2).write.option("compression", "gzip").json(jl)
        idx = f"{base}/idx"
        build_index(
            spark, corpus_from_any(spark, jl, "jsonl"), idx, num_partitions=4
        )
        _JSONL_IDX[sf_dir] = idx
    rows = [
        (int(d), round(float(s), 6))
        for d, s in search_topk(
            IndexReader(spark, _JSONL_IDX[sf_dir]), ["the", "a"],
            mode="conjunctive", k=10,
        )
    ]
    return spark.createDataFrame(rows, "doc_id long, score double")


_PERC_QUERIES = [
    (1, ["join", "hash"], "conjunctive", []),
    (2, ["dup", "tree"], "disjunctive", []),
    (3, ["the"], "conjunctive", ["dup"]),
]


def q_percolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A64 percolation: three registered queries (AND / OR / NOT) matched
    against the whole corpus — reverse search, the alerting primitive."""
    from miru_spark.plans.percolate import percolate
    from miru_spark.schema import read_corpus

    qdf = spark.createDataFrame(
        _PERC_QUERIES,
        "query_id long, terms array<string>, mode string, exclude array<string>",
    )
    return percolate(read_corpus(spark, sf_dir), qdf)


def _percolate_oracle() -> str:
    from miru_spark.plans.percolate import percolate_oracle_sql

    return percolate_oracle_sql(_PERC_QUERIES)


_SHARD_IDX: dict[str, list[str]] = {}


def q_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A63 federated serving (Lucene MultiReader): the corpus built as two
    independent shard indexes over DISJOINT doc_id ranges (no renumbering
    — the content-derived global ids), served with combined corpus stats;
    the oracle is the plain full-corpus BM25 SQL, so the row proves the
    federated ranking is identical to a single-index build."""
    import tempfile

    from pyspark.sql import functions as F

    from miru_spark.index.reader import IndexReader
    from miru_spark.index.writer import build_index
    from miru_spark.plans.search import search_sharded
    from miru_spark.schema import read_corpus

    if sf_dir not in _SHARD_IDX:
        base = tempfile.mkdtemp(prefix="miru_shard_")
        corpus = read_corpus(spark, sf_dir)
        m = corpus.count() // 2
        build_index(
            spark, corpus.filter(F.col("doc_id") < m), f"{base}/s0",
            num_partitions=4,
        )
        build_index(
            spark, corpus.filter(F.col("doc_id") >= m), f"{base}/s1",
            num_partitions=4,
        )
        _SHARD_IDX[sf_dir] = [f"{base}/s0", f"{base}/s1"]
    readers = [IndexReader(spark, p) for p in _SHARD_IDX[sf_dir]]
    rows = search_sharded(readers, ["join", "hash"], mode="conjunctive", k=10)
    return spark.createDataFrame(rows, "doc_id long, score double")


def q_addindexes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A43 addIndexes (Lucene IndexWriter.addIndexes): the corpus is built
    as TWO independent shard indexes (each 0-based) and merged with
    sequential renumbering; the oracle is the plain full-corpus BM25 SQL,
    so the row proves the merged index serves rank-identically to a single
    build."""
    import tempfile

    from pyspark.sql import functions as F

    from miru_spark.index.addindexes import merge_indexes
    from miru_spark.index.reader import IndexReader
    from miru_spark.index.writer import build_index
    from miru_spark.plans.search import search_topk
    from miru_spark.schema import assign_doc_ids, read_corpus

    if sf_dir not in _ADD_IDX:
        base = tempfile.mkdtemp(prefix="miru_add_")
        corpus = assign_doc_ids(read_corpus(spark, sf_dir))
        m = corpus.count() // 2
        build_index(
            spark, corpus.filter(F.col("doc_id") < m), f"{base}/s0",
            num_partitions=4,
        )
        build_index(
            spark,
            corpus.filter(F.col("doc_id") >= m).withColumn(
                "doc_id", F.col("doc_id") - m
            ),
            f"{base}/s1", num_partitions=4,
        )
        merge_indexes(spark, [f"{base}/s0", f"{base}/s1"], f"{base}/merged")
        _ADD_IDX[sf_dir] = f"{base}/merged"
    reader = IndexReader(spark, _ADD_IDX[sf_dir])
    rows = [
        (int(d), round(float(s), 6))
        for d, s in search_topk(reader, ["the", "dup"], mode="disjunctive", k=10)
    ]
    return spark.createDataFrame(rows, "doc_id long, score double")


_DELETED_DOCS = [169, 491, 7]
_DELETE_IDX: dict[str, str] = {}


def _delete_index(spark: SparkSession, sf_dir: str) -> str:
    """A scratch index with three tombstoned docs (separate from the shared
    ensure_index so no other entry sees the deletions)."""
    import tempfile

    from miru_spark.index.writer import build_index, delete_docs
    from miru_spark.schema import read_corpus

    if sf_dir not in _DELETE_IDX:
        path = tempfile.mkdtemp(prefix="miru_del_") + "/idx"
        build_index(spark, read_corpus(spark, sf_dir), path, num_partitions=8)
        delete_docs(path, _DELETED_DOCS)
        _DELETE_IDX[sf_dir] = path
    return _DELETE_IDX[sf_dir]


def q_delete_tombstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstoned docs vanish from serving while stats stay pre-delete
    (Lucene live-docs semantics) — oracled against a result-side filter."""
    from miru_spark.index.reader import IndexReader
    from miru_spark.plans.search import search_topk

    reader = IndexReader(spark, _delete_index(spark, sf_dir))
    rows = [
        (int(d), round(float(s), 6))
        for d, s in search_topk(reader, ["join", "hash"], mode="conjunctive", k=10)
    ]
    return spark.createDataFrame(rows, "doc_id long, score double")


_PURGE_IDX: dict[str, str] = {}


def q_delete_purged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """After purge_deleted the index physically re-reflects the corpus
    minus the deleted docs — stats/df recomputed, so the oracle filters
    INSIDE the tokenization CTE."""
    import shutil
    import tempfile

    from miru_spark.index.reader import IndexReader
    from miru_spark.index.writer import purge_deleted
    from miru_spark.plans.search import search_topk

    if sf_dir not in _PURGE_IDX:
        src = _delete_index(spark, sf_dir)
        path = tempfile.mkdtemp(prefix="miru_purge_") + "/idx"
        shutil.copytree(src, path)
        purge_deleted(spark, path)
        _PURGE_IDX[sf_dir] = path
    reader = IndexReader(spark, _PURGE_IDX[sf_dir])
    assert reader.tombstones is None
    rows = [
        (int(d), round(float(s), 6))
        for d, s in search_topk(reader, ["the", "dup"], mode="disjunctive", k=10)
    ]
    return spark.createDataFrame(rows, "doc_id long, score double")


_RESUME_IDX: dict[str, str] = {}


def q_index_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 in the driver record: build, truncate the manifest to half the
    committed partitions (simulated executor loss), delete their segment
    dirs, RESUME, then serve — oracled like any other bm25 entry, proving
    the resumed index is rank-identical to a clean build."""
    import json
    import os
    import shutil
    import tempfile

    from miru_spark.index.reader import IndexReader
    from miru_spark.index.writer import build_index, read_manifest
    from miru_spark.plans.search import search_topk
    from miru_spark.schema import read_corpus

    if sf_dir not in _RESUME_IDX:
        path = tempfile.mkdtemp(prefix="miru_resume_") + "/idx"
        corpus = read_corpus(spark, sf_dir)
        build_index(spark, corpus, path, num_partitions=8)
        man = read_manifest(path)
        keep = sorted(man["partitions"], key=int)[:4]
        man["partitions"] = {k: man["partitions"][k] for k in keep}
        with open(f"{path}/manifest.json", "w") as f:
            json.dump(man, f)
        for d in os.listdir(f"{path}/segments"):
            if d.startswith("partition_id=") and d.split("=")[-1] not in keep:
                shutil.rmtree(f"{path}/segments/{d}")
        man2 = build_index(spark, corpus, path, num_partitions=8, resume=True)
        assert man2["metrics"]["resumed_partitions"] == [int(k) for k in keep]
        _RESUME_IDX[sf_dir] = path
    reader = IndexReader(spark, _RESUME_IDX[sf_dir])
    rows = [
        (int(d), round(float(s), 6))
        for d, s in search_topk(reader, ["join", "hash"], mode="conjunctive", k=10)
    ]
    return spark.createDataFrame(rows, "doc_id long, score double")


_SNAP_IDX: dict[str, str] = {}


def q_index_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11's snapshot sink in the driver record: build through the
    Iceberg-style snapshot protocol, read manifest-driven (directory state
    never trusted), serve — same oracle as the directory-layout build."""
    import tempfile

    from miru_spark.index.reader import IndexReader
    from miru_spark.index.writer import build_index
    from miru_spark.plans.search import search_topk
    from miru_spark.schema import read_corpus

    if sf_dir not in _SNAP_IDX:
        path = tempfile.mkdtemp(prefix="miru_snap_") + "/idx"
        build_index(
            spark, read_corpus(spark, sf_dir), path, num_partitions=8,
            snapshots=True,
        )
        _SNAP_IDX[sf_dir] = path
    reader = IndexReader(spark, _SNAP_IDX[sf_dir])
    assert reader.snapshot is not None
    rows = [
        (int(d), round(float(s), 6))
        for d, s in search_topk(reader, ["the", "dup"], mode="disjunctive", k=10)
    ]
    return spark.createDataFrame(rows, "doc_id long, score double")


# ---- code-mode tokenization end-to-end (north_rule: source-code input) ----

# decorate the text corpus into code-shaped content: mixed case, operators,
# punctuation, and a df-stratified identifier token (todo_0..todo_6); the
# code tokenizer must lowercase and split on non-[a-z0-9_] runs, keeping
# snake_case identifiers whole. The SQL below replicates the SAME decoration
# and tokenization in DuckDB, so the oracle checks build+serve end-to-end.
_CODE_PREFIX = 'def My_Func(): return "'
_CODE_SUFFIX = '" # TODO_'

CODE_TOK_SQL = (
    "SELECT doc_id, unnest(string_split_regex(lower("
    f"'{_CODE_PREFIX}' || text || '{_CODE_SUFFIX}' || CAST(doc_id % 7 AS VARCHAR)"
    "), '[^a-z0-9_]+')) AS term FROM documents"
)

_SPLIT_SQL = (
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace({col}, "
    "'([A-Z]+)([A-Z][a-z])', '\\1 \\2', 'g'), "
    "'([a-z0-9])([A-Z])', '\\1 \\2', 'g'), "
    "'([A-Za-z])([0-9])', '\\1 \\2', 'g'), "
    "'([0-9])([A-Za-z])', '\\1 \\2', 'g')"
)

CODE_SPLIT_TOK_SQL = (
    "SELECT doc_id, unnest(string_split_regex(lower("
    + _SPLIT_SQL.format(
        col=f"'{_CODE_PREFIX}' || text || '{_CODE_SUFFIX}' "
            "|| CAST(doc_id % 7 AS VARCHAR)"
    )
    + "), '[^a-z0-9]+')) AS term FROM documents"
)

_EN_DECOR_SQL = "text || CASE WHEN doc_id % 3 = 0 THEN ' Nodes trees' ELSE '' END"

ENGLISH_TOK_SQL = (
    "SELECT doc_id, CASE WHEN len(t) >= 4 AND t LIKE '%s' "
    "AND t NOT LIKE '%us' AND t NOT LIKE '%ss' "
    "THEN substr(t, 1, len(t) - 1) ELSE t END AS term FROM ("
    f"SELECT doc_id, lower(unnest(string_split_regex({_EN_DECOR_SQL}, "
    r"'\s+'))) AS t FROM documents) "
    "WHERE t <> '' AND t NOT IN ({stops})"
)


_SYN_IDX: dict[str, str] = {}


def q_synonym_analyzer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A112 — index-time synonym collapse (Lucene SynonymGraphFilter at
    index time, keep-one-form): the pinned class {sort -> order} merges a
    real vocabulary pair, so searching the canonical 'order' must hit
    docs that contain only 'sort', with tf SUMMED and idf computed from
    the MERGED class df — the semantics only index-time collapse gives
    (A41's query-time expansion approximates it with max-df blending).
    End-to-end through build+serve against a SQL twin carrying the same
    CASE collapse."""
    import tempfile

    from miru_spark.index.reader import IndexReader
    from miru_spark.index.writer import build_index
    from miru_spark.plans.search import search_topk
    from miru_spark.schema import read_corpus

    if sf_dir not in _SYN_IDX:
        path = tempfile.mkdtemp(prefix="miru_syn_") + "/idx"
        build_index(
            spark, read_corpus(spark, sf_dir), path, num_partitions=8,
            tokenizer="synonyms",
        )
        _SYN_IDX[sf_dir] = path
    reader = IndexReader(spark, _SYN_IDX[sf_dir])
    from miru_spark.functions.tokenize import tokenize_py

    terms = tokenize_py("Sort", "synonyms")  # -> [order]
    rows = [
        (int(d), round(float(s), 6))
        for d, s in search_topk(reader, terms, mode="conjunctive", k=10)
    ]
    return spark.createDataFrame(rows, "doc_id long, score double")


def _synonym_tok_sql() -> str:
    from miru_spark.functions.tokenize import SYNONYM_COLLAPSE

    cases = " ".join(
        f"WHEN t = '{k}' THEN '{v}'"
        for k, v in sorted(SYNONYM_COLLAPSE.items())
    )
    return (
        "SELECT doc_id, CASE " + cases + " ELSE t END AS term FROM ("
        "SELECT doc_id, unnest(string_split(text,' ')) AS t FROM documents)"
    )


def _english_tok_sql() -> str:
    from miru_spark.functions.tokenize import ENGLISH_STOPWORDS

    return ENGLISH_TOK_SQL.format(
        stops=",".join(f"'{w}'" for w in ENGLISH_STOPWORDS)
    )


def _multilang_tok_sql_decorated() -> str:
    from miru_spark.functions.tokenize import multilang_tok_sql

    return multilang_tok_sql(_ML_DECOR_SQL)

_CODE_IDX: dict[str, str] = {}
_CODE_SPLIT_IDX: dict[str, str] = {}
_EN_IDX: dict[str, str] = {}
_EDGE_IDX: dict[str, str] = {}


def q_edge_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A70 — edge n-gram index-time autocomplete (Lucene
    EdgeNGramTokenFilter / ES search_as_you_type): the corpus indexed with
    tokenizer='edge' turns every prefix query into an EXACT term lookup —
    the production autocomplete path at scale (no dictionary scan, no
    query rewrite; prefix heat is absorbed at index-build time). The query
    here is the raw user keystrokes 'jo' + 'ha' served conjunctively."""
    import tempfile

    from miru_spark.index.reader import IndexReader
    from miru_spark.index.writer import build_index
    from miru_spark.plans.search import search_topk
    from miru_spark.schema import read_corpus

    if sf_dir not in _EDGE_IDX:
        path = tempfile.mkdtemp(prefix="miru_edge_") + "/idx"
        build_index(spark, read_corpus(spark, sf_dir), path,
                    num_partitions=8, tokenizer="edge")
        _EDGE_IDX[sf_dir] = path
    reader = IndexReader(spark, _EDGE_IDX[sf_dir])
    rows = [
        (int(d), round(float(s), 6))
        for d, s in search_topk(reader, ["jo", "ha"], mode="conjunctive", k=10)
    ]
    return spark.createDataFrame(rows, "doc_id long, score double")


_SHINGLE_IDX: dict[str, str] = {}


def q_shingle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A86 — shingle filter (Lucene ShingleFilter / ES shingle): the corpus
    indexed with tokenizer='shingle' stores unigrams AND adjacent bigrams
    as terms, so a quoted two-word phrase is ONE exact term lookup — the
    positionless phrase-search trade (bigger vocabulary, no position
    stream, no per-doc position verify at serve time). The query is the
    bigram term 'join hash' plus the unigram 'dup', conjunctive: the doc
    must contain the exact adjacency AND the third word."""
    import tempfile

    from miru_spark.index.reader import IndexReader
    from miru_spark.index.writer import build_index
    from miru_spark.plans.search import search_topk
    from miru_spark.schema import read_corpus

    if sf_dir not in _SHINGLE_IDX:
        path = tempfile.mkdtemp(prefix="miru_shingle_") + "/idx"
        build_index(spark, read_corpus(spark, sf_dir), path,
                    num_partitions=8, tokenizer="shingle")
        _SHINGLE_IDX[sf_dir] = path
    reader = IndexReader(spark, _SHINGLE_IDX[sf_dir])
    rows = [
        (int(d), round(float(s), 6))
        for d, s in search_topk(
            reader, ["join hash", "dup"], mode="conjunctive", k=10
        )
    ]
    return spark.createDataFrame(rows, "doc_id long, score double")


def q_english_analyzer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A62 — the english analysis chain (Lucene EnglishAnalyzer shape:
    lowercase -> default stop set -> EnglishMinimalStemFilter) end-to-end
    through build+serve: every 3rd doc gets ' Nodes trees' appended, so the
    query [node, tree] only ranks correctly if BOTH the plural stemming
    ('nodes'->'node', 'trees'->'tree') and the stopword removal (which
    changes doc_len/avgdl for every doc containing 'a'/'the') round-trip
    the index identically to the SQL twin."""
    import tempfile

    from pyspark.sql import functions as F

    from miru_spark.index.reader import IndexReader
    from miru_spark.index.writer import build_index
    from miru_spark.plans.search import search_topk
    from miru_spark.schema import read_corpus

    if sf_dir not in _EN_IDX:
        corpus = read_corpus(spark, sf_dir).withColumn(
            "content",
            F.concat(
                F.col("content"),
                F.when(F.col("doc_id") % 3 == 0, F.lit(" Nodes trees"))
                .otherwise(F.lit("")),
            ),
        )
        path = tempfile.mkdtemp(prefix="miru_en_") + "/idx"
        build_index(spark, corpus, path, num_partitions=8, tokenizer="english")
        _EN_IDX[sf_dir] = path
    reader = IndexReader(spark, _EN_IDX[sf_dir])
    from miru_spark.functions.tokenize import tokenize_py

    terms = tokenize_py("Nodes and Trees", "english")  # -> [node, tree]
    rows = [
        (int(d), round(float(s), 6))
        for d, s in search_topk(reader, terms, mode="conjunctive", k=10)
    ]
    return spark.createDataFrame(rows, "doc_id long, score double")


_ML_IDX: dict[str, str] = {}

# per-lang decorations: each appended phrase is PLURAL in its language, so
# the singular-stem query only ranks correctly if the per-lang minimal
# stemmer fired on that language's docs (and nobody else's — 'Redes Datos'
# under the German chain would stem to 'red'/'dato' too, but only es docs
# carry it)
_ML_DECOR = {
    "en": " Nodes Trees",
    "es": " Redes Datos",
    "de": " Knoten Felder",
    "fr": " Arbres Reseaux",
}

_ML_DECOR_SQL = "text || CASE " + " ".join(
    f"WHEN lang = '{c}' THEN '{d}'" for c, d in _ML_DECOR.items()
) + " ELSE '' END"


def q_multilang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 5 — the multilingual analysis chain (VERDICT r4 #6): per-
    ``lang`` stop sets and pinned minimal stemmers (Snowball-lite CASE
    rules, tokenize.py MULTILANG_STOPWORDS/_stem_*_col) routed by the
    corpus lang column, end-to-end through build+serve. Every doc gets a
    plural decoration in its own language; the query is the SPANISH
    singular stems tokenize_py_lang('Redes Datos', 'es') -> [red, dato],
    conjunctive — it matches exactly the es docs, with avgdl shifted by
    every language's stop-set removal, so the whole per-lang chain must
    round-trip the index identically to the SQL twin."""
    import tempfile

    from pyspark.sql import functions as F

    from miru_spark.functions.tokenize import tokenize_py_lang
    from miru_spark.index.reader import IndexReader
    from miru_spark.index.writer import build_index
    from miru_spark.plans.search import search_topk
    from miru_spark.schema import read_corpus

    if sf_dir not in _ML_IDX:
        decor = None
        for c, d in _ML_DECOR.items():
            decor = (
                F.when(F.col("lang") == c, F.lit(d))
                if decor is None
                else decor.when(F.col("lang") == c, F.lit(d))
            )
        corpus = read_corpus(spark, sf_dir).withColumn(
            "content",
            F.concat(F.col("content"), decor.otherwise(F.lit(""))),
        )
        path = tempfile.mkdtemp(prefix="miru_ml_") + "/idx"
        build_index(spark, corpus, path, num_partitions=8,
                    tokenizer="multilang")
        _ML_IDX[sf_dir] = path
    reader = IndexReader(spark, _ML_IDX[sf_dir])
    terms = tokenize_py_lang("Redes Datos", "es")  # -> [red, dato]
    rows = [
        (int(d), round(float(s), 6))
        for d, s in search_topk(reader, terms, mode="conjunctive", k=10)
    ]
    return spark.createDataFrame(rows, "doc_id long, score double")


# Porter-rich constructed vocabulary: inflection families whose members
# collapse to shared stems through different rule steps (1b dedoubling,
# step2 ization, step3 ful/ness, step4 ion/er, step5b ll). Content is
# REPLACED (not decorated) so the corpus vocabulary is exactly this list
# and the oracle's generated stem CASE provably covers every token.
_PORTER_WORDS = [
    "running", "runs", "relational", "relations",
    "generalization", "generalizations", "controlling", "controlled",
    "adjustable", "adjustment", "hopefulness", "hopeful",
    "troubles", "troubled", "oscillators", "oscillating",
]
_PORTER_IDX: dict[str, str] = {}


def _porter_tok_sql() -> str:
    """Generated DuckDB twin of the porter-mode analysis over the
    constructed corpus: each doc's 3 tokens are WORDS[(doc_id*3+i) % N],
    mapped through a CASE holding porter_stem's output for the known
    vocabulary (functions/porter.porter_stem_case_sql discipline — the
    per-token function is not SQL-expressible, the finite mapping is)."""
    from miru_spark.functions.porter import porter_stem

    n = len(_PORTER_WORDS)
    branches = []
    for i in range(3):
        arms = " ".join(
            f"WHEN {j} THEN '{porter_stem(w)}'"
            for j, w in enumerate(_PORTER_WORDS)
        )
        branches.append(
            f"SELECT doc_id, CASE (doc_id*3+{i}) % {n} {arms} END AS term "
            "FROM documents"
        )
    return " UNION ALL ".join(branches)


def q_porter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 5 — the FULL Porter stemmer (Lucene PorterStemFilter / ES
    porter_stem; functions/porter.py) end-to-end through build+serve:
    every doc's content is replaced by 3 words from the Porter-rich list
    selected by doc_id, indexed with tokenizer='porter' (the Arrow-UDF
    analyzer; stem_corpus_dict is the pinned-identical scale path), and
    queried with tokenize_py('running relations', 'porter') -> [run,
    relat] conjunctive — stems that only exist because 1b dedoubling and
    step-4 ion-stripping both fired."""
    import tempfile

    from pyspark.sql import functions as F

    from miru_spark.functions.tokenize import tokenize_py
    from miru_spark.index.reader import IndexReader
    from miru_spark.index.writer import build_index
    from miru_spark.plans.search import search_topk
    from miru_spark.schema import read_corpus

    if sf_dir not in _PORTER_IDX:
        n = len(_PORTER_WORDS)
        arr = F.array(*[F.lit(w) for w in _PORTER_WORDS])
        corpus = read_corpus(spark, sf_dir).withColumn(
            "content",
            F.concat_ws(
                " ",
                *[
                    F.element_at(
                        arr,
                        ((F.col("doc_id") * 3 + F.lit(i)) % n + 1).cast(
                            "int"
                        ),
                    )
                    for i in range(3)
                ],
            ),
        )
        path = tempfile.mkdtemp(prefix="miru_porter_") + "/idx"
        build_index(spark, corpus, path, num_partitions=8,
                    tokenizer="porter")
        _PORTER_IDX[sf_dir] = path
    reader = IndexReader(spark, _PORTER_IDX[sf_dir])
    terms = tokenize_py("running relations", "porter")  # -> [run, relat]
    rows = [
        (int(d), round(float(s), 6))
        for d, s in search_topk(reader, terms, mode="conjunctive", k=10)
    ]
    return spark.createDataFrame(rows, "doc_id long, score double")


def q_code_split_tokenizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A44 — the subtoken analyzer (word_delimiter) end-to-end: the
    code-decorated corpus indexed with tokenizer='code_split', so
    'My_Func' serves as [my, func] and the TODO_ digit as its own term;
    the oracle replicates the same boundary-insert regexp chain in
    DuckDB."""
    import tempfile

    from pyspark.sql import functions as F

    from miru_spark.index.reader import IndexReader
    from miru_spark.index.writer import build_index
    from miru_spark.plans.search import search_topk
    from miru_spark.schema import read_corpus

    if sf_dir not in _CODE_SPLIT_IDX:
        corpus = read_corpus(spark, sf_dir).withColumn(
            "content",
            F.concat(
                F.lit(_CODE_PREFIX),
                F.col("content"),
                F.lit(_CODE_SUFFIX),
                (F.col("doc_id") % 7).cast("string"),
            ),
        )
        path = tempfile.mkdtemp(prefix="miru_csplit_") + "/idx"
        build_index(spark, corpus, path, num_partitions=8,
                    tokenizer="code_split")
        _CODE_SPLIT_IDX[sf_dir] = path
    reader = IndexReader(spark, _CODE_SPLIT_IDX[sf_dir])
    rows = [
        (int(d), round(float(s), 6))
        for d, s in search_topk(
            reader, ["func", "3"], mode="conjunctive", k=10
        )
    ]
    return spark.createDataFrame(rows, "doc_id long, score double")


def q_code_tokenizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tokenizer='code' exercised end-to-end through build+serve: the
    canonical 5-column corpus (FIXTURES.md) decorated with code syntax,
    indexed in code mode, served a query mixing a decoration identifier
    with a content term."""
    import tempfile

    from pyspark.sql import functions as F

    from miru_spark.index.reader import IndexReader
    from miru_spark.index.writer import build_index
    from miru_spark.plans.search import search_topk
    from miru_spark.schema import read_corpus

    if sf_dir not in _CODE_IDX:
        corpus = read_corpus(spark, sf_dir).withColumn(
            "content",
            F.concat(
                F.lit(_CODE_PREFIX),
                F.col("content"),
                F.lit(_CODE_SUFFIX),
                (F.col("doc_id") % 7).cast("string"),
            ),
        )
        path = tempfile.mkdtemp(prefix="miru_code_") + "/idx"
        build_index(spark, corpus, path, num_partitions=8, tokenizer="code")
        _CODE_IDX[sf_dir] = path
    reader = IndexReader(spark, _CODE_IDX[sf_dir])
    rows = [
        (int(d), round(float(s), 6))
        for d, s in search_topk(
            reader, ["todo_3", "join"], mode="conjunctive", k=10
        )
    ]
    return spark.createDataFrame(rows, "doc_id long, score double")


_MF_IDX: dict[str, str] = {}
_MF_WEIGHTS = {"content": 1.0, "path": 3.0}
_MF_PATH_TOK = (
    "SELECT doc_id, unnest(string_split(regexp_replace("
    "printf('doc_%05d.txt', doc_id), '[/._-]+', ' ', 'g'), ' ')) AS term "
    "FROM documents"
)


def q_multifield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A36 — multi-field (ES most_fields) search: content + path field
    indexes over the same doc_id space, path weighted 3x, so the doc whose
    FILENAME matches '00007' outranks body-only matches."""
    import tempfile

    from miru_spark.plans.multifield import (
        build_multifield_index,
        open_field_readers,
        search_fields,
    )
    from miru_spark.schema import read_corpus

    if sf_dir not in _MF_IDX:
        base = tempfile.mkdtemp(prefix="miru_mf_") + "/idx"
        build_multifield_index(
            spark, read_corpus(spark, sf_dir), base, num_partitions=8
        )
        _MF_IDX[sf_dir] = base
    readers = open_field_readers(spark, _MF_IDX[sf_dir])
    rows = [
        (int(d), round(float(s), 6))
        for d, s in search_fields(
            readers, ["the", "00007"], weights=_MF_WEIGHTS, mode="disjunctive"
        )
    ]
    return spark.createDataFrame(rows, "doc_id long, score double")


def q_cross_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A74 — multi_match type=cross_fields (ES BlendedTermQuery): blended
    per-term df across content+path, term contribution = max weighted
    per-field BM25, conjunctive = every term in SOME field ('txt' lives
    only in path, 'join' only in content — best_fields/AND rejects this
    doc set, cross_fields accepts it)."""
    from miru_spark.plans.multifield import (
        build_multifield_index,
        open_field_readers,
        search_fields_cross,
    )
    from miru_spark.schema import read_corpus

    if sf_dir not in _MF_IDX:
        import tempfile

        base = tempfile.mkdtemp(prefix="miru_mf_") + "/idx"
        build_multifield_index(
            spark, read_corpus(spark, sf_dir), base, num_partitions=8
        )
        _MF_IDX[sf_dir] = base
    readers = open_field_readers(spark, _MF_IDX[sf_dir])
    rows = [
        (int(d), round(float(s), 6))
        for d, s in search_fields_cross(
            readers, ["txt", "join"], weights=_MF_WEIGHTS, mode="conjunctive"
        )
    ]
    return spark.createDataFrame(rows, "doc_id long, score double")


_SIG_ARGS = dict(mode="disjunctive", top_n=10, min_doc_count=3)


def _mk_sigterms():
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.sigterms import significant_terms
        from miru_spark.schema import read_corpus

        reader = ensure_index(spark, sf_dir)
        return significant_terms(
            reader, read_corpus(spark, sf_dir), ["join", "hash"], **_SIG_ARGS
        )

    return run


def _sigterms_oracle() -> str:
    from miru_spark.plans.sigterms import significant_terms_oracle_sql

    return significant_terms_oracle_sql(["join", "hash"], **_SIG_ARGS)


_HY_TERMS = ["join", "hash"]


def _mk_hybrid_rrf():
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.hybrid import hybrid_rrf

        reader = ensure_index(spark, sf_dir)
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        qvec = list(emb.filter("vec_id = 0").first().embedding)
        return hybrid_rrf(reader, _HY_TERMS, emb, qvec,
                          mode="disjunctive", k=20)

    return run


def _mk_hybrid_linear():
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.hybrid import hybrid_linear

        reader = ensure_index(spark, sf_dir)
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        qvec = list(emb.filter("vec_id = 0").first().embedding)
        return hybrid_linear(reader, _HY_TERMS, emb, qvec,
                             mode="disjunctive", k=20)

    return run


def _hybrid_linear_oracle() -> str:
    from miru_spark.plans.hybrid import hybrid_linear_oracle_sql

    return hybrid_linear_oracle_sql(_HY_TERMS, mode="disjunctive", k=20)


def _hybrid_oracle() -> str:
    from miru_spark.plans.hybrid import hybrid_rrf_oracle_sql

    return hybrid_rrf_oracle_sql(_HY_TERMS, mode="disjunctive", k=20)


_RESCORE_ARGS = dict(window_size=100, k=20, query_weight=1.0,
                     rescore_weight=2.0, mode="disjunctive")


def _mk_rescore():
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.rescore import rescore_topk

        reader = ensure_index(spark, sf_dir)
        rows = rescore_topk(
            reader, ["order", "fast"], "order fast", **_RESCORE_ARGS
        )
        return spark.createDataFrame(
            [(int(d), float(s)) for d, s in rows], "doc_id long, score double"
        )

    return run


def _rescore_oracle() -> str:
    from miru_spark.plans.rescore import rescore_oracle_sql

    return rescore_oracle_sql(["order", "fast"], "order fast",
                              **_RESCORE_ARGS)


_FS_TERMS = ["join", "hash"]


def _fs_functions():
    from miru_spark.plans.funcscore import Decay, FieldValueFactor

    return [
        Decay("gauss", "doc_len", origin=50.0, scale=20.0),
        FieldValueFactor("doc_len", factor=0.1, modifier="log1p", weight=2.0),
    ]


_HC_ARGS = dict(mode="disjunctive", score_mode="sum", min_children=2,
                max_children=40, k=10)
_HP_ARGS = dict(mode="conjunctive", score=True, score_mode="max", k=25)


def _mk_has_child():
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.blockjoin import search_has_child
        from miru_spark.plans.flagship import ensure_index

        return search_has_child(
            ensure_index(spark, sf_dir), ["join", "hash"], **_HC_ARGS
        )

    return run


def _has_child_oracle() -> str:
    from miru_spark.plans.blockjoin import has_child_oracle_sql

    return has_child_oracle_sql(["join", "hash"], **_HC_ARGS)


def _mk_has_parent():
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.blockjoin import search_has_parent
        from miru_spark.plans.flagship import ensure_index

        return search_has_parent(
            ensure_index(spark, sf_dir), ["join", "hash"], **_HP_ARGS
        )

    return run


def _has_parent_oracle() -> str:
    from miru_spark.plans.blockjoin import has_parent_oracle_sql

    return has_parent_oracle_sql(["join", "hash"], **_HP_ARGS)


_RF_FEATURE_ARGS = dict(field="doc_len", kind="saturation", pivot=40.0,
                        boost=2.0)


def _mk_rank_feature():
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.rankfeature import (
            RankFeature,
            search_rank_feature_distributed,
        )

        reader = ensure_index(spark, sf_dir)
        return search_rank_feature_distributed(
            reader, _FS_TERMS, RankFeature(**_RF_FEATURE_ARGS),
            mode="disjunctive",
        )

    return run


def _rank_feature_oracle() -> str:
    from miru_spark.plans.rankfeature import RankFeature, rank_feature_oracle_sql

    return rank_feature_oracle_sql(
        _FS_TERMS, RankFeature(**_RF_FEATURE_ARGS), mode="disjunctive"
    )


def _rs_functions():
    from miru_spark.plans.funcscore import FieldValueFactor, RandomScore

    return [
        RandomScore(seed="ab1", field="doc_id", weight=3.0),
        FieldValueFactor("doc_len", factor=0.1, modifier="sqrt"),
    ]


def _mk_random_score():
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.funcscore import search_function_score

        reader = ensure_index(spark, sf_dir)
        return search_function_score(
            reader, _FS_TERMS, _rs_functions(),
            mode="disjunctive", score_mode="sum", boost_mode="sum",
        )

    return run


def _random_score_oracle() -> str:
    from miru_spark.plans.funcscore import function_score_oracle_sql

    return function_score_oracle_sql(
        _FS_TERMS, _rs_functions(),
        mode="disjunctive", score_mode="sum", boost_mode="sum",
    )


def _mk_funcscore():
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from miru_spark.plans.flagship import ensure_index
        from miru_spark.plans.funcscore import search_function_score

        reader = ensure_index(spark, sf_dir)
        return search_function_score(
            reader, _FS_TERMS, _fs_functions(),
            mode="disjunctive", score_mode="sum", boost_mode="multiply",
        )

    return run


def _funcscore_oracle() -> str:
    from miru_spark.plans.funcscore import function_score_oracle_sql

    return function_score_oracle_sql(
        _FS_TERMS, _fs_functions(),
        mode="disjunctive", score_mode="sum", boost_mode="multiply",
    )


def q_combined_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A91 — multi_match type=combined_fields (ES combined_fields /
    Lucene CombinedFieldQuery): ONE synthetic field — weighted tf/dl
    sums, blended df, single BM25 saturation over the combined tf."""
    import tempfile

    from miru_spark.plans.multifield import (
        build_multifield_index,
        open_field_readers,
        search_fields_combined,
    )
    from miru_spark.schema import read_corpus

    if sf_dir not in _MF_IDX:
        base = tempfile.mkdtemp(prefix="miru_mf_") + "/idx"
        build_multifield_index(
            spark, read_corpus(spark, sf_dir), base, num_partitions=8
        )
        _MF_IDX[sf_dir] = base
    readers = open_field_readers(spark, _MF_IDX[sf_dir])
    return search_fields_combined(
        readers, ["txt", "the"], weights=_MF_WEIGHTS, mode="disjunctive"
    )


def q_dismax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A51 — dis_max (ES best_fields): the BEST field's BM25 carries the
    score, other matching fields add only tie_breaker (0.3) times theirs —
    so a filename hit ranks on its own strength instead of being diluted
    or inflated by body mentions."""
    import tempfile

    from miru_spark.plans.dismax import search_fields_dismax
    from miru_spark.plans.multifield import (
        build_multifield_index,
        open_field_readers,
    )
    from miru_spark.schema import read_corpus

    if sf_dir not in _MF_IDX:
        base = tempfile.mkdtemp(prefix="miru_mf_") + "/idx"
        build_multifield_index(
            spark, read_corpus(spark, sf_dir), base, num_partitions=8
        )
        _MF_IDX[sf_dir] = base
    readers = open_field_readers(spark, _MF_IDX[sf_dir])
    rows = [
        (int(d), round(float(s), 6))
        for d, s in search_fields_dismax(
            readers, ["the", "00007"], weights=_MF_WEIGHTS,
            tie_breaker=0.3, mode="disjunctive",
        )
    ]
    return spark.createDataFrame(rows, "doc_id long, score double")


def register_all(register) -> None:
    """17 index-tier driver entries (was 38 individual ones): same-family
    cases are tagged-union composites so every family fits inside the
    driver's 50-row correctness record; tags = the old entry names."""
    from miru_spark.plans.composite import register_composite
    from miru_spark.plans.relational import (
        bm25_delete_oracle_sql,
        bm25_near_oracle_sql,
        bm25_pinned_oracle_sql,
        bm25_regex_oracle_sql,
        bm25_term_range_oracle_sql,
        bm25_sloppy_phrase_oracle_sql,
        bm25_sorted_early_oracle_sql,
        bm25_span_enclosure_oracle_sql,
        bm25_span_first_oracle_sql,
        bm25_span_not_oracle_sql,
        lm_dirichlet_oracle_sql,
        match_bool_prefix_oracle_sql,
        classic_oracle_sql,
        collapse_oracle_sql,
        count_oracle_sql,
        extended_stats_oracle_sql,
        facet_rollup_oracle_sql,
        field_stats_oracle_sql,
        filters_agg_oracle_sql,
        string_stats_oracle_sql,
        mad_oracle_sql,
        boxplot_oracle_sql,
        t_test_oracle_sql,
        percentile_ranks_oracle_sql,
        histogram_oracle_sql,
        matrix_stats_oracle_sql,
        mlt_oracle_sql,
        multi_terms_oracle_sql,
        range_agg_oracle_sql,
        sampled_facets_oracle_sql,
        snippet_oracle_sql,
        sorted_oracle_sql,
        synonym_oracle_sql,
        term_vector_oracle_sql,
        variable_width_histogram_oracle_sql,
        bucket_sort_oracle_sql,
        facets_by_metric_oracle_sql,
        terms_set_oracle_sql,
    )

    DS = ("doc_id", "score")

    register_composite(register, "bm25_index_bool", [
        (n, _mk_topk(t, m), bm25_oracle_sql(t, m), DS)
        for n, (t, m) in CASES.items()
    ] + [
        # A78 pinned query (ES pinned / promoted results): curated ids
        # first with the artificial 1e9-position score, organic after
        ("bm25_index_pinned",
         _mk_pinned(["join", "hash"], [400, 7], "conjunctive"),
         bm25_pinned_oracle_sql(["join", "hash"], [400, 7], "conjunctive"),
         DS),
        # metadata-filtered search (A34): docmap allowlist enforced at
        # heap-insert, scores stay corpus-wide (Lucene filtered query)
        ("bm25_index_filter_lang",
         _mk_topk(["the", "a"], "conjunctive", where={"lang": "en"}),
         bm25_oracle_sql(["the", "a"], "conjunctive", meta_where="lang = 'en'"),
         DS),
        # range-filtered search (A35): Lucene range syntax through the full
        # grammar -> docmap doc_len range pushed to the pyarrow scan
        # A34b Prefix metadata filter (Lucene PrefixQuery in filter
        # context / ES prefix on a keyword field): the directory-subtree
        # filter — path starts-with, statistics-prunable range bounds on
        # the driver scan, codegen StartsWith on the semi-join
        ("bm25_index_filter_prefix",
         _mk_filter_prefix(["the", "a"], "conjunctive", "path", "doc_001"),
         bm25_oracle_sql(
             ["the", "a"], "conjunctive",
             meta_where="printf('doc_%05d.txt', doc_id) LIKE 'doc_001%'",
         ),
         DS),
        ("bm25_index_filter_range",
         _mk_grammar("the AND a doc_len:[40 TO 60]"),
         bm25_oracle_sql(["the", "a"], "conjunctive",
                         # non-empty tokens only — matches the engine's
                         # docmap doc_len (regexp_count of \S+) and the
                         # repo-wide term <> '' oracle idiom; a doc with a
                         # double space must not drift across the boundary
                         meta_where="len(list_filter(string_split(text, ' '),"
                                    " t -> t <> '')) BETWEEN 40 AND 60"),
         DS),
        # A88 simple_query_string (ES simple_query_string): the lenient
        # user-facing syntax — +/|/- operators, group-level must_not —
        # translated to the A56 tree, oracle generated from the same AST
        ("bm25_index_simpleq",
         _mk_simpleq("the + a | -dup data"),
         _simpleq_oracle("the + a | -dup data"),
         DS),
        # A85 terms_set (ES terms_set / Lucene CoveringQuery): PER-DOC
        # minimum-should-match floor derived from a stored numeric column
        ("bm25_index_terms_set",
         _mk_terms_set(["join", "hash", "dup", "tree", "node"], 30),
         terms_set_oracle_sql(["join", "hash", "dup", "tree", "node"],
                              divisor=30),
         DS),
        # A49 minimum_should_match: >=3 of 5 should-terms must hit; scores
        # still sum over every matched term (ES minimum_should_match)
        ("bm25_index_mm3",
         _mk_topk(["join", "hash", "dup", "tree", "node"], "disjunctive",
                  min_match=3),
         bm25_oracle_sql(["join", "hash", "dup", "tree", "node"],
                         "disjunctive", min_match=3),
         DS),
        # A38 keyset pagination: page 2 via a real page-1 cursor; oracle =
        # rows 11-20 of the same full ranking
        ("bm25_index_after",
         _mk_after(["the", "a"], "disjunctive"),
         "SELECT doc_id, score FROM ("
         + bm25_oracle_sql(["the", "a"], "disjunctive", k=20)
         + ") ORDER BY score DESC, doc_id LIMIT 10 OFFSET 10",
         DS),
        # A56 nested boolean trees (Lucene BooleanQuery): parentheses +
        # precedence through the full grammar; driver path (numpy set
        # algebra) and distributed path (Catalyst-compiled tree) both
        # checked against the AST-generated SQL twin
        ("bm25_index_tree",
         _mk_grammar("(join OR hash) AND (sort OR merge) NOT (tree OR node)"),
         _tree_oracle("(join OR hash) AND (sort OR merge) NOT (tree OR node)"),
         DS),
        ("bm25_index_tree_dist",
         _mk_tree_dist("(the AND data) OR dup"),
         _tree_oracle("(the AND data) OR dup"),
         DS),
        # round-4: phrase leaf inside a DISTRIBUTED tree — the occurrence
        # join feeds the pivoted agg as a boolean column; oracle generated
        # from the same AST (verified-docs CTE via substring probe)
        ("bm25_index_tree_phrase_dist",
         _mk_tree_dist('(join OR hash) AND "the a"'),
         _tree_oracle('(join OR hash) AND "the a"'),
         DS),
    ])
    register_composite(register, "bm25_index_boost", [
        (n, _mk_boost(t, m, b, distributed=d), bm25_oracle_sql(t, m, boosts=b), DS)
        for n, (t, m, b, d) in BOOST_CASES.items()
    ] + [
        # A41 SynonymQuery: [the, a] score as ONE pseudo-term (tf summed,
        # df = max) alongside a plain group — a ranking a boosted OR
        # cannot reproduce
        ("bm25_index_synonym",
         _mk_synonym([["the", "a"], ["dup"]], "conjunctive"),
         synonym_oracle_sql([["the", "a"], ["dup"]], "conjunctive"),
         DS),
        # A52 function_score: gauss doc_len decay x log1p field-value
        # factor, summed, multiplied into BM25 (ES function_score)
        ("bm25_index_funcscore", _mk_funcscore(), _funcscore_oracle(), DS),
        # A110 random_score (ES random_score function): deterministic
        # md5-seeded [0,1) jitter as a scoring function, combined with a
        # field_value_factor under score_mode=sum / boost_mode=sum
        ("bm25_index_random_score", _mk_random_score(),
         _random_score_oracle(), DS),
        # A79 rank_feature (ES rank_feature / Lucene FeatureQuery):
        # ADDITIVE bounded static score — the bound-preserving counterpart
        # to function_score's full-candidate reorder
        ("bm25_index_rank_feature",
         _mk_rank_feature(), _rank_feature_oracle(), DS),
        # A69 pluggable similarity (Lucene LMDirichletSimilarity): same
        # index + candidate plan, Dirichlet-smoothed LM scoring
        ("bm25_index_lm_dirichlet",
         _mk_lm(["the", "dup"], "disjunctive", 2000.0),
         lm_dirichlet_oracle_sql(["the", "dup"], "disjunctive", mu=2000.0),
         DS),
        # A81 pluggable similarity (Lucene ClassicSimilarity): the pre-BM25
        # TF-IDF default — sqrt(tf) * idf^2 / sqrt(dl) over the same plan
        ("bm25_index_classic",
         _mk_classic(["the", "dup"], "disjunctive"),
         classic_oracle_sql(["the", "dup"], "disjunctive"),
         DS),
        # A57 boosting query (ES boosting): negative tree demotes by
        # negative_boost instead of excluding — the soft NOT
        ("bm25_index_boosting",
         _mk_boosting("(join OR hash) AND the", "dup OR tree", 0.3),
         _boosting_oracle("(join OR hash) AND the", "dup OR tree", 0.3),
         DS),
        # A58 constant_score: filter-context tree, every hit scores the
        # boost exactly (no BM25 computed)
        ("bm25_index_constscore",
         _mk_constscore("(join OR hash) AND sort", 1.5),
         _constscore_oracle("(join OR hash) AND sort", 1.5),
         DS),
    ])
    register_composite(register, "bm25_index_not", [
        (n, _mk_topk(t, m, x), bm25_oracle_sql(t, m, exclude=x), DS)
        for n, (t, m, x) in NOT_CASES.items()
    ] + [
        # A34c Not() metadata filter (ES bool.must_not in filter context):
        # NOT-IN on lang plus a negated Prefix excluding a path subtree,
        # composed in one where= — the exclusion algebra over metadata
        ("bm25_index_filter_not",
         _mk_filter_not(["the"], "disjunctive"),
         bm25_oracle_sql(
             ["the"], "disjunctive",
             meta_where="lang NOT IN ('zh', 'fr') AND NOT "
                        "(printf('doc_%05d.txt', doc_id) LIKE 'doc_000%')",
         ),
         DS),
    ])
    register_composite(register, "bm25_index_dist", [
        (n, _mk_dist(t, m), bm25_oracle_sql(t, m), DS)
        for n, (t, m) in DIST_CASES.items()
    ] + [
        (n, _mk_dist(t, m, x), bm25_oracle_sql(t, m, exclude=x), DS)
        for n, (t, m, x) in DIST_NOT_CASES.items()
    ] + [
        # distributed A34: pushed-down docmap scan -> doc_id semi-join
        # before the score aggregation (no driver-side id list)
        ("bm25_index_dist_filter",
         _mk_dist(["join", "dup"], "disjunctive",
                  where={"lang": ["fr", "es"]}),
         bm25_oracle_sql(["join", "dup"], "disjunctive",
                         meta_where="lang IN ('fr','es')"),
         DS),
        # A54 hybrid RRF: BM25 top-100 fused with embedding-cosine top-100
        # (query vector = embeddings row 0) by reciprocal rank, k=60
        ("bm25_index_hybrid_rrf", _mk_hybrid_rrf(), _hybrid_oracle(), DS),
        # A108 hybrid linear combination (ES linear retriever, minmax
        # normalizer): per-window min-max normalization then weighted sum —
        # the magnitude-preserving alternative to RRF's rank fusion
        ("bm25_index_hybrid_linear", _mk_hybrid_linear(),
         _hybrid_linear_oracle(), DS),
        # round-4: A38 keyset pagination on the DISTRIBUTED path (codegen
        # cursor filter before the TakeOrderedAndProject); oracle = rows
        # 11-20 of the full ranking, same as the driver-path after entry
        ("bm25_index_dist_after",
         _mk_dist_after(["the", "a"], "disjunctive"),
         "SELECT doc_id, score FROM ("
         + bm25_oracle_sql(["the", "a"], "disjunctive", k=20)
         + ") ORDER BY score DESC, doc_id LIMIT 10 OFFSET 10",
         DS),
        # round-4: batched distributed serving — 3 queries, ONE scan/
        # decode/shuffle; oracle = UNION ALL of each query's own twin
        ("bm25_index_dist_many",
         _mk_dist_many([
             (["the", "a"], "disjunctive"),
             (["join", "hash"], "conjunctive"),
             (["dup"], "disjunctive"),
         ]),
         _dist_many_oracle([
             (["the", "a"], "disjunctive"),
             (["join", "hash"], "conjunctive"),
             (["dup"], "disjunctive"),
         ]),
         ("query_id", "doc_id", "score")),
        # round-4: the theta-PRUNED distributed path itself, value-checked
        # — fine-chunked index + gate forced open, chunks skipped before
        # decode, result must equal the standard SQL twin
        ("bm25_index_dist_pruned",
         _mk_dist_pruned(["the", "a"], k=3),
         bm25_oracle_sql(["the", "a"], "disjunctive", k=3),
         DS),
    ])
    register_composite(register, "bm25_index_prefix", [
        (n, _mk_prefix(p), bm25_prefix_oracle_sql(p), DS)
        for n, p in PREFIX_CASES.items()
    ] + [
        (n, _mk_prefix_dist(p), bm25_prefix_oracle_sql(p), DS)
        for n, p in DIST_PREFIX_CASES.items()
    ] + [
        # A104 match_bool_prefix (ES search-as-you-type, boolean variant):
        # full tokens as plain clauses, last token's expansions as ONE
        # blended pseudo-term; clauses need not be adjacent (vs A61)
        ("bm25_index_match_bool_prefix",
         _mk_match_bool_prefix("the d", "conjunctive"),
         match_bool_prefix_oracle_sql("the d", "conjunctive"),
         DS),
        ("bm25_index_match_bool_prefix_or",
         _mk_match_bool_prefix("dup li", "disjunctive"),
         match_bool_prefix_oracle_sql("dup li", "disjunctive"),
         DS),
    ])
    register_composite(register, "bm25_index_regex", [
        (n, _mk_regex(p), bm25_regex_oracle_sql(p), DS)
        for n, p in REGEX_CASES.items()
    ] + [
        # general mid-string wildcard (Lucene WildcardQuery) through the
        # full grammar: 'd*p' -> anchored regex over the term dictionary
        ("bm25_index_wildcard_mid",
         _mk_grammar("d*p"),
         bm25_regex_oracle_sql("d.*p"),
         DS),
        # A72 term range (Lucene TermRangeQuery): vocabulary slice
        # ['d', 'k') scoring-boolean rewritten, statistics-pruned seek
        ("bm25_index_term_range",
         _mk_term_range("d", "k", True, False),
         bm25_term_range_oracle_sql("d", "k", True, False),
         DS),
    ])
    register_composite(register, "bm25_index_fuzzy", [
        (n, _mk_fuzzy(p), bm25_fuzzy_oracle_sql(p, max_edits=1), DS)
        for n, p in FUZZY_CASES.items()
    ] + [
        ("bm25_index_fuzzy_fastss", q_fuzzy_fastss,
         bm25_fuzzy_oracle_sql("lin", max_edits=1), DS),
        # A105 OSA transpositions (ES default fuzziness / Lucene automaton):
        # 'jion' ~> 'join' is ONE edit with transpositions, two without —
        # oracle switches to DuckDB damerau_levenshtein (== OSA at 1 edit)
        ("bm25_index_fuzzy_osa", _mk_fuzzy_osa("jion"),
         bm25_fuzzy_oracle_sql("jion", max_edits=1, transpositions=True),
         DS),
    ])
    register_composite(register, "bm25_index_facets", [
        (n, _mk_facets(t, m, f), facet_oracle_sql(t, m, f), ("lang", "n_docs"))
        for n, (t, m, f) in FACET_CASES.items()
    ] + [
        ("bm25_index_facets_topk", q_facets_topk,
         facet_topk_oracle_sql(["the", "dup"], "disjunctive", "lang", k=3),
         ("lang", "rk", "doc_id", "score")),
        ("bm25_index_facets_rollup", q_facets_rollup,
         facet_rollup_oracle_sql(["the", "a"], "conjunctive"),
         ("lang", "repo", "n_docs")),
        # A39 sort-by-field: top-k candidates by doc_len desc (ES sort)
        ("bm25_index_sorted",
         _mk_sorted(["the", "dup"], "disjunctive"),
         sorted_oracle_sql(["the", "dup"], "disjunctive"),
         ("doc_id", "doc_len")),
        # A76 index sorting + early termination (Lucene setIndexSort):
        # ids reassigned in doc_len order, first-k matches = k best by
        # the sort field, chunk scan stops at the frontier
        ("bm25_index_sorted_early",
         q_sorted_early,
         bm25_sorted_early_oracle_sql(["the", "a"], "conjunctive", k=10),
         DS),
        # A40 histogram aggregation: doc_len bins over the candidate set
        ("bm25_index_histogram",
         _mk_histogram(["the", "a"], "conjunctive", 10),
         histogram_oracle_sql(["the", "a"], "conjunctive", width=10),
         ("bin_lo", "n_docs")),
        # round-4 A90 pipeline aggregations (ES derivative/cumulative_sum/
        # moving_fn + bucket_selector): window exprs over histogram buckets
        # A109 bucket_sort (ES bucket_sort pipeline agg): buckets re-ordered
        # by their metric, from/size page — 'the 3 busiest bands after the
        # busiest' (frm=1 exercises the offset)
        ("bm25_index_bucket_sort",
         _mk_bucket_sort(["the", "a"], "conjunctive", 10, 1, 3),
         bucket_sort_oracle_sql(["the", "a"], "conjunctive", width=10,
                                frm=1, size=3),
         ("bin_lo", "n_docs")),
        # A107 variable_width_histogram (ES variable_width_histogram,
        # deterministic pinning): <= B buckets split at the B-1 largest
        # value gaps — adaptive boundaries, layout-independent
        ("bm25_index_vw_histogram",
         _mk_vw_histogram(["the", "a"], "conjunctive", 5),
         variable_width_histogram_oracle_sql(["the", "a"], "conjunctive", 5),
         ("min_v", "max_v", "n_docs")),
        ("bm25_index_histo_pipeline",
         _mk_histo_pipeline(["the", "a"], "conjunctive", 10, 3, 2),
         _histo_pipeline_oracle(["the", "a"], "conjunctive", 10, 3, 2),
         ("bin_lo", "n_docs", "deriv", "cum_n", "mov_avg", "sdiff",
          "pct_of_sum")),
        # A50 field collapsing (ES collapse + inner_hits): top-4 repos by
        # their best hit, 2 inner hits each (engine repo == documents source)
        ("bm25_index_collapse",
         _mk_collapse(["join", "hash", "dup"], "disjunctive",
                      k_groups=4, per_group=2),
         collapse_oracle_sql(["join", "hash", "dup"], "disjunctive",
                             k_groups=4, per_group=2),
         ("grp", "grk", "rk", "doc_id", "score")),
        # A89 random_sampler agg (deterministic variant): facet counts over
        # a reproducible md5-keyed Bernoulli(0.5) sample of the candidates
        ("bm25_index_sampled_facets",
         _mk_sampled_facets(["the", "a"], "conjunctive", 0.5),
         sampled_facets_oracle_sql(["the", "a"], "conjunctive",
                                   probability=0.5),
         ("facet", "n_docs")),
        # A82 range aggregation (ES range): explicit [from, to) doc_len
        # buckets incl. open bounds, an overlap, and an empty bucket
        ("bm25_index_range_agg",
         _mk_ranges(["the", "a"], "conjunctive",
                    [(None, 20), (20, 60), (40, 80), (80, None), (500, None)]),
         range_agg_oracle_sql(["the", "a"],
                              [(None, 20), (20, 60), (40, 80), (80, None),
                               (500, None)], "conjunctive"),
         ("bucket", "n_docs")),
        # A66 composite aggregation (ES composite): page 2 of (lang, repo)
        # buckets via a REAL page-1 after-key cursor
        # A111 terms agg ordered by a sub-agg metric (ES terms with
        # order: {metric: desc}): lang buckets ranked by avg doc_len —
        # exact here where ES documents shard-approximation
        ("bm25_index_facets_by_metric",
         _mk_facets_by_metric(["the", "a"], "conjunctive", "avg", 3),
         facets_by_metric_oracle_sql(["the", "a"], "conjunctive",
                                     metric="avg", size=3),
         ("lang", "n_docs", "metric")),
        # A103 multi_terms (ES multi_terms agg): top (lang, repo) TUPLE
        # buckets of the candidate set by doc count desc, tuple-asc
        # tiebreak, size-bounded — tuple buckets compete globally, unlike
        # a terms-in-terms nesting
        ("bm25_index_multi_terms",
         _mk_multi_terms(["the", "a"], "conjunctive", 6),
         multi_terms_oracle_sql(["the", "a"], "conjunctive",
                                ("lang", "repo"), 6),
         ("lang", "repo", "n_docs")),
        ("bm25_index_facets_composite",
         _mk_facets_composite(["the", "a"], "conjunctive", size=4),
         _facets_composite_oracle(["the", "a"], "conjunctive", size=4),
         ("lang", "repo", "n_docs")),
    ])
    register_composite(register, "bm25_index_phrase_near", [
        (n, _mk_phrase_dist(p), bm25_phrase_oracle_sql(p), DS)
        for n, p in PHRASE_DIST_CASES.items()
    ] + [
        (n, _mk_near(a, b, s), bm25_near_oracle_sql(a, b, slop=s), DS)
        for n, (a, b, s) in NEAR_CASES.items()
    ] + [
        # A84 interval queries (Lucene IntervalQuery / ES intervals):
        # structured proximity trees — ordered 3-term with a gap budget,
        # and a nested any_of under an unordered gap constraint
        ("bm25_index_intervals_ord",
         _mk_intervals(_IV_ORD), _intervals_oracle(_IV_ORD), DS),
        ("bm25_index_intervals_nested",
         _mk_intervals(_IV_NESTED), _intervals_oracle(_IV_NESTED), DS),
        # ... and the same nested tree through the cluster-scale
        # occurrence-join plan (the distributed twin)
        ("bm25_index_intervals_dist",
         _mk_intervals_dist(_IV_NESTED), _intervals_oracle(_IV_NESTED), DS),
        # A53 rescore (ES rescore): BM25 top-100 window re-ranked by a
        # second-pass phrase query, final = 1*bm25 + 2*phrase_bm25
        ("bm25_index_rescore", _mk_rescore(), _rescore_oracle(), DS),
        # A65 ordered proximity (Lucene span_near inOrder=true): b must
        # FOLLOW a within the slop
        ("bm25_index_near_ordered",
         _mk_near("the", "a", 2, in_order=True),
         bm25_near_oracle_sql("the", "a", slop=2, in_order=True),
         DS),
        # A61 match_phrase_prefix (ES autocomplete phrase): fixed tokens
        # consecutive + any dictionary expansion of the last token,
        # expansion slot SynonymQuery-blended
        ("bm25_index_phrase_prefix",
         _mk_phrase_prefix("the d"),
         _phrase_prefix_oracle("the d"),
         DS),
        # A68 span_first (Lucene SpanFirstQuery): term within the first N
        # token positions — the title/lead restriction
        ("bm25_index_span_first",
         _mk_span_first("the", 5),
         bm25_span_first_oracle_sql("the", 5),
         DS),
        # A92 span_not (Lucene SpanNotQuery): occurrences of 'dup' with no
        # 'hash' within 5 positions either side — positional exclusion,
        # finer than boolean NOT (both terms may coexist far apart)
        ("bm25_index_span_not",
         _mk_span_not("dup", "hash", 5, 5),
         bm25_span_not_oracle_sql("dup", "hash", 5, 5),
         DS),
        # A102 span_within (Lucene SpanWithinQuery): 'data' enclosed by an
        # ordered 'the'..'a' window of width <= 6, ranked by the LITTLE
        # clause's BM25 (Lucene's within weight convention)
        ("bm25_index_span_within",
         _mk_span_enclosure("the", "a", "data", 6, "little"),
         bm25_span_enclosure_oracle_sql("the", "a", "data", 6, "little"),
         DS),
        # A102 span_containing (Lucene SpanContainingQuery): the dual —
        # same enclosure predicate ('join'..'sort' window holding 'hash'),
        # ranked by the BIG pair's conjunctive BM25
        ("bm25_index_span_containing",
         _mk_span_enclosure("join", "sort", "hash", 10, "big"),
         bm25_span_enclosure_oracle_sql("join", "sort", "hash", 10, "big"),
         DS),
        # A71 sloppy n-term phrase (ES match_phrase slop, alignment-window
        # semantics) through the grammar: '"the a data"~2'
        ("bm25_index_sloppy_phrase",
         _mk_sloppy_phrase("the a data", 2),
         bm25_sloppy_phrase_oracle_sql(["the", "a", "data"], 2),
         DS),
    ])
    register_composite(register, "bm25_index_snippets", [
        ("snippets", q_snippets,
         snippet_oracle_sql(["join", "hash"], "conjunctive", k=10),
         ("doc_id", "snippet")),
        # A47 term vectors: (term, tf, first_pos) of one stored doc
        ("termvector", _mk_term_vector(42), term_vector_oracle_sql(42),
         ("term", "tf", "first_pos")),
        # A48 highlighter: query terms <em>-wrapped inside the window
        ("highlight", q_highlight,
         snippet_oracle_sql(["the", "dup"], "disjunctive", k=10,
                            mark=("<em>", "</em>")),
         ("doc_id", "snippet")),
    ])
    register_composite(register, "bm25_index_count", [
        ("bm25_index_count", _mk_count(["join", "hash"], "conjunctive"),
         count_oracle_sql(["join", "hash"], "conjunctive"), ("n_hits",)),
        ("bm25_index_count_not", _mk_count(["the"], "disjunctive", ["dup"]),
         count_oracle_sql(["the"], "disjunctive", exclude=["dup"]), ("n_hits",)),
        # A46 stats aggregation over the candidate set (ES stats)
        ("bm25_index_field_stats",
         _mk_field_stats(["the", "a"], "conjunctive"),
         field_stats_oracle_sql(["the", "a"], "conjunctive"),
         ("n_docs", "min_v", "max_v", "sum_v", "avg_v")),
        # A93 extended_stats (ES extended_stats): + sum_of_squares /
        # population variance / std dev from exact integer moment sums
        ("bm25_index_extended_stats",
         _mk_ext_stats(["the", "a"], "conjunctive"),
         extended_stats_oracle_sql(["the", "a"], "conjunctive"),
         ("n_docs", "min_v", "max_v", "sum_v", "sum_sq",
          "avg_v", "variance", "std_dev")),
        # A55 significant_terms (JLH): what the result set is "about"
        ("bm25_index_sigterms", _mk_sigterms(),
         _sigterms_oracle(), ("term", "fg_count", "bg_count", "score")),
        # A59 cardinality agg (ES cardinality): distinct docmap values over
        # the candidate set; exact here (the oracle-checkable path), HLL++
        # sketch is the documented scale default
        ("bm25_index_cardinality",
         _mk_cardinality(["the", "a"], "conjunctive", "lang"),
         _cardinality_oracle(["the", "a"], "conjunctive", "lang"),
         ("cardinality",)),
        # A60 percentiles agg (ES percentiles, default ranks): exact
        # interpolated doc_len percentiles == DuckDB quantile_cont
        ("bm25_index_percentiles",
         _mk_percentiles(["the", "a"], "conjunctive"),
         _percentiles_oracle(["the", "a"], "conjunctive"),
         ("pct", "value")),
        # A95 percentile_ranks (ES percentile_ranks): inverse percentiles
        # — percent of candidate doc_lens at or below each given value,
        # exact inverse-interpolation variant, edge values included
        ("bm25_index_percentile_ranks",
         _mk_percentile_ranks(["the", "a"], "conjunctive",
                              (5.0, 30.0, 55.0, 500.0)),
         percentile_ranks_oracle_sql(["the", "a"], [5.0, 30.0, 55.0, 500.0],
                                     "conjunctive"),
         ("value", "pct_rank")),
        # string_stats (ES string_stats): length stats + base-2 character
        # entropy of the candidates' lang values, exact integer counts
        ("bm25_index_string_stats",
         _mk_string_stats(["the", "a"], "conjunctive", "lang"),
         string_stats_oracle_sql(["the", "a"], "conjunctive", "lang"),
         ("n_vals", "min_len", "max_len", "avg_len", "entropy")),
        # median_absolute_deviation (ES MAD, exact variant): robust
        # dispersion — median(|doc_len - median|), quantile_cont identity
        ("bm25_index_mad",
         _mk_mad(["the", "a"], "conjunctive"),
         mad_oracle_sql(["the", "a"], "conjunctive"),
         ("n_docs", "median_v", "mad")),
        # boxplot (ES boxplot, exact variant): min/q1/q2/q3/max/IQR in one
        # map-side-combined agg
        ("bm25_index_boxplot",
         _mk_boxplot(["the", "a"], "conjunctive"),
         boxplot_oracle_sql(["the", "a"], "conjunctive"),
         ("n_docs", "min_v", "max_v", "q1", "q2", "q3", "iqr")),
        # t_test (ES t_test, Welch variant pinned to t_stat + dof): doc_len
        # compared between the 'the'-AND-'a' and 'dup' candidate sets,
        # exact integer moment sums both sides
        ("bm25_index_t_test",
         _mk_t_test(["the", "a"], ["dup"], "conjunctive"),
         t_test_oracle_sql(["the", "a"], ["dup"], "conjunctive"),
         ("n_a", "n_b", "mean_a", "mean_b", "t_stat", "welch_df")),
        # A73 matrix_stats (ES matrix_stats): exact-integer moment sums ->
        # means/variances/covariance/correlation of (doc_len, doc_id)
        ("bm25_index_matrix_stats",
         _mk_matrix_stats(["the", "a"], "conjunctive"),
         matrix_stats_oracle_sql(["the", "a"], "conjunctive"),
         ("n_docs", "mean_x", "mean_y", "var_x", "var_y",
          "covariance", "correlation")),
        # A83 rare_terms (ES rare_terms): the long tail — terms in at most
        # max_doc_count candidate docs, count-ascending. The synthetic
        # 31-term vocab is dense (every term is in >=16 of 'dup's 25
        # candidates), so the cutoff sits mid-distribution to stay
        # non-vacuous: 15 of 31 terms qualify, 16 are excluded.
        ("bm25_index_rare_terms",
         _mk_rare_terms(["dup"], "conjunctive", 18),
         _rare_terms_oracle(["dup"], "conjunctive", 18),
         ("term", "n_docs")),
        # A67 adjacency_matrix (ES): per-filter + pairwise-intersection
        # doc counts over named conjunctive term filters
        # A106 filters agg (ES filters + other_bucket): named conjunctive
        # filters as independent buckets (zero-count buckets emitted — the
        # 'nothing' filter has an out-of-vocab term) plus '_other_' docs
        # matching no filter
        ("bm25_index_filters_agg",
         _mk_filters_agg({"joins": ["join", "hash"], "windows": ["window"],
                          "nothing": ["dup", "zzz_not_in_vocab"]}),
         filters_agg_oracle_sql({"joins": ["join", "hash"],
                                 "windows": ["window"],
                                 "nothing": ["dup", "zzz_not_in_vocab"]}),
         ("bucket", "n_docs")),
        ("bm25_index_adjacency",
         _mk_adjacency({"joins": ["join", "hash"], "sorting": ["sort"],
                        "common": ["the"]}),
         _adjacency_oracle({"joins": ["join", "hash"], "sorting": ["sort"],
                            "common": ["the"]}),
         ("bucket", "n_docs")),
    ])
    register_composite(register, "bm25_index_mlt", [
        ("mlt", q_mlt, mlt_oracle_sql(42, n_terms=5, k=10), DS),
        # A64 percolation (reverse search / alerting): registered queries
        # matched against every incoming doc
        ("percolate", q_percolate, _percolate_oracle(),
         ("doc_id", "query_id")),
        # A80 has_child (ES join field / Lucene ToParentBlockJoin): repos
        # ranked by the SUM of their matching files' scores, 2..40 matching
        # children required
        ("has_child", _mk_has_child(), _has_child_oracle(),
         ("repo", "score", "n_children")),
        # A80 has_parent: every file of a repo with >= 1 match, inheriting
        # the parent's max-child score
        ("has_parent", _mk_has_parent(), _has_parent_oracle(), DS),
        # A94 rank_eval (ES _rank_eval): precision@k / recall@k / MRR /
        # NDCG@k of the engine's own top-k against deterministic synthetic
        # judgments — the offline relevance-regression harness
        ("rank_eval", q_rank_eval, _RANK_EVAL_SQL,
         ("eval_query", "p_at_k", "recall_at_k", "mrr", "ndcg")),
    ])
    register("bm25_index_stats", q_index_stats, SQL_INDEX_STATS)
    register_composite(register, "bm25_index_suggest", [
        ("prefix", q_suggest, SQL_SUGGEST, ("term", "df")),
        # A37 spell correction: fuzzy-dictionary neighbors of a typo,
        # more-popular-only, (dist, df desc, term) rank
        ("spell", q_spell, SQL_SPELL, ("term", "dist", "df")),
        # A75 phrase suggester (ES phrase suggest): whole-query
        # did-you-mean — fuzzy candidates per token, bigram-LM rerank
        ("phrase_suggest", q_phrase_suggest,
         _PHRASE_SUGGEST_SQL, ("suggestion", "score")),
    ])
    register(
        "bm25_index_resume", q_index_resume,
        bm25_oracle_sql(["join", "hash"], "conjunctive"),
    )
    register_composite(register, "bm25_index_lifecycle", [
        ("bm25_index_delete", q_delete_tombstone,
         bm25_delete_oracle_sql(["join", "hash"], "conjunctive", _DELETED_DOCS),
         DS),
        ("bm25_index_purge", q_delete_purged,
         bm25_delete_oracle_sql(
             ["the", "dup"], "disjunctive", _DELETED_DOCS, purged=True
         ), DS),
        ("bm25_index_snapshot", q_index_snapshot,
         bm25_oracle_sql(["the", "dup"], "disjunctive"), DS),
        # A43 addIndexes: two shard builds merged == one full build
        ("bm25_index_addindexes", q_addindexes,
         bm25_oracle_sql(["the", "dup"], "disjunctive"), DS),
        # A63 federated serving (MultiReader): two shard builds served
        # with combined stats == one full build
        ("bm25_index_sharded", q_sharded,
         bm25_oracle_sql(["join", "hash"], "conjunctive"), DS),
        # A1 source-format breadth: the corpus re-materialized as gzipped
        # JSONL (the LLM-data interchange format), built, served — same
        # plain SQL oracle, so format independence is value-proven
        ("bm25_index_jsonl_source", q_jsonl_source,
         bm25_oracle_sql(["the", "a"], "conjunctive"), DS),
    ])
    from miru_spark.plans.relational import (
        DEFAULT_TOK_SQL,
        EDGE_TOK_SQL,
        SHINGLE_TOK_SQL,
        bm25_combined_fields_oracle_sql,
        bm25_cross_fields_oracle_sql,
        bm25_dismax_oracle_sql,
        bm25_multifield_oracle_sql,
    )

    register_composite(register, "bm25_index_code_tokenizer", [
        ("code", q_code_tokenizer,
         bm25_oracle_sql(["todo_3", "join"], "conjunctive",
                         tok_sql=CODE_TOK_SQL), DS),
        # A36 multi-field most_fields: per-field BM25 stats, weighted sum
        ("multifield", q_multifield,
         bm25_multifield_oracle_sql(
             ["the", "00007"],
             {"content": (DEFAULT_TOK_SQL, _MF_WEIGHTS["content"]),
              "path": (_MF_PATH_TOK, _MF_WEIGHTS["path"])},
             "disjunctive"), DS),
        # A44 subtoken analyzer (word_delimiter): camel/snake/digit splits
        ("code_split", q_code_split_tokenizer,
         bm25_oracle_sql(["func", "3"], "conjunctive",
                         tok_sql=CODE_SPLIT_TOK_SQL), DS),
        # A62 english analysis chain: stopwords + minimal plural stemming
        # round-trip build+serve (query 'Nodes and Trees' -> [node, tree])
        # A112 index-time synonym collapse: canonical 'order' query must
        # hit sort-only docs with class-merged tf/df round-tripped
        # through the index
        ("synonyms", q_synonym_analyzer,
         bm25_oracle_sql(["order"], "conjunctive",
                         tok_sql=_synonym_tok_sql()), DS),
        ("english", q_english_analyzer,
         bm25_oracle_sql(["node", "tree"], "conjunctive",
                         tok_sql=_english_tok_sql()), DS),
        # round-5 multilingual chain: per-lang stop sets + pinned minimal
        # stemmers routed by the corpus lang column; query = Spanish
        # singular stems [red, dato] over the per-lang-decorated corpus
        ("multilang", q_multilang,
         bm25_oracle_sql(["red", "dato"], "conjunctive",
                         tok_sql=_multilang_tok_sql_decorated()), DS),
        # round-5 full Porter stemmer (Lucene PorterStemFilter / ES
        # porter_stem): constructed Porter-rich corpus, query = the stems
        # tokenize_py('running relations', 'porter') -> [run, relat]
        ("porter", q_porter,
         bm25_oracle_sql(["run", "relat"], "conjunctive",
                         tok_sql=_porter_tok_sql()), DS),
        # A70 edge n-gram autocomplete: prefixes indexed as terms, the raw
        # keystrokes 'jo ha' served as an exact conjunctive lookup
        ("edge_ngram", q_edge_ngram,
         bm25_oracle_sql(["jo", "ha"], "conjunctive",
                         tok_sql=EDGE_TOK_SQL), DS),
        # A86 shingle filter: bigram 'join hash' indexed as ONE term —
        # positionless phrase lookup — conjunctive with unigram 'dup'
        ("shingle", q_shingle,
         bm25_oracle_sql(["join hash", "dup"], "conjunctive",
                         tok_sql=SHINGLE_TOK_SQL), DS),
        # A77 asciifolding analyzer: pinned diacritic fold, build+serve
        # round-trip ('Café Résumé' found by [cafe, resume])
        ("ascii_folding", q_ascii_folding,
         bm25_oracle_sql(["cafe", "resume"], "conjunctive",
                         tok_sql=_ascii_tok_sql()), DS),
        # A74 cross_fields (BlendedTermQuery): term-centric AND across
        # fields, blended df — completes the multi_match trio
        ("cross_fields", q_cross_fields,
         bm25_cross_fields_oracle_sql(
             ["txt", "join"],
             {"content": (DEFAULT_TOK_SQL, _MF_WEIGHTS["content"]),
              "path": (_MF_PATH_TOK, _MF_WEIGHTS["path"])},
             "conjunctive"), DS),
        # round-4 A91 combined_fields (CombinedFieldQuery): one synthetic
        # field — weighted tf/dl sums, blended df, single BM25 saturation;
        # completes the multi_match family (most/best/cross/combined)
        ("combined_fields", q_combined_fields,
         bm25_combined_fields_oracle_sql(
             ["txt", "the"],
             {"content": (DEFAULT_TOK_SQL, _MF_WEIGHTS["content"]),
              "path": (_MF_PATH_TOK, _MF_WEIGHTS["path"])},
             "disjunctive"), DS),
        # A51 dis_max best_fields: max + 0.3 * rest across field subqueries
        ("dismax", q_dismax,
         bm25_dismax_oracle_sql(
             ["the", "00007"],
             {"content": (DEFAULT_TOK_SQL, _MF_WEIGHTS["content"]),
              "path": (_MF_PATH_TOK, _MF_WEIGHTS["path"])},
             "disjunctive", tie_breaker=0.3), DS),
    ])
