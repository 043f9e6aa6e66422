"""A79 — rank_feature / distance_feature queries (Elasticsearch
``rank_feature`` + ``distance_feature`` / Lucene ``FeatureQuery`` +
``LongDistanceFeatureQuery``): ADD a bounded per-document static score —
pagerank, stars, recency distance — to the BM25 relevance of matching
docs, the ``bool {must: match, should: rank_feature}`` shape.

The contrast with A52 function_score: an arbitrary multiplicative
modifier breaks BM25's monotone per-term bounds, while an *additive*
feature with a known corpus-wide maximum keeps them — inflating every
upper bound by ``max(contrib)`` keeps it a true bound on the final score.
That is why Lucene ships these as dedicated queries instead of telling
users to use FunctionScoreQuery: they are the static-score shapes that
keep top-k pruning. Here the driver path adds a dense ``bonus`` array
(one float per doc, built once per (reader, feature) from a projected
docmap scan) to the vectorized scores; the distributed path adds the
feature as a codegen expression after the candidate aggregation.

Kernels (the ES parameterizations):

* ``saturation``  — ``boost * f / (f + pivot)``, bounded by ``boost``.
* ``sigmoid``     — ``boost * f^exp / (f^exp + pivot^exp)``, bounded.
* ``log``         — ``boost * ln(scaling_factor + f)``, unbounded in
  general but bounded over any concrete corpus (the measured
  ``contrib.max()``).
* ``DistanceFeature`` — ``boost * pivot / (pivot + |f - origin|)``,
  1·boost at the origin, half at distance ``pivot`` (ES distance_feature
  over a numeric field).

Missing/NULL feature values contribute exactly 0 (ES: a doc without the
feature simply does not match the rank_feature clause); negative values
clamp to 0 (ES rank_feature fields are positive by contract).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from miru_spark.index.reader import IndexReader

_KINDS = ("saturation", "log", "sigmoid")


@dataclass(frozen=True)
class RankFeature:
    """ES ``rank_feature``: boost * kernel(field), kernel per ``kind``."""

    field: str
    kind: str = "saturation"
    pivot: float = 1.0
    exponent: float = 1.0
    scaling_factor: float = 1.0
    boost: float = 1.0

    def __post_init__(self):
        if self.kind not in _KINDS:
            raise ValueError(f"unknown kind {self.kind!r}; have {_KINDS}")
        if self.kind in ("saturation", "sigmoid") and not self.pivot > 0:
            raise ValueError("pivot must be > 0")
        if self.kind == "sigmoid" and not self.exponent > 0:
            raise ValueError("exponent must be > 0")
        if self.kind == "log" and not self.scaling_factor >= 1:
            # ln(scaling + f) with scaling < 1 goes negative at f=0, which
            # would make the "feature present but tiny" doc score BELOW the
            # "feature missing" doc — ES requires scaling_factor >= 1 too
            raise ValueError("scaling_factor must be >= 1")
        if not self.boost >= 0:
            raise ValueError("boost must be >= 0")

    def np_contrib(self, vals: np.ndarray) -> np.ndarray:
        """Vectorized contribution per doc; NaN (missing) -> 0."""
        missing = np.isnan(vals)
        f = np.where(missing, 0.0, np.maximum(vals, 0.0))
        if self.kind == "saturation":
            c = f / (f + self.pivot)
        elif self.kind == "sigmoid":
            fe = np.power(f, self.exponent)
            c = fe / (fe + self.pivot**self.exponent)
        else:  # log
            c = np.log(self.scaling_factor + f)
        c = c * float(self.boost)
        c[missing] = 0.0
        return c

    def _kernel_col(self, f: Column) -> Column:
        if self.kind == "saturation":
            return f / (f + F.lit(float(self.pivot)))
        if self.kind == "sigmoid":
            fe = F.pow(f, F.lit(float(self.exponent)))
            return fe / (fe + F.lit(float(self.pivot**self.exponent)))
        return F.log(F.lit(float(self.scaling_factor)) + f)

    def column(self) -> Column:
        f = F.greatest(F.col(self.field).cast("double"), F.lit(0.0))
        return F.when(F.col(self.field).isNull(), F.lit(0.0)).otherwise(
            self._kernel_col(f) * float(self.boost)
        )

    def sql(self) -> str:
        f = f"greatest(CAST({self.field} AS DOUBLE), 0.0)"
        if self.kind == "saturation":
            k = f"({f}) / (({f}) + {float(self.pivot)!r})"
        elif self.kind == "sigmoid":
            k = (
                f"pow({f}, {float(self.exponent)!r}) / "
                f"(pow({f}, {float(self.exponent)!r}) + "
                f"{float(self.pivot ** self.exponent)!r})"
            )
        else:
            k = f"ln({float(self.scaling_factor)!r} + ({f}))"
        return (
            f"CASE WHEN {self.field} IS NULL THEN 0.0 "
            f"ELSE ({k}) * {float(self.boost)!r} END"
        )


@dataclass(frozen=True)
class DistanceFeature:
    """ES ``distance_feature`` over a numeric field:
    ``boost * pivot / (pivot + |field - origin|)``."""

    field: str
    origin: float
    pivot: float
    boost: float = 1.0

    def __post_init__(self):
        if not self.pivot > 0:
            raise ValueError("pivot must be > 0")
        if not self.boost >= 0:
            raise ValueError("boost must be >= 0")

    def np_contrib(self, vals: np.ndarray) -> np.ndarray:
        missing = np.isnan(vals)
        dist = np.abs(np.where(missing, self.origin, vals) - self.origin)
        c = (self.pivot / (self.pivot + dist)) * float(self.boost)
        c[missing] = 0.0
        return c

    def column(self) -> Column:
        dist = F.abs(F.col(self.field).cast("double") - F.lit(float(self.origin)))
        c = F.lit(float(self.pivot)) / (F.lit(float(self.pivot)) + dist)
        return F.when(F.col(self.field).isNull(), F.lit(0.0)).otherwise(
            c * float(self.boost)
        )

    def sql(self) -> str:
        dist = f"abs(CAST({self.field} AS DOUBLE) - {float(self.origin)!r})"
        return (
            f"CASE WHEN {self.field} IS NULL THEN 0.0 ELSE "
            f"({float(self.pivot)!r} / ({float(self.pivot)!r} + {dist})) "
            f"* {float(self.boost)!r} END"
        )

    def contrib_scalar(self, v: float) -> float:
        return float(self.boost) * self.pivot / (self.pivot + abs(v - self.origin))


def contrib_array(reader: IndexReader, feature) -> np.ndarray:
    """Dense per-doc contribution (indexed by doc_id) for the driver
    serving paths — one float per doc, the same driver-memory cost class
    as ``filter_doc_ids``'s allowlist; cached per (reader, feature)."""
    cache = getattr(reader, "_rf_cache", None)
    if cache is None:
        cache = reader._rf_cache = {}
    if feature not in cache:
        cache[feature] = feature.np_contrib(reader.feature_values(feature.field))
    return cache[feature]


def search_rank_feature(
    reader: IndexReader,
    terms: list[str],
    feature,
    mode: str = "disjunctive",
    k: int = 10,
    exclude: list[str] | None = None,
    boosts: dict[str, float] | None = None,
    where: dict | None = None,
    min_match: int | None = None,
) -> list[tuple[int, float]]:
    """Driver path: BM25 + additive feature, served by the SAME vectorized
    kernel as plain queries (``search_topk(feature=...)``), which adds the
    dense per-doc contribution to the summed BM25 scores. Feature queries
    stay on the driver at every size; the cluster path is
    :func:`search_rank_feature_distributed`."""
    from miru_spark.plans.search import search_topk

    return search_topk(
        reader, terms, mode=mode, k=k, exclude=exclude,
        boosts=boosts, where=where, min_match=min_match, feature=feature,
    )


def search_rank_feature_distributed(
    reader: IndexReader,
    terms: list[str],
    feature,
    mode: str = "disjunctive",
    k: int = 10,
    round_digits: int = 6,
    exclude: list[str] | None = None,
    where: dict | None = None,
) -> DataFrame:
    """Cluster path: full-candidate distributed BM25 -> docmap projection
    join -> the feature as ONE built-in expression (whole-stage codegen)
    -> TakeOrderedAndProject. Same plan shape as function_score; the
    feature adds a projection, never a shuffle."""
    from miru_spark.plans.search import search_distributed

    scored = search_distributed(
        reader, terms, mode=mode, k=None, round_digits=round_digits,
        exclude=exclude, where=where,
    )
    dm = reader.docmap_df().select("doc_id", feature.field)
    final = F.col("score") + feature.column()
    return (
        scored.join(dm, "doc_id")
        .select("doc_id", F.round(final, round_digits).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def rank_feature_oracle_sql(
    terms: list[str],
    feature,
    mode: str = "disjunctive",
    k: int = 10,
    round_digits: int = 6,
    exclude: list[str] | None = None,
    doc_len_expr: str = (
        "len(list_filter(string_split(text, ' '), t -> t <> ''))"
    ),
) -> str:
    """DuckDB twin: the standard BM25 CTE (rounded, full candidate set)
    plus the feature expression over the recomputed field — mirrors the
    distributed path's round-before/round-after discipline exactly."""
    from miru_spark.plans.relational import bm25_oracle_sql

    inner = bm25_oracle_sql(
        terms, mode, k=1 << 30, round_digits=round_digits, exclude=exclude
    )
    return f"""
WITH scored AS ({inner}),
dm AS (SELECT doc_id, {doc_len_expr} AS {feature.field} FROM documents)
SELECT s.doc_id, round(s.score + ({feature.sql()}), {round_digits}) AS score
FROM scored s JOIN dm USING (doc_id)
ORDER BY score DESC, doc_id LIMIT {k}
""".strip()
