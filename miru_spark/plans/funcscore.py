"""A52 — function_score (Elasticsearch ``function_score`` query / Lucene
``FunctionScoreQuery``): modify each hit's BM25 relevance with functions
of docmap metadata — the "boost short docs", "prefer recent commits",
"weight by stars" shapes every production search deployment layers on
top of pure text relevance.

Supported functions (each an ES twin):

* :class:`FieldValueFactor` — ``weight * modifier(factor * field)`` with
  ``modifier`` in ``none | log1p | sqrt`` and a ``missing`` default.
* :class:`Decay` — ``gauss | exp | linear`` kernels over a numeric field:
  value 1 at ``origin`` (within ``offset``), exactly ``decay`` at
  distance ``scale``, the ES decay-function parameterization.

``score_mode`` combines the function values (``multiply | sum | max``),
``boost_mode`` combines that with the query score
(``multiply | sum | replace``).

Plan shape (and why there is no block-max skipping): an arbitrary score
modifier breaks the monotone per-term upper bounds skipping relies on, so
the honest plan scores the FULL candidate set — distributed BM25 scan ->
broadcast join to the (doc_id, fields...) docmap projection -> function
columns as
built-in expressions (whole-stage codegen, no Python) -> one
TakeOrderedAndProject. At cluster scale the candidate set is already the
dominant cost of any scored query; the modifier adds a projection, not a
shuffle. When the modifier only needs to reorder a small head, compose
:func:`miru_spark.plans.rescore.rescore_topk` instead (window-bounded).

BM25 scores are rounded to ``round_digits`` BEFORE the modifier on both
the engine and the oracle (summation order differs between Spark's and
DuckDB's aggregations; the function arithmetic itself is deterministic
per doc), then the final score is rounded again.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from miru_spark.index.reader import IndexReader

_MODIFIERS = ("none", "log1p", "sqrt")
_KINDS = ("gauss", "exp", "linear")
_SCORE_MODES = ("multiply", "sum", "max")
_BOOST_MODES = ("multiply", "sum", "replace")


@dataclass(frozen=True)
class FieldValueFactor:
    """ES ``field_value_factor``: weight * modifier(factor * field)."""

    field: str
    factor: float = 1.0
    modifier: str = "none"
    missing: float = 1.0
    weight: float = 1.0

    def __post_init__(self):
        if self.modifier not in _MODIFIERS:
            raise ValueError(f"unknown modifier {self.modifier!r}")

    def column(self) -> Column:
        v = F.coalesce(F.col(self.field), F.lit(float(self.missing)))
        v = v.cast("double") * float(self.factor)
        if self.modifier == "log1p":
            v = F.log1p(v)
        elif self.modifier == "sqrt":
            v = F.sqrt(v)
        return v * float(self.weight)

    def sql(self) -> str:
        v = f"coalesce({self.field}, {float(self.missing)!r}) * {float(self.factor)!r}"
        if self.modifier == "log1p":
            v = f"ln(1 + ({v}))"
        elif self.modifier == "sqrt":
            v = f"sqrt({v})"
        return f"({v}) * {float(self.weight)!r}"


@dataclass(frozen=True)
class Decay:
    """ES decay function: 1 within ``offset`` of ``origin``, exactly
    ``decay`` at distance ``scale``; gauss/exp/linear kernels."""

    kind: str
    field: str
    origin: float
    scale: float
    offset: float = 0.0
    decay: float = 0.5
    weight: float = 1.0

    def __post_init__(self):
        if self.kind not in _KINDS:
            raise ValueError(f"unknown decay kind {self.kind!r}")
        if not 0.0 < self.decay < 1.0:
            raise ValueError("decay must be in (0, 1)")
        if self.scale <= 0:
            raise ValueError("scale must be positive")

    def column(self) -> Column:
        import math

        dist = F.greatest(
            F.abs(F.col(self.field).cast("double") - float(self.origin))
            - float(self.offset),
            F.lit(0.0),
        )
        s = float(self.scale)
        if self.kind == "gauss":
            v = F.exp(F.lit(math.log(self.decay)) * (dist / s) * (dist / s))
        elif self.kind == "exp":
            v = F.exp(F.lit(math.log(self.decay)) * dist / s)
        else:  # linear: max(0, (S - dist) / S), S = scale / (1 - decay)
            big_s = s / (1.0 - self.decay)
            v = F.greatest(
                (F.lit(big_s) - dist) / big_s, F.lit(0.0)
            )
        return v * float(self.weight)

    def sql(self) -> str:
        import math

        dist = (
            f"greatest(abs(({self.field})::DOUBLE - {float(self.origin)!r})"
            f" - {float(self.offset)!r}, 0.0)"
        )
        s = float(self.scale)
        if self.kind == "gauss":
            v = f"exp({math.log(self.decay)!r} * ({dist}/{s!r}) * ({dist}/{s!r}))"
        elif self.kind == "exp":
            v = f"exp({math.log(self.decay)!r} * ({dist}) / {s!r})"
        else:
            big_s = s / (1.0 - self.decay)
            v = f"greatest(({big_s!r} - ({dist})) / {big_s!r}, 0.0)"
        return f"({v}) * {float(self.weight)!r}"


@dataclass(frozen=True)
class RandomScore:
    """ES ``random_score(seed, field)``: a deterministic, uniformly
    distributed per-doc value in [0, 1) — reproducible jitter for sampled
    ranking / A-B bucketing. ES hashes the field value with the seed; this
    engine pins the hash to md5(seed ':' field)'s first 32 bits / 2^32 —
    proven bit-identical between Spark (md5/substring/conv codegen
    built-ins) and the DuckDB twin (hex-literal cast), the same md5-draw
    discipline as the diversified sampler."""

    seed: str = "s0"
    field: str = "doc_id"
    weight: float = 1.0

    def __post_init__(self):
        if not self.seed.replace("_", "").isalnum():
            raise ValueError("seed must be alphanumeric/underscore")

    def column(self) -> Column:
        key = F.md5(
            F.concat_ws(
                ":", F.lit(self.seed), F.col(self.field).cast("string")
            )
        )
        v = F.conv(F.substring(key, 1, 8), 16, 10).cast("double") / float(
            1 << 32
        )
        return v * float(self.weight)

    def sql(self) -> str:
        return (
            f"((('0x' || substr(md5('{self.seed}:' || "
            f"CAST({self.field} AS VARCHAR)), 1, 8))::BIGINT)::DOUBLE"
            f" / {float(1 << 32)!r}) * {float(self.weight)!r}"
        )


def _combine(parts: list, score_mode: str, mul, add, mx):
    out = parts[0]
    for p in parts[1:]:
        if score_mode == "multiply":
            out = mul(out, p)
        elif score_mode == "sum":
            out = add(out, p)
        else:
            out = mx(out, p)
    return out


def function_score_columns(
    functions: list, score_mode: str, boost_mode: str
) -> Column:
    """The combined function value as one Spark Column over docmap fields."""
    if not functions:
        raise ValueError("at least one function required")
    if score_mode not in _SCORE_MODES:
        raise ValueError(f"unknown score_mode {score_mode!r}")
    if boost_mode not in _BOOST_MODES:
        raise ValueError(f"unknown boost_mode {boost_mode!r}")
    return _combine(
        [f.column() for f in functions],
        score_mode,
        lambda a, b: a * b,
        lambda a, b: a + b,
        lambda a, b: F.greatest(a, b),
    )


def search_function_score(
    reader: IndexReader,
    terms: list[str],
    functions: list,
    mode: str = "disjunctive",
    score_mode: str = "multiply",
    boost_mode: str = "multiply",
    k: int = 10,
    round_digits: int = 6,
    exclude: list[str] | None = None,
    where: dict | None = None,
) -> DataFrame:
    """Distributed function_score: full-candidate BM25 -> docmap projection
    join -> built-in function expressions -> top-k. Returns
    (doc_id, score) ordered by (score desc, doc_id)."""
    from miru_spark.plans.search import search_distributed

    fval = function_score_columns(functions, score_mode, boost_mode)
    scored = search_distributed(
        reader, terms, mode=mode, k=None, round_digits=round_digits,
        exclude=exclude, where=where,
    )
    fields = sorted({f.field for f in functions} - {"doc_id"})
    dm = reader.docmap_df().select("doc_id", *fields)
    j = scored.join(dm, "doc_id")
    if boost_mode == "multiply":
        final = F.col("score") * fval
    elif boost_mode == "sum":
        final = F.col("score") + fval
    else:
        final = fval
    return (
        j.select("doc_id", F.round(final, round_digits).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def function_score_oracle_sql(
    terms: list[str],
    functions: list,
    mode: str = "disjunctive",
    score_mode: str = "multiply",
    boost_mode: str = "multiply",
    k: int = 10,
    round_digits: int = 6,
    exclude: list[str] | None = None,
    doc_len_expr: str = (
        "len(list_filter(string_split(text, ' '), t -> t <> ''))"
    ),
) -> str:
    """DuckDB twin: the standard BM25 CTE (rounded, full candidate set)
    joined to documents for the field values; ``doc_len`` is recomputed
    from text with the same whitespace tokenization as the engine."""
    from miru_spark.plans.relational import bm25_oracle_sql

    if score_mode not in _SCORE_MODES:
        raise ValueError(f"unknown score_mode {score_mode!r}")
    if boost_mode not in _BOOST_MODES:
        raise ValueError(f"unknown boost_mode {boost_mode!r}")
    inner = bm25_oracle_sql(
        terms, mode, k=1 << 30, round_digits=round_digits, exclude=exclude
    )
    fval = _combine(
        [f.sql() for f in functions],
        score_mode,
        lambda a, b: f"({a}) * ({b})",
        lambda a, b: f"({a}) + ({b})",
        lambda a, b: f"greatest({a}, {b})",
    )
    if boost_mode == "multiply":
        final = f"s.score * ({fval})"
    elif boost_mode == "sum":
        final = f"s.score + ({fval})"
    else:
        final = fval
    return f"""
WITH scored AS ({inner}),
dm AS (SELECT doc_id, {doc_len_expr} AS doc_len FROM documents)
SELECT s.doc_id, round({final}, {round_digits}) AS score
FROM scored s JOIN dm USING (doc_id)
ORDER BY score DESC, doc_id LIMIT {k}
""".strip()
