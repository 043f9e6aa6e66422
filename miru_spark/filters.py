"""Metadata-filter predicate specs shared by the driver-side (pyarrow) and
cluster-side (Spark) filtered-search paths (A34/A35).

A ``where`` mapping sends a docmap column to ONE of:

* a scalar            -> equality
* a list/tuple/set    -> IN
* a :class:`Range`    -> range predicate (any combination of bounds)
* a :class:`Prefix`   -> keyword-prefix predicate (starts-with)

Conditions on distinct columns AND together. Both consumers — the
pyarrow pushed-down docmap scan (`IndexReader.filter_doc_ids`) and the
distributed semi-join (`search_distributed`) — build their predicate from
the same spec via :func:`arrow_predicate` / :func:`spark_predicate`, so
the two execution strategies can't drift. Lucene twin: TermQuery /
TermInSetQuery / PointRangeQuery wrapped as a BooleanQuery FILTER clause.
"""

from __future__ import annotations


class Range:
    """A range predicate for metadata filters: any combination of
    ``gte``/``gt``/``lte``/``lt`` bounds (unset bounds are open).

    ``where={"doc_len": Range(gte=100, lt=500)}`` keeps docs with
    100 <= doc_len < 500. Bounds compare with the column's native type
    (numeric for int columns, lexicographic for strings — the same
    semantics parquet column statistics prune by, so the driver-side
    scan skips row groups wholly outside the range).
    """

    __slots__ = ("gte", "gt", "lte", "lt")

    def __init__(self, gte=None, gt=None, lte=None, lt=None):
        if gte is not None and gt is not None:
            raise ValueError("Range takes at most one lower bound (gte|gt)")
        if lte is not None and lt is not None:
            raise ValueError("Range takes at most one upper bound (lte|lt)")
        if gte is None and gt is None and lte is None and lt is None:
            raise ValueError("Range needs at least one bound")
        self.gte, self.gt, self.lte, self.lt = gte, gt, lte, lt

    def __repr__(self) -> str:  # stable for tests/messages
        parts = [
            f"{k}={getattr(self, k)!r}"
            for k in self.__slots__
            if getattr(self, k) is not None
        ]
        return f"Range({', '.join(parts)})"

    def __eq__(self, other) -> bool:
        return isinstance(other, Range) and all(
            getattr(self, k) == getattr(other, k) for k in self.__slots__
        )

    def __hash__(self):
        return hash((self.gte, self.gt, self.lte, self.lt))


class Prefix:
    """A keyword-prefix predicate (Lucene PrefixQuery in filter context /
    ES ``prefix`` query on a keyword field): keeps docs whose string
    column starts with ``value``. ``where={"path": Prefix("src/core/")}``
    is the directory-subtree filter every code-search user reaches for.

    Driver-side the predicate compiles to ``value <= col < next(value)``
    plus the exact starts-with — the half-open range lets parquet column
    statistics prune row groups exactly like :class:`Range` (the same
    bound trick the sorted term dictionary uses); Spark-side it is
    ``startswith`` (whole-stage codegen ``StartsWith``)."""

    __slots__ = ("value",)

    def __init__(self, value: str):
        if not isinstance(value, str) or not value:
            raise ValueError("Prefix needs a non-empty string")
        self.value = value

    def __repr__(self) -> str:
        return f"Prefix({self.value!r})"

    def __eq__(self, other) -> bool:
        return isinstance(other, Prefix) and self.value == other.value

    def __hash__(self):
        return hash(("Prefix", self.value))

    def upper_bound(self) -> str | None:
        """Smallest encodable string > every string with this prefix, or
        None when no such bound exists (every char already at the max code
        point). The surrogates U+D800-U+DFFF are skipped: a lone one cannot
        be UTF-8-encoded into the pyarrow bound. The bound only prunes;
        the starts-with check decides the answer."""
        v = self.value
        for i in range(len(v) - 1, -1, -1):
            c = ord(v[i])
            if c < 0x10FFFF:
                return v[:i] + chr(0xE000 if 0xD7FF <= c < 0xE000 else c + 1)
        return None


class Not:
    """Negation wrapper (Lucene BooleanQuery MUST_NOT in filter context /
    ES bool.must_not): keeps docs where the wrapped spec does NOT hold —
    ``where={"path": Not(Prefix("vendor/"))}`` excludes a subtree,
    ``where={"lang": Not(["zh", "fr"])}`` is NOT-IN. Wraps any other spec
    (scalar, list, Range, Prefix); double negation is rejected rather
    than silently collapsed. NULL semantics: both engines' negation drops
    NULL-valued rows (pyarrow's invert and Spark's ~ are both
    three-valued), which matches Lucene — a doc without the field never
    matches a filter clause, negated or not."""

    __slots__ = ("spec",)

    def __init__(self, spec):
        if isinstance(spec, Not):
            raise ValueError("Not(Not(...)) — unwrap instead")
        self.spec = spec

    def __repr__(self) -> str:
        return f"Not({self.spec!r})"

    def __eq__(self, other) -> bool:
        return isinstance(other, Not) and self.spec == other.spec

    def __hash__(self):
        return hash(("Not", self.spec if not isinstance(self.spec, list)
                      else tuple(self.spec)))


def arrow_predicate(col: str, spec):
    """The pyarrow.compute expression for one (column, spec) condition."""
    import pyarrow.compute as pc

    f = pc.field(col)
    if isinstance(spec, Not):
        return ~arrow_predicate(col, spec.spec)
    if isinstance(spec, Range):
        conds = []
        if spec.gte is not None:
            conds.append(f >= spec.gte)
        if spec.gt is not None:
            conds.append(f > spec.gt)
        if spec.lte is not None:
            conds.append(f <= spec.lte)
        if spec.lt is not None:
            conds.append(f < spec.lt)
        out = conds[0]
        for c in conds[1:]:
            out = out & c
        return out
    if isinstance(spec, Prefix):
        # range bounds first (statistics-prunable), starts_with for
        # exactness — redundant on the lower side, load-bearing pruning
        out = (f >= spec.value) & pc.starts_with(f, spec.value)
        hi = spec.upper_bound()
        if hi is not None:
            out = out & (f < hi)
        return out
    if isinstance(spec, (list, tuple, set)):
        return f.isin(list(spec))
    return f == spec


def spark_predicate(col: str, spec):
    """The Spark Column for one (column, spec) condition — same semantics
    as :func:`arrow_predicate`, used by the distributed semi-join path."""
    from pyspark.sql import functions as F

    c = F.col(col)
    if isinstance(spec, Not):
        return ~spark_predicate(col, spec.spec)
    if isinstance(spec, Range):
        conds = []
        if spec.gte is not None:
            conds.append(c >= F.lit(spec.gte))
        if spec.gt is not None:
            conds.append(c > F.lit(spec.gt))
        if spec.lte is not None:
            conds.append(c <= F.lit(spec.lte))
        if spec.lt is not None:
            conds.append(c < F.lit(spec.lt))
        out = conds[0]
        for cc in conds[1:]:
            out = out & cc
        return out
    if isinstance(spec, Prefix):
        return c.startswith(spec.value)
    if isinstance(spec, (list, tuple, set)):
        return c.isin(list(spec))
    return c == F.lit(spec)
