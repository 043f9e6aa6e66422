"""Correctness gate: the engine's answers against independent references.

* BM25 rankings are checked against the engine's DuckDB twin
  (``plans.relational.bm25_oracle_sql``) evaluated over the generated
  corpus, with the golden set's rule: scores rounded to 6 digits, ordered
  by score descending then doc_id ascending (see :func:`same_topk` for a
  tie at the k-th place).
* The built docmap is checked against the corpus: one row per document, and
  ``content_sha256`` equal to ``hashlib.sha256`` of the content.
"""

from __future__ import annotations

import hashlib

import numpy as np

ROUND = 6  # the golden set's rounding
N_SHA_SAMPLE = 40  # docmap rows whose content_sha256 is re-hashed


def golden_order(hits) -> list[tuple[int, float]]:
    """(doc_id, score) pairs under the golden rule: round, then order by
    score desc, doc_id asc."""
    out = [(int(d), round(float(s), ROUND)) for d, s in hits]
    return sorted(out, key=lambda h: (-h[1], h[0]))


def same_topk(hits, want, k: int) -> bool:
    """Whether an engine top-k matches the twin's ranking ``want`` (which
    holds more than k rows) under the golden rule. Documents whose rounded
    scores tie at the k-th place are interchangeable: the rounded reference
    cannot order them, while ``search_topk`` ranks by the unrounded score, so
    the two may keep different documents of that tie group."""
    got = golden_order(hits)
    if len(got) != min(k, len(want)):
        return False
    if not got:
        return True
    kth = got[-1][1]
    above = [h for h in got if h[1] > kth]
    tie = {d for d, s in got if s == kth}
    return above == [h for h in want if h[1] > kth] and tie <= {
        d for d, s in want if s == kth
    }


class Twin:
    """DuckDB over the generated corpus, tokens materialized once so each
    oracle query only re-runs the BM25 aggregation."""

    def __init__(self, corpus_path: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(
            "CREATE VIEW documents AS SELECT doc_id, content AS text, lang, repo "
            f"FROM read_parquet('{corpus_path}')"
        )
        from miru_spark.plans.relational import DEFAULT_TOK_SQL

        self.con.execute(f"CREATE TABLE toks AS {DEFAULT_TOK_SQL}")

    def topk(self, terms, mode: str, k: int, where: dict | None = None,
             deleted=()) -> list[tuple[int, float]]:
        from miru_spark.plans.relational import bm25_oracle_sql

        meta = None
        if where:
            meta = " AND ".join(
                f"{col} = '{str(val).replace(chr(39), chr(39) * 2)}'"
                for col, val in sorted(where.items())
            )
        raw = None
        if len(deleted):
            raw = "doc_id NOT IN (" + ",".join(str(int(d)) for d in sorted(deleted)) + ")"
        sql = bm25_oracle_sql(
            list(terms), mode=mode, k=k, round_digits=ROUND,
            tok_sql="SELECT doc_id, term FROM toks", meta_where=meta, raw_where=raw,
        )
        return [(int(d), float(s)) for d, s in self.con.execute(sql).fetchall()]

    def facets(self, terms, mode: str, col: str, deleted=()) -> dict:
        """{value of ``col``: matching docs} over the live documents that
        match."""
        vals = ",".join("'" + t.replace("'", "''") + "'" for t in dict.fromkeys(terms))
        live = ""
        if len(deleted):
            live = " AND doc_id NOT IN (" + ",".join(str(int(d)) for d in sorted(deleted)) + ")"
        match = f"SELECT doc_id FROM toks WHERE term IN ({vals}){live} GROUP BY doc_id"
        if mode == "conjunctive":
            match += f" HAVING count(DISTINCT term) = {len(set(terms))}"
        rows = self.con.execute(
            f"SELECT d.{col}, count(*) FROM ({match}) m JOIN documents d USING (doc_id) "
            "GROUP BY 1"
        ).fetchall()
        return {str(v): int(n) for v, n in rows}

    def close(self) -> None:
        self.con.close()


def check_docmap(index_path: str, corpus_table, seed: int) -> list[str]:
    """Problems found in the built docmap (empty list = correct)."""
    import pyarrow.dataset as pads

    problems = []
    dm = pads.dataset(f"{index_path}/docmap", format="parquet")
    n_rows = dm.count_rows()
    if n_rows != corpus_table.num_rows:
        problems.append(f"docmap has {n_rows} rows, corpus {corpus_table.num_rows}")
    rng = np.random.default_rng([seed, 3])
    ids = sorted(int(i) for i in rng.choice(corpus_table.num_rows, N_SHA_SAMPLE, replace=False))
    got = dm.to_table(
        columns=["doc_id", "content_sha256"],
        filter=pads.field("doc_id").isin(ids),
    ).to_pydict()
    got_sha = dict(zip(got["doc_id"], got["content_sha256"]))
    doc_ids = corpus_table.column("doc_id").to_numpy()
    content = corpus_table.column("content")
    for d in ids:
        row = int(np.searchsorted(doc_ids, d))
        want = hashlib.sha256(content[row].as_py().encode("utf-8")).hexdigest()
        if got_sha.get(d) != want:
            problems.append(f"doc {d}: content_sha256 {got_sha.get(d)} != {want}")
    return problems
