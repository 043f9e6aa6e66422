"""Seeded input generator for the benchmark.

Everything the benchmark feeds the engine comes from here, and the same seed
always gives byte-identical inputs:

* a code-like corpus (``corpus.parquet``): ``doc_id, repo, path, commit,
  lang, content``. Tokens follow a Zipf(1.0) law over a vocabulary of
  identifier-like terms, so a few head terms carry long posting lists and
  hundreds of tail terms carry short ones;
* the query and delete streams (``streams.json``), plain lists:
  ``hot`` queries (1-5 terms drawn Zipf from the vocabulary, conjunctive or
  disjunctive, ~10% with a ``lang`` filter), ``tail`` queries (terms drawn
  uniformly from the vocabulary tail), ``page`` queries (head-term queries
  for the results-page workload) and ``deletes`` (disjoint batches of doc
  ids).

Run standalone to inspect a seed::

    python3 perfbench/gen.py --seed 1 --out /tmp/perfbench_inputs
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np

LANGS = ("python", "javascript", "go", "rust", "java", "c")
LANG_WEIGHTS = (0.35, 0.25, 0.15, 0.1, 0.1, 0.05)
LANG_EXT = {"python": "py", "javascript": "js", "go": "go", "rust": "rs",
            "java": "java", "c": "c"}

# head of the vocabulary: what dominates real source files
KEYWORDS = (
    "self return if def import for in the from none else class not and is "
    "int str list dict true false const let var func fn pub struct impl new "
    "void static try except while with as len print range value data key "
    "name type error result args kwargs config path file node item index"
).split()
_SYL = ("get set add del load save read write init parse make build run "
        "find open close check send recv push pop map sort scan emit").split()
_NOUN = ("user id buf ctx req resp row col tree list node conn table cache "
         "page block term doc query token chunk batch field meta stats "
         "offset size count hash lock queue event task job").split()


# the benchmark's input sizes
N_DOCS = 10_000
N_TERMS = 500
MEAN_DOC_LEN = 60
N_REPOS = 40
N_HOT = 20_000  # serve_hot queries
N_TAIL = 20_000  # serve_refresh queries
N_PAGE = 400  # results-page queries
N_DELETE_BATCHES = 2_000
DELETE_BATCH = 4
ZIPF_S = 1.0


def vocabulary(n_terms: int) -> list[str]:
    """Identifier-like, lowercase, whitespace-free, distinct terms."""
    out = list(KEYWORDS)
    seen = set(out)
    i = 0
    while len(out) < n_terms:
        a = _SYL[i % len(_SYL)]
        b = _NOUN[(i // len(_SYL)) % len(_NOUN)]
        n = i // (len(_SYL) * len(_NOUN))
        t = f"{a}_{b}" if n == 0 else f"{a}_{b}{n}"
        if t not in seen:
            seen.add(t)
            out.append(t)
        i += 1
    return out[:n_terms]


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    c = np.cumsum(p)
    return c / c[-1]


def _draw_ranks(rng: np.random.Generator, cdf: np.ndarray, size: int) -> np.ndarray:
    return np.minimum(np.searchsorted(cdf, rng.random(size)), cdf.size - 1)


def make_corpus(seed: int):
    """Return (pyarrow Table, vocab ordered by Zipf rank)."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 1])
    # the rank of every term is fixed, not seeded, so seeds differ only by
    # sampling: the postings files group terms by a hash of the term, and
    # which terms share a file with the head terms stays the same
    ranked = vocabulary(N_TERMS)
    cdf = _zipf_cdf(len(ranked), ZIPF_S)

    lens = np.clip(
        rng.lognormal(np.log(MEAN_DOC_LEN) - 0.18, 0.6, N_DOCS),
        4, 20 * MEAN_DOC_LEN,
    ).astype(np.int64)
    ranks = _draw_ranks(rng, cdf, int(lens.sum()))
    words = np.array(ranked, dtype=object)[ranks]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    content = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(N_DOCS)]
    langs = rng.choice(len(LANGS), size=N_DOCS, p=LANG_WEIGHTS)
    repos = rng.integers(0, N_REPOS, N_DOCS)
    doc_ids = np.arange(N_DOCS, dtype=np.int64)
    table = pa.table({
        "doc_id": pa.array(doc_ids, pa.int64()),
        "repo": [f"org/repo{r:03d}" for r in repos],
        "path": [f"src/m{i % 97:02d}/f{i:06d}.{LANG_EXT[LANGS[g]]}"
                 for i, g in zip(doc_ids, langs)],
        "commit": ["v0"] * N_DOCS,
        "lang": [LANGS[g] for g in langs],
        "content": content,
    })
    return table, ranked


def make_streams(seed: int, ranked: list[str]) -> dict:
    """Query and delete streams over a corpus's Zipf-ranked vocabulary."""
    rng = np.random.default_rng([seed, 2])
    cdf = _zipf_cdf(len(ranked), ZIPF_S)

    def distinct_rows(cand: np.ndarray, sizes_: np.ndarray) -> list[list[str]]:
        """Per row, the first ``size`` distinct ranks of ``cand``'s row."""
        out = []
        for row, n in zip(cand.tolist(), sizes_.tolist()):
            picked = list(dict.fromkeys(row))[:n]
            out.append([ranked[r] for r in picked])
        return out

    n_terms = rng.choice(5, size=N_HOT, p=(0.3, 0.3, 0.2, 0.1, 0.1)) + 1
    hot_terms = distinct_rows(
        _draw_ranks(rng, cdf, N_HOT * 16).reshape(N_HOT, 16), n_terms
    )
    conj = rng.random(N_HOT) < 0.5
    filtered = rng.random(N_HOT) < 0.1
    langs = rng.choice(len(LANGS), size=N_HOT, p=LANG_WEIGHTS)
    hot = []
    for terms, c, f, g in zip(hot_terms, conj.tolist(), filtered.tolist(), langs.tolist()):
        q = {"terms": terms, "mode": "conjunctive" if c else "disjunctive"}
        if f:
            q["where"] = {"lang": LANGS[g]}
        hot.append(q)

    # the tail: every term ranked below the median, uniformly
    lo = len(ranked) // 2
    n_terms = rng.integers(1, 4, size=N_TAIL)
    tail_terms = distinct_rows(
        rng.integers(lo, len(ranked), size=(N_TAIL, 8)), n_terms
    )
    conj = rng.random(N_TAIL) < 0.3
    tail = [{"terms": t, "mode": "conjunctive" if c else "disjunctive"}
            for t, c in zip(tail_terms, conj.tolist())]

    # results pages: two of the top 30 ranks (long posting lists), OR-ed
    page = []
    for _ in range(N_PAGE):
        picks = rng.choice(30, size=2, replace=False)
        page.append({"terms": [ranked[int(i)] for i in picks], "mode": "disjunctive"})

    order = rng.permutation(N_DOCS)[: N_DELETE_BATCHES * DELETE_BATCH]
    deletes = order.reshape(N_DELETE_BATCHES, DELETE_BATCH)
    return {
        "hot": hot,
        "tail": tail,
        "page": page,
        "deletes": [sorted(int(i) for i in b) for b in deletes],
    }


def generate(seed: int, out_dir: str) -> dict:
    """Write ``corpus.parquet`` and ``streams.json`` under ``out_dir``;
    return the streams."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    table, ranked = make_corpus(seed)
    pq.write_table(table, os.path.join(out_dir, "corpus.parquet"))
    streams = make_streams(seed, ranked)
    with open(os.path.join(out_dir, "streams.json"), "w") as f:
        json.dump(streams, f)
    return streams


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    generate(args.seed, args.out)
    print(os.path.join(args.out, "corpus.parquet"))


if __name__ == "__main__":
    main()
