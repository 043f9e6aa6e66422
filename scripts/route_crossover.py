#!/usr/bin/env python
"""Routing crossover record: the driver top-k kernels against the
distributed plan over a summed-df sweep, on the Zipf-1.0 corpus of
``scripts/zipf_bench.py``.

Each sweep point is a query of Zipf-adjacent terms whose summed df is
near a target (about 10k postings up to the largest the corpus reaches).
For every point and mode (disjunctive, conjunctive) it times:

* ``wand`` — ``search_topk(strategy="wand")`` (block-max WAND /
  galloping intersection), timed only where ``search_topk`` still takes
  ``strategy``. Later commits have no such path; the record's wand
  column comes from running this file (with ``scripts/zipf_bench.py``)
  in a checkout of commit 23515c6;
* ``exhaustive`` — ``search_exhaustive``, the vectorized numpy kernel;
* ``distributed`` — ``search_distributed(..., round_digits=None).collect()``.

Per path it records the p50 of the timed runs and the driver (Python)
process's peak RSS during a call, above the RSS it had just before (Linux
VmHWM, reset before each call). The JVM's memory is not counted.

The corpus and timing settings below are the ones the checked-in
record was made with. Writes BENCH/route_crossover.json (or ``--out``).
Usage:
    python scripts/route_crossover.py [--cpus 4] [--out PATH]
"""

from __future__ import annotations

import argparse
import inspect
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

TARGETS = (10_000, 30_000, 100_000, 300_000, 1_000_000, 3_000_000,
           1 << 23, 20_000_000)
DOCS, DOC_TOKENS, VOCAB = 1_000_000, 30, 20_000
K = 10
REPS = 5  # timed runs per cell, after one warm-up
CELL_BUDGET_S = 20.0  # stop timing a cell past this (at least one run)


def _rss_mb() -> float:
    with open("/proc/self/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20


def _hwm_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("/proc/self/status has no VmHWM")


def _reset_hwm() -> None:
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def timed(fn) -> dict:
    """One untimed warm-up call, then up to ``REPS`` timed calls (at least
    one) while the cell stays inside ``CELL_BUDGET_S``."""
    fn()
    walls, rss = [], []
    t_cell = time.perf_counter()
    while len(walls) < REPS and (
        not walls or time.perf_counter() - t_cell < CELL_BUDGET_S
    ):
        base = _rss_mb()
        _reset_hwm()
        t0 = time.perf_counter()
        hits = fn()
        walls.append((time.perf_counter() - t0) * 1e3)
        rss.append(_hwm_mb() - base)
    return {
        "p50_ms": round(statistics.median(walls), 2),
        "runs": len(walls),
        "peak_rss_above_base_mb": round(max(rss), 1),
        "hits": len(hits),
    }


def pick_terms(ranked: list[tuple[str, int]], target: int) -> list[str]:
    """Two terms of adjacent df rank whose summed df is closest to
    ``target``; past the top pair, the shortest head prefix that reaches
    it (capped at 64 terms)."""
    pairs = [(ranked[i], ranked[i + 1]) for i in range(len(ranked) - 1)]
    top = ranked[0][1] + ranked[1][1]
    if target <= top:
        a, b = min(pairs, key=lambda p: abs(p[0][1] + p[1][1] - target))
        return [a[0], b[0]]
    acc, out = 0, []
    for t, df in ranked[:64]:
        out.append(t)
        acc += df
        if acc >= target:
            break
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--out", default=f"{REPO}/BENCH/route_crossover.json")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from miru_spark.index.reader import IndexReader
    from miru_spark.index.writer import build_index
    from miru_spark.plans import search as S
    from miru_spark.schema import corpus_from_documents
    from miru_spark.session import get_spark, warm_python_workers
    from zipf_bench import synth_corpus

    tmp = tempfile.mkdtemp(prefix="miru_crossover_")
    spark = get_spark(
        "route-crossover",
        master=f"local[{args.cpus}]",
        shuffle_partitions=4 * args.cpus,
        extra_conf={"spark.local.dir": f"{tmp}/local"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    warm_python_workers(spark)
    t0 = time.time()
    synth_corpus(spark, "zipf", f"{tmp}/src", DOCS, DOC_TOKENS, VOCAB)
    corpus = corpus_from_documents(spark.read.parquet(f"{tmp}/src"))
    build_index(spark, corpus, f"{tmp}/idx", num_partitions=8 * args.cpus)
    build_s = round(time.time() - t0, 1)
    reader = IndexReader(spark, f"{tmp}/idx")
    ranked = [
        (r["term"], int(r["df"]))
        for r in reader.postings_df()
        .groupBy("term")
        .agg(F.sum("df_chunk").alias("df"))
        .orderBy(F.desc("df"), "term")
        .collect()
    ]
    reachable = sum(df for _, df in ranked[:64])

    has_strategy = "strategy" in inspect.signature(S.search_topk).parameters
    def paths(terms, mode):
        out = {}
        if has_strategy:
            out["wand"] = lambda: S.search_topk(
                reader, terms, mode=mode, k=K, strategy="wand")
        out["exhaustive"] = lambda: S.search_exhaustive(
            reader, terms, mode=mode, k=K)
        out["distributed"] = lambda: S.search_distributed(
            reader, terms, mode=mode, k=K, round_digits=None).collect()
        return out

    points = []
    for target in TARGETS:
        if target > reachable:
            break
        terms = pick_terms(ranked, target)
        summed = sum(df for t, df in ranked if t in set(terms))
        for mode in ("disjunctive", "conjunctive"):
            rec = {"target": target, "summed_df": summed, "n_terms": len(terms),
                   "mode": mode, "paths": {}}
            for name, fn in paths(terms, mode).items():
                rec["paths"][name] = timed(fn)
            rec["fastest"] = min(rec["paths"],
                                 key=lambda p: rec["paths"][p]["p50_ms"])
            print(json.dumps(rec), flush=True)
            points.append(rec)

    largest = max((p["summed_df"] for p in points), default=0)
    out = {
        "what": "driver top-k kernels vs search_distributed over summed df",
        "corpus": {"generator": "scripts/zipf_bench.py synth_corpus (zipf)",
                   "n_docs": DOCS, "doc_tokens": DOC_TOKENS,
                   "vocab": VOCAB, "build_s": build_s,
                   "largest_reachable_summed_df_64_terms": reachable},
        "machine": {"cpus": os.cpu_count(), "spark_master": f"local[{args.cpus}]",
                    "python": platform.python_version()},
        "k": K,
        "estimator": f"p50 of up to {REPS} timed runs after one warm-up "
                     f"(fewer when a cell passes {CELL_BUDGET_S:.0f} s)",
        "rss": "driver Python VmHWM during one call minus RSS just before it;"
               " JVM memory not counted",
        "strategies_timed": sorted({n for p in points for n in p["paths"]}),
        "exhaustive_cutoff": int(S.EXHAUSTIVE_CUTOFF),
        "largest_summed_df_reached": largest,
        "crossed_cutoff": largest > S.EXHAUSTIVE_CUTOFF,
        "points": points,
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=2)
        f.write("\n")
    print(json.dumps({key: v for key, v in out.items() if key != "points"}))
    spark.stop()
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
