#!/usr/bin/env python
"""A7 skew benchmark: build-wall on a Zipf-1.0 corpus vs a uniform corpus
of the SAME size (docs x tokens), plus hot-term salt-bucket evidence.

The driver testdata's 31-term near-uniform vocabulary cannot stress the
salted term shuffle; this synthesizes the north rule's named risk — a code
corpus where "import"/"return"-class terms dominate — as a Zipf-1.0 token
stream (rank = floor(V^u), u deterministic xxhash64; p(r) ~ 1/r) and
measures whether positional bucketing keeps the skewed build within noise
of the uniform build, i.e. no reducer serializes on the head terms.

Writes BENCH/zipf_skew.json. Usage:
    python scripts/zipf_bench.py [--docs 2000000] [--cpus 32]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def synth_corpus(
    spark, dist: str, out: str, n_docs: int, doc_tokens: int, vocab: int
) -> None:
    """Write a seeded ``documents``-shaped corpus of ``n_docs`` docs with
    ``doc_tokens`` tokens each over ``vocab`` terms ``w1..wV`` to ``out``:
    ``dist="zipf"`` draws term ranks Zipf-1.0 (rank = floor(V^u)),
    anything else uniformly."""
    from pyspark.sql import functions as F

    u = (
        F.pmod(F.xxhash64(F.col("doc_id"), F.col("pos"), F.lit(dist)), F.lit(1_000_003))
        / F.lit(1_000_003.0)
    )
    if dist == "zipf":  # log-uniform inverse transform: p(r) ~ 1/r
        rank = F.floor(F.pow(F.lit(float(vocab)), u)).cast("long")
    else:  # uniform over the same vocabulary
        rank = (F.floor(u * vocab) + 1).cast("long")
    docs = (
        spark.range(0, n_docs, 1, numPartitions=64)
        .select(F.col("id").alias("doc_id"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.lit(doc_tokens))).alias("pos"),
        )
        .select("doc_id", F.concat(F.lit("w"), rank).alias("tok"))
        .groupBy("doc_id")
        .agg(F.concat_ws(" ", F.collect_list("tok")).alias("text"))
        .select(
            "doc_id", "text",
            F.lit("en").alias("lang"),
            F.lit(dist).alias("source"),
            F.length("text").alias("n_chars"),
        )
    )
    docs.write.mode("overwrite").parquet(out)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=2_000_000)
    ap.add_argument("--doc-tokens", type=int, default=30)
    ap.add_argument("--vocab", type=int, default=20_000)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--timed", type=int, default=2, help="timed builds per corpus (best-of)")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from miru_spark.index.reader import IndexReader
    from miru_spark.index.writer import build_index
    from miru_spark.schema import corpus_from_documents
    from miru_spark.session import get_spark, warm_python_workers

    shm = tempfile.mkdtemp(prefix="miru_zipf_", dir="/dev/shm")
    spark = get_spark(
        "zipf-bench",
        master=f"local[{args.cpus}]",
        shuffle_partitions=64,
        extra_conf={"spark.local.dir": f"{shm}/local"},
    )
    warm_python_workers(spark)

    out: dict = {
        "n_docs": args.docs,
        "doc_tokens": args.doc_tokens,
        "vocab": args.vocab,
        "cpus": args.cpus,
        "corpora": {},
    }
    for dist in ("uniform", "zipf"):
        src = f"{shm}/{dist}"
        t0 = time.time()
        synth_corpus(spark, dist, src, args.docs, args.doc_tokens, args.vocab)
        synth_s = round(time.time() - t0, 1)
        corpus = corpus_from_documents(spark.read.parquet(src))
        walls = []
        idx = f"{shm}/idx_{dist}"
        for run in range(args.timed + 1):  # first is warm-up
            shutil.rmtree(idx, ignore_errors=True)
            t0 = time.time()
            build_index(spark, corpus, idx, num_partitions=128)
            if run > 0:
                walls.append(round(time.time() - t0, 2))
        reader = IndexReader(spark, idx)
        hot = (
            reader.postings_df()
            .groupBy("term")
            .agg(
                F.countDistinct("bucket").alias("nb"),
                F.sum("df_chunk").alias("df"),
                F.max("df_chunk").alias("max_group"),
            )
            .orderBy(F.desc("df"))
            .limit(5)
            .collect()
        )
        rec = {
            "synth_s": synth_s,
            "build_walls_s": walls,
            "best_build_s": min(walls),
            "files_per_sec": round(args.docs / min(walls), 1),
            "top_terms": [
                {
                    "term": r["term"],
                    "df": int(r["df"]),
                    "salt_buckets": int(r["nb"]),
                    "max_reducer_group": int(r["max_group"]),
                }
                for r in hot
            ],
        }
        out["corpora"][dist] = rec
        print(dist, rec, flush=True)
        shutil.rmtree(idx, ignore_errors=True)
        shutil.rmtree(src, ignore_errors=True)

    z, unif = out["corpora"]["zipf"], out["corpora"]["uniform"]
    out["skew_overhead_ratio"] = round(z["best_build_s"] / unif["best_build_s"], 3)
    print(json.dumps(out))
    with open(f"{REPO}/BENCH/zipf_skew.json", "w") as f:
        json.dump(out, f, indent=2)
    shutil.rmtree(shm, ignore_errors=True)


if __name__ == "__main__":
    main()
