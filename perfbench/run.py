"""miru_spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload serve_hot --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout. Each run starts Spark on
``local[N]`` (N = min(4, nproc)), generates its inputs from ``--seed``
(perfbench/gen.py), builds the index with ``build_index`` (public defaults),
then drives one closed-loop client (the next call starts when the previous
one returns) against the public ``miru_spark`` API for ``--seconds``
seconds, and finally checks the answers (perfbench/oracle.py).

Workloads:

* ``serve_hot`` — ``search_topk`` over Zipf-drawn head-heavy queries.
* ``serve_refresh`` — cycles of ``delete_docs``, a fresh ``IndexReader`` and
  a few tail-term ``search_topk`` calls.

The traced run of either workload then appends a short results-page phase
(``search_distributed(...).collect()``, ``search_facets`` and
``search_count`` on one head-term query), which feeds the ``dist.*``
per-layer metrics and the page latency in the report.

Output: a ``{"report": ...}`` line with every metric under its full name,
its unit and sample count, the run environment and the checks; then, as the
last line, ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
With ``--trace 1`` every request of the timed loop runs with the layer
entry points wrapped in spans (perfbench/layers.py); the spans are written
to ``.perfbench/traces/`` at the end.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("serve_hot", "serve_refresh")
# the bounded tail percentile. p90 and p99 swung by up to 0.2-0.7 of their
# median between runs on a shared 4-vCPU host with CPU steal; the report
# carries query p99 and refresh p90
TAIL_PCT = 75
PRIMARY = {"serve_hot": "query", "serve_refresh": "refresh"}
# the end-to-end metrics BENCHMARK.json bounds, the same names on every workload
BOUNDED = ("setup_s", "latency_p50_ms", "latency_tail_ms", "query_p50_ms",
           "queries_per_s", "index_bytes_per_input_byte", "driver_peak_rss_mb")
LOOP_STREAM = {"serve_hot": "hot", "serve_refresh": "tail"}
K = 10
TWIN_EXTRA = 50  # twin rows past k, to hold a score tie at the k-th place
PAGES = 2  # results pages the traced run appends (after one warm-up page)
PAGE_REQUEST_BASE = 1_000_000  # request ids of those pages
N_ORACLE = 12  # loop answers checked against the DuckDB twin per run
OVERHEAD_PAIRS = 100  # queries timed untraced and traced for trace.overhead_ms
QUERIES_PER_REFRESH = 5
# serve_refresh removes its tombstones every this many cycles. Each delete
# adds a tombstone file and refresh cost grows with the file count (~0.3 ms
# a file on local[4]), so without the reset a faster run would reach more
# files and read slower: every run now serves the same 1..N file mix. The
# per-file reads were also the part of a refresh that CPU steal stretched
# most, so N is small.
TOMBSTONE_EPOCH = 10
WARM_CYCLES = 10  # untimed serve_refresh cycles before the loop
TRACE_DIR = ROOT / ".perfbench" / "traces"


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="miru_spark benchmark (one workload, one seed)")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pct(values: list[float], p: float) -> float:
    import numpy as np

    return float(np.percentile(np.asarray(values, dtype=float), p))


def dir_bytes(path: str) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file())


class Bench:
    """State of one run: Spark, inputs, index, tracer, results."""

    def __init__(self, args: argparse.Namespace, work: Path):
        self.args = args
        self.work = work
        self.tracer = None
        self.problems: list[str] = []
        self.checks = 0  # gate operations attempted
        self.page_jobs: list[int] = []
        self.page_candidates: list[int] = []
        self.pages: list = []  # (query, dist top-k, facets, count, driver top-k)
        self.answers: list = []  # (query, hits, ids deleted before the query)
        self.deleted: set[int] = set()
        self.epoch_files: list[int] = []  # tombstone files at each reset
        self.n_traced = 0
        self.spark = None

    # ------------------------------------------------------------ set-up --
    def start_spark(self):
        from miru_spark.session import get_spark

        self.n_cores = min(4, nproc())
        self.master = f"local[{self.n_cores}]"
        self.local_dir = str(self.work / "spark-local")
        self.spark = get_spark(
            "perfbench",
            master=self.master,
            shuffle_partitions=self.n_cores,
            extra_conf={
                "spark.local.dir": self.local_dir,
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                "spark.driver.memory": "2g",
                # -XX:-UsePerfData: no hsperfdata file in the system /tmp
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def setup(self) -> None:
        import gen
        from miru_spark.index import writer
        from miru_spark.index.reader import IndexReader

        t0 = time.perf_counter()
        self.start_spark()
        t1 = time.perf_counter()
        in_dir = str(self.work / "inputs")
        self.streams = gen.generate(self.args.seed, in_dir)
        self.corpus_path = os.path.join(in_dir, "corpus.parquet")
        t2 = time.perf_counter()
        self.index_path = str(self.work / "index")
        corpus = self.spark.read.parquet(self.corpus_path)
        with self.traced_setup():
            self.manifest = writer.build_index(
                self.spark, corpus, self.index_path, tokenizer="whitespace"
            )
            t3 = time.perf_counter()
            self.reader = IndexReader(self.spark, self.index_path)
        t4 = time.perf_counter()
        self.setup_s = t4 - t0
        self.setup_parts = {"spark_start_s": t1 - t0, "generate_s": t2 - t1,
                            "build_s": t3 - t2, "open_s": t4 - t3}
        self.build_s = t3 - t2
        self.index_bytes = dir_bytes(self.index_path)

    def load_corpus(self) -> None:
        """Read the generated corpus back for the gate and the sizes (after
        the timed loop, so its table is not in the loop's memory peak)."""
        import pyarrow.parquet as pq

        self.corpus = pq.read_table(self.corpus_path)
        self.input_bytes = sum(len(s.as_py().encode("utf-8")) for s in self.corpus.column("content"))

    @contextlib.contextmanager
    def traced_setup(self):
        if self.tracer is None:
            yield
            return
        with self.traced("bench.setup", 0):
            yield

    @contextlib.contextmanager
    def traced(self, name: str, request_id: int, tracer=None):
        """Run one request with the layer entry points wrapped, its spans
        going to ``tracer`` (default: the run's)."""
        from layers import instrument

        tracer = tracer or self.tracer
        instrument(tracer)
        try:
            with tracer.request(name, request_id):
                yield
        finally:
            tracer.uninstall()

    # ----------------------------------------------------------- requests --
    @contextlib.contextmanager
    def request(self, name: str, i: int):
        """One loop request; in a traced run, with the layer entry points
        wrapped."""
        if self.tracer is None:
            yield
            return
        try:
            with self.traced(name, i + 1):
                yield
        finally:
            self.n_traced += 1

    def start_loop(self) -> None:
        """Keep the set-up's memory peak and restart the peak count, so
        ``driver_peak_rss_mb`` covers the timed loop alone."""
        self.setup_rss_mb = peak_rss_mb()
        reset_peak_rss()

    def span(self, name: str, traced: bool):
        return self.tracer.span(name) if traced else contextlib.nullcontext()

    def topk(self, reader, q: dict) -> list[tuple[int, float]]:
        from miru_spark.plans import search

        return search.search_topk(
            reader, q["terms"], mode=q["mode"], k=K, where=q.get("where")
        )

    # ---------------------------------------------------------- workloads --
    def run_serve_hot(self, seconds: float) -> dict:
        hot = self.streams["hot"]
        for q in hot[-50:]:  # warm-up: dataset discovery, first-call paths
            self.topk(self.reader, q)
        lat: list[float] = []
        self.start_loop()
        t0 = time.perf_counter()
        deadline = t0 + seconds
        i = 0
        while time.perf_counter() < deadline:
            q = hot[i % (len(hot) - 50)]
            try:
                with self.request("bench.query", i):
                    t = time.perf_counter()
                    hits = self.topk(self.reader, q)
                    lat.append(time.perf_counter() - t)
                self.answers.append((q, hits, ()))
            except Exception as e:  # noqa: BLE001 — counted, loop keeps going
                self.fail(f"query {q}: {e!r}")
            i += 1
        elapsed = time.perf_counter() - t0
        self.attempted = i
        self.rss_mb = peak_rss_mb()
        return {"query": lat, "elapsed": elapsed}

    def run_serve_refresh(self, seconds: float) -> dict:
        from miru_spark.index import writer
        from miru_spark.index.reader import IndexReader

        tail, deletes = self.streams["tail"], self.streams["deletes"]
        tomb_dir = Path(self.index_path) / "tombstones"
        for q in tail[-20:]:  # warm-up on the initial reader
            self.topk(self.reader, q)
        # warm-up cycles (the first write, dataset discovery, first-call
        # paths) on batches from the far end of the stream; the timed loop
        # then starts from the built index again, with no tombstones
        for batch, q in zip(deletes[-WARM_CYCLES:], tail[-20:]):
            writer.delete_docs(self.index_path, batch)
            self.topk(IndexReader(self.spark, self.index_path), q)
        shutil.rmtree(tomb_dir)
        refresh_lat: list[float] = []
        query_lat: list[float] = []
        deleted = self.deleted
        self.start_loop()
        t0 = time.perf_counter()
        deadline = t0 + seconds
        qi = 0
        cycle = 0
        attempted = 0
        while time.perf_counter() < deadline and cycle < len(deletes):
            if cycle and cycle % TOMBSTONE_EPOCH == 0:
                # as a purge would, between requests: back to the built index
                self.epoch_files.append(len(list(tomb_dir.glob("*.parquet"))))
                shutil.rmtree(tomb_dir)
                deleted.clear()
            batch = deletes[cycle]
            attempted += QUERIES_PER_REFRESH
            try:
                with self.request("bench.refresh", cycle):
                    t = time.perf_counter()
                    writer.delete_docs(self.index_path, batch)
                    deleted.update(batch)
                    reader = IndexReader(self.spark, self.index_path)
                    frozen = tuple(sorted(deleted))
                    for n in range(QUERIES_PER_REFRESH):
                        q = tail[qi % len(tail)]
                        qi += 1
                        tq = time.perf_counter()
                        hits = self.topk(reader, q)
                        done = time.perf_counter()
                        query_lat.append(done - tq)
                        if n == 0:  # delete -> a new reader's first answer
                            refresh_lat.append(done - t)
                        self.answers.append((q, hits, frozen))
            except Exception as e:  # noqa: BLE001 — counted, loop keeps going
                self.fail(f"refresh cycle {cycle}: {e!r}")
            cycle += 1
        elapsed = time.perf_counter() - t0
        self.attempted = attempted
        self.rss_mb = peak_rss_mb()
        # what follows the loop (pages, gate) reads the index with the deletes
        # made since the last reset
        self.reader = IndexReader(self.spark, self.index_path)
        return {"refresh": refresh_lat, "query": query_lat, "elapsed": elapsed}

    def trace_overhead_ms(self) -> float:
        """Median, over the first ``OVERHEAD_PAIRS`` queries of the
        workload's stream, of one ``search_topk``'s traced minus untraced
        latency on the same query and reader. Which of the two runs first
        alternates, so neither is always the warmer one; their spans go to
        a throwaway tracer, outside the per-layer metrics."""
        from spans import Tracer

        probe = Tracer()
        diffs = []
        queries = self.streams[LOOP_STREAM[self.args.workload]][:OVERHEAD_PAIRS]
        for j, q in enumerate(queries):
            dt = {}
            for traced in ((True, False) if j % 2 else (False, True)):
                with (self.traced("bench.overhead", j, probe) if traced
                      else contextlib.nullcontext()):
                    t = time.perf_counter()
                    self.topk(self.reader, q)
                    dt[traced] = time.perf_counter() - t
            diffs.append(dt[True] - dt[False])
        return statistics.median(diffs) * 1e3

    def page(self, q: dict, traced: bool):
        from miru_spark.plans import search

        r = self.reader
        with self.span("dist.topk", traced):
            top = search.search_distributed(r, q["terms"], mode=q["mode"], k=K).collect()
        with self.span("dist.facets", traced):
            facets = search.search_facets(r, q["terms"], mode=q["mode"], facet_col="lang").collect()
        with self.span("dist.count", traced):
            n_hits = search.search_count(r, q["terms"], mode=q["mode"]).collect()[0]["n_hits"]
        return ([(row["doc_id"], row["score"]) for row in top],
                {row["lang"]: row["n_docs"] for row in facets}, int(n_hits))

    def run_pages(self) -> list[float]:
        """The traced run's results-page phase: one warm-up page, then
        ``PAGES`` traced pages, each checked against the driver top-k."""
        pages = self.streams["page"]
        self.page(pages[-1], False)  # warm-up: first plan, worker start-up
        sc = self.spark.sparkContext
        lat: list[float] = []
        groups = []
        for j in range(PAGES):
            q = pages[j]
            group = f"perfbench-page-{j}"
            groups.append(group)
            sc.setJobGroup(group, "perfbench results page")
            with self.traced("bench.page", PAGE_REQUEST_BASE + j):
                t = time.perf_counter()
                top, facets, n_hits = self.page(q, True)
                lat.append(time.perf_counter() - t)
            sc.setJobGroup("perfbench-driver", "perfbench driver query")
            self.pages.append((q, top, facets, n_hits, self.topk(self.reader, q)))
            self.page_candidates.append(n_hits)
        # job ids reach the status store through the listener bus: read them
        # after the last page, when every page's jobs have been posted
        time.sleep(0.5)
        tracker = sc.statusTracker()
        self.page_jobs = [len(tracker.getJobIdsForGroup(g)) for g in groups]
        return lat

    # ---------------------------------------------------------- the gate --
    def fail(self, msg: str) -> None:
        self.problems.append(msg)

    def gate(self) -> None:
        """Check the index and a seeded sample of answers (outside the
        timed loop). Every check is one attempted operation."""
        import numpy as np
        import oracle

        self.checks += 1
        for p in oracle.check_docmap(self.index_path, self.corpus, self.args.seed):
            self.fail(f"docmap: {p}")

        twin = oracle.Twin(self.corpus_path)
        try:
            rng = np.random.default_rng([self.args.seed, 4])
            answers = self.answers
            picks = rng.choice(len(answers), size=min(N_ORACLE, len(answers)), replace=False)
            for j in sorted(int(p) for p in picks):
                q, hits, deleted = answers[j]
                self.check_topk(twin, q, hits, deleted)
            # no tombstoned id may appear in any answer given after its delete
            for q, hits, deleted in answers:
                if deleted:
                    leaked = {d for d, _ in hits} & set(deleted)
                    if leaked:
                        self.fail(f"{q}: tombstoned ids {sorted(leaked)} served")
            self.checks += 1
            for q, top, facets, n_hits, driver in self.pages:
                self.check_page(twin, q, top, facets, n_hits, driver)
            self.tombstone_gate(twin, [a for a in (answers[int(p)] for p in picks) if a[1]])
        finally:
            twin.close()

    def check_topk(self, twin, q, hits, deleted) -> None:
        import oracle

        self.checks += 1
        want = twin.topk(q["terms"], q["mode"], K + TWIN_EXTRA, q.get("where"), deleted)
        if not oracle.same_topk(hits, want, K):
            self.fail(f"{q}: engine {oracle.golden_order(hits)} != twin {want[:K]}")

    def check_page(self, twin, q, top, facets, n_hits, driver) -> None:
        """The page's top-k and the driver's both match the twin (so they
        agree up to a score tie at the k-th place), its facet counts sum
        to its count, and its facets match the twin's."""
        import oracle

        self.checks += 1
        want = twin.topk(q["terms"], q["mode"], K + TWIN_EXTRA, None, self.deleted)
        for name, hits in (("distributed", top), ("driver", driver)):
            if not oracle.same_topk(hits, want, K):
                self.fail(f"page {q}: {name} top-k {oracle.golden_order(hits)} != twin {want[:K]}")
        if sum(facets.values()) != n_hits:
            self.fail(f"page {q}: facet counts {facets} do not sum to count {n_hits}")
        want = twin.facets(q["terms"], q["mode"], "lang", self.deleted)
        if facets != want:
            self.fail(f"page {q}: facets {facets} != twin {want}")

    def tombstone_gate(self, twin, cases) -> None:
        """Delete the top hit of a few checked queries, open a new reader,
        and require every one of them to drop the deleted docs."""
        from miru_spark.index import writer
        from miru_spark.index.reader import IndexReader

        cases = cases[:5]
        if not cases:
            return
        victims = sorted({hits[0][0] for _, hits, _ in cases})
        writer.delete_docs(self.index_path, victims)
        reader = IndexReader(self.spark, self.index_path)
        gone = self.deleted | set(victims)
        for q, _, _ in cases:
            hits = self.topk(reader, q)
            if {d for d, _ in hits} & set(victims):
                self.checks += 1
                self.fail(f"{q}: deleted top hit still served")
                continue
            self.check_topk(twin, q, hits, tuple(sorted(gone)))

    # ----------------------------------------------------------- results --
    def sizes(self) -> dict:
        import pyarrow.dataset as pads

        comp = self.manifest["metrics"]["compression"]
        terms = pads.dataset(f"{self.index_path}/df", format="parquet").count_rows()
        return {"docs": self.corpus.num_rows, "distinct_terms": terms,
                "postings": comp["n_postings"], "index_bytes": self.index_bytes,
                "input_bytes": self.input_bytes}

    def working_set(self) -> dict:
        """Distinct terms the timed loop queried and their posting bytes."""
        import pyarrow.dataset as pads

        tbl = pads.dataset(f"{self.index_path}/postings", format="parquet",
                           partitioning="hive").to_table(columns=["term", "blob_bytes"])
        size: dict[str, int] = {}
        for t, b in zip(tbl.column("term").to_pylist(), tbl.column("blob_bytes").to_pylist()):
            size[t] = size.get(t, 0) + int(b)
        terms = {t for q, _, _ in self.answers for t in q["terms"]}
        return {"terms": len(terms), "posting_bytes": sum(size.get(t, 0) for t in terms),
                "index_posting_bytes": sum(size.values())}

    def env(self) -> dict:
        import numpy
        import pyarrow
        import pyspark

        conf = self.spark.conf
        return {
            "nproc": nproc(),
            "master": self.master,
            "shuffle_partitions": int(conf.get("spark.sql.shuffle.partitions")),
            "index_path": os.path.relpath(self.index_path, ROOT),
            "spark_local_dir": os.path.relpath(self.local_dir, ROOT),
            "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__,
            "python": sys.version.split()[0],
        }

    def stop(self) -> None:
        """Stop Spark and wait for its JVM (and with it the Python
        workers) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the JVM exits on EOF of its stdin
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
        self.spark = None


def peak_rss_mb() -> float:
    """Peak resident set of this process (Linux VmHWM), in MB, since it
    started or since the last :func:`reset_peak_rss`."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("/proc/self/status has no VmHWM")


def reset_peak_rss() -> None:
    """Restart the peak resident set at the current one (Linux clear_refs)."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def metric(value, unit: str, n: int) -> dict:
    return {"value": value, "unit": unit, "n": n}


def end_to_end(b: Bench, out: dict) -> dict:
    """Every end-to-end metric of the run under its full name, unit and
    sample count. ``latency_p50_ms`` and ``latency_tail_ms`` are the
    workload's request: a refresh on ``serve_refresh``, a query on
    ``serve_hot``, where ``latency_p50_ms`` is ``query_p50_ms`` again
    (BENCHMARK.json bounds the same names on every workload)."""
    w = b.args.workload
    q, lat = out["query"], out[PRIMARY[w]]
    m = {
        "setup_s": metric(b.setup_s, "s", 1),
        "latency_p50_ms": metric(pct(lat, 50) * 1e3, "ms", len(lat)),
        "latency_tail_ms": metric(pct(lat, TAIL_PCT) * 1e3, "ms", len(lat)),
        "query_p50_ms": metric(pct(q, 50) * 1e3, "ms", len(q)),
        "query_p99_ms": metric(pct(q, 99) * 1e3, "ms", len(q)),
        "queries_per_s": metric(len(q) / out["elapsed"], "1/s", len(q)),
        "index_bytes_per_input_byte": metric(b.index_bytes / b.input_bytes, "ratio", 1),
        "driver_peak_rss_mb": metric(b.rss_mb, "MB", 1),
        "setup_peak_rss_mb": metric(b.setup_rss_mb, "MB", 1),
        "build_docs_per_s": metric(b.corpus.num_rows / b.build_s, "docs/s", 1),
    }
    if "refresh" in out:
        r = out["refresh"]
        m["refresh_p50_ms"] = metric(pct(r, 50) * 1e3, "ms", len(r))
        m["refresh_p90_ms"] = metric(pct(r, 90) * 1e3, "ms", len(r))
    if "page" in out:
        p = out["page"]
        m["page_p50_ms"] = metric(pct(p, 50) * 1e3, "ms", len(p))
        m["page_p75_ms"] = metric(pct(p, 75) * 1e3, "ms", len(p))
    attempted = b.attempted + b.checks
    m["error_rate"] = metric(len(b.problems) / attempted, "ratio", attempted)
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    # the engine is part of the checkout; without it there is nothing to run
    import miru_spark.plans.search  # noqa: F401

    base = ROOT / ".perfbench"
    base.mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix=f"{args.workload}-s{args.seed}-", dir=base))
    (work / "tmp").mkdir()
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    # Spark's Python workers import the engine from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # one client, one thread: with Arrow's default pools (nproc CPU threads,
    # 8 I/O threads) every small driver-side read is handed between threads,
    # and three busy processes beside a run slowed serve_refresh by ~25%;
    # with one thread each they did not slow it (0-15% slower when nothing
    # else runs)
    import pyarrow as pa

    pa.set_cpu_count(1)
    pa.set_io_thread_count(1)
    b = Bench(args, work)
    if args.trace:
        from spans import Tracer

        b.tracer = Tracer()
    try:
        b.setup()
        run = {"serve_hot": b.run_serve_hot,
               "serve_refresh": b.run_serve_refresh}[args.workload]
        t_loop = time.perf_counter()
        out = run(args.seconds)
        t_pages = time.perf_counter()
        b.load_corpus()
        tomb_dir = Path(b.index_path) / "tombstones"
        tombstone_files = (statistics.mean(b.epoch_files) if b.epoch_files
                           else len(list(tomb_dir.glob("*.parquet"))))
        if args.trace:
            overhead_ms = b.trace_overhead_ms()
            out["page"] = b.run_pages()
        t_gate = time.perf_counter()
        b.gate()
        t_done = time.perf_counter()
        e2e = end_to_end(b, out)
        report = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "env": b.env(), "sizes": b.sizes(),
            "working_set": b.working_set(), "setup_parts": b.setup_parts,
            "build_stage_secs": b.manifest["metrics"]["stage_secs"],
            "phase_s": {"setup": b.setup_s, "loop": t_pages - t_loop,
                        "overhead_and_pages": t_gate - t_pages, "gate": t_done - t_gate},
            "metrics": e2e,
            "problems": b.problems[:20],
        }
        if args.trace:
            from layers import per_layer_metrics

            TRACE_DIR.mkdir(parents=True, exist_ok=True)
            b.tracer.write(str(TRACE_DIR / f"{args.workload}-seed{args.seed}.jsonl"))
            layer = per_layer_metrics(
                b.tracer, b.manifest, b.n_traced, tombstone_files, b.page_jobs,
                b.page_candidates, overhead_ms, PAGE_REQUEST_BASE,
            )
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
            report["per_layer"] = metrics
        else:
            metrics = {k: {"value": e2e[k]["value"], "unit": e2e[k]["unit"]} for k in BOUNDED}
        attempted = b.attempted + b.checks
        result = {"correct": not b.problems, "attempted": attempted,
                  "failed": min(len(b.problems), attempted), "metrics": metrics}
    finally:
        b.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
