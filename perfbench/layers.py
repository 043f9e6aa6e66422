"""Which engine entry points the traced run wraps, and the per-layer metrics
computed from the resulting spans and counts.

Layers (span-name prefixes):

* ``writer`` — ``index.writer.build_index`` / ``delete_docs``;
* ``reader`` — ``index.reader.IndexReader`` open, ``fetch_terms``,
  ``filter_doc_ids`` and the tombstone load;
* ``format`` — chunk / block decode (``index.format.unpack_chunk_bm``,
  ``unpack_block_bm``);
* ``search`` — ``plans.search.search_topk`` (driver serving);
* ``dist`` — ``plans.search.search_distributed`` plus the benchmark's spans
  around the distributed page calls (each includes its ``collect()``);
* ``bench`` — the benchmark's own request span.

The ``operators.*`` build stages run inside Spark's Python workers, where no
driver-side span can see them; their numbers come from the manifest that
``build_index`` returns (``stage_secs`` and ``compression``).
"""

from __future__ import annotations

from spans import Tracer

LOOP_LAYERS = ("bench", "search", "reader", "format", "writer")


def instrument(tracer: Tracer) -> None:
    """Wrap every traced entry point (undo with ``tracer.uninstall()``)."""
    from miru_spark.index import format as fmt
    from miru_spark.index import writer
    from miru_spark.index.reader import IndexReader
    from miru_spark.plans import search

    def on_fetch(t: Tracer, args, kwargs, out) -> None:
        postings = sum(tp.df for tp in out.values())
        t.counts["fetch_calls"] += 1
        t.counts["fetch_chunk_rows"] += sum(len(tp.chunks) for tp in out.values())
        t.counts["fetch_blob_bytes"] += sum(
            len(r["blob"]) for tp in out.values() for r in tp.chunks
        )
        t.counts["fetch_postings"] += postings
        # above the cutoff (2**23 postings) search_topk leaves its exhaustive
        # path for WAND / galloping intersection; this index holds ~375k
        # postings, so no query here gets there and wand_share reads 0
        if postings > search.EXHAUSTIVE_CUTOFF:
            t.counts["fetch_over_cutoff"] += 1

    def on_topk(t: Tracer, args, kwargs, out) -> None:
        t.counts["topk_hits"] += len(out)

    tracer.wrap(writer, "build_index", "writer.build_index")
    tracer.wrap(writer, "delete_docs", "writer.delete_docs")
    tracer.wrap(IndexReader, "__init__", "reader.open")
    tracer.wrap(IndexReader, "fetch_terms", "reader.fetch_terms", on_fetch)
    tracer.wrap(IndexReader, "filter_doc_ids", "reader.filter_doc_ids")
    # the reader loads its tombstones on first use and keeps them: tell the
    # load apart from the cached reads
    tracer.wrap(IndexReader, "tombstones",
                lambda args: "reader.tombstones" if "_tombstones" in vars(args[0])
                else "reader.tombstones_load")
    tracer.wrap(fmt, "unpack_chunk_bm", "format.decode")
    tracer.wrap(fmt, "unpack_block_bm", "format.decode")
    tracer.wrap(search, "search_topk", "search.topk", on_topk)
    tracer.wrap(search, "search_distributed", "dist.search_distributed")


def _per(total: float, n: float) -> float:
    return total / n if n else 0.0


def per_layer_metrics(tracer: Tracer, manifest: dict, n_requests: int,
                      tombstone_files: float, page_jobs: list[int],
                      page_candidates: list[int], overhead_ms: float,
                      page_request_base: int) -> dict:
    """Every per-layer metric, as {name: (value, unit)}.

    Time metrics are per call of the named entry point, over every traced
    call (set-up included); ``dist.*`` metrics are per results page;
    ``self.<layer>_ms`` is a layer's self time per traced request of the
    timed loop (request ids from 1 up to ``page_request_base``), except
    ``self.dist_ms``, which is per results page. A layer the run never
    calls reports 0. ``overhead_ms`` is the measured tracing overhead
    (``Bench.trace_overhead_ms``).
    """
    st = manifest["metrics"]["stage_secs"]
    comp = manifest["metrics"]["compression"]
    tot = tracer.totals()
    calls = {k: v[0] for k, v in tot.items()}
    incl = {k: v[1] for k, v in tot.items()}
    selfs = tracer.self_times()
    c = tracer.counts
    n_pages = len(page_jobs)
    n_topk = calls.get("search.topk", 0)
    out = {
        "writer.segments_write_s": (st["segments_write"], "s"),
        "writer.merge_write_s": (st["merge_write"], "s"),
        "writer.df_docmap_write_s": (st["df_docmap_write"], "s"),
        "writer.manifest_agg_s": (st["manifest_agg"], "s"),
        "writer.normalize_stats_s": (st["normalize_stats"], "s"),
        "merge.n_groups": (comp["n_chunks"], "count"),
        "merge.ms_per_group": (_per(st["merge_write"] * 1e3, comp["n_chunks"]), "ms"),
        "format.bytes_per_posting": (_per(comp["postings_bytes"], comp["n_postings"]), "B"),
        "reader.fetch_terms_ms": (_per(incl.get("reader.fetch_terms", 0) * 1e3, c["fetch_calls"]), "ms"),
        "reader.fetch_chunk_rows": (_per(c["fetch_chunk_rows"], c["fetch_calls"]), "count"),
        "reader.fetch_blob_bytes": (_per(c["fetch_blob_bytes"], c["fetch_calls"]), "B"),
        "reader.filter_doc_ids_ms": (_per(incl.get("reader.filter_doc_ids", 0) * 1e3,
                                          calls.get("reader.filter_doc_ids", 0)), "ms"),
        "reader.open_ms": (_per(incl.get("reader.open", 0) * 1e3, calls.get("reader.open", 0)), "ms"),
        "reader.tombstones_ms": (_per(incl.get("reader.tombstones_load", 0) * 1e3,
                                      calls.get("reader.tombstones_load", 0)), "ms"),
        "format.decode_ms": (_per(incl.get("format.decode", 0) * 1e3, n_topk), "ms"),
        "search.topk_self_ms": (_per(selfs.get("search.topk", 0) * 1e3, n_topk), "ms"),
        "search.postings_per_query": (_per(c["fetch_postings"], n_topk), "count"),
        "search.postings_per_hit": (_per(c["fetch_postings"], c["topk_hits"]), "count"),
        "search.wand_share": (_per(c["fetch_over_cutoff"], c["fetch_calls"]), "ratio"),
        "writer.delete_docs_ms": (_per(incl.get("writer.delete_docs", 0) * 1e3,
                                       calls.get("writer.delete_docs", 0)), "ms"),
        "writer.tombstone_files": (tombstone_files, "count"),
        "dist.topk_ms": (_per(incl.get("dist.topk", 0) * 1e3, n_pages), "ms"),
        "dist.facets_ms": (_per(incl.get("dist.facets", 0) * 1e3, n_pages), "ms"),
        "dist.count_ms": (_per(incl.get("dist.count", 0) * 1e3, n_pages), "ms"),
        "dist.candidate_decodes_per_page": (_per(calls.get("dist.search_distributed", 0), n_pages), "count"),
        "dist.spark_jobs_per_page": (_per(sum(page_jobs), n_pages), "count"),
        "dist.candidates_per_page": (_per(sum(page_candidates), n_pages), "count"),
    }
    loop_selfs = tracer.layer_self_times(1, page_request_base)
    for layer in LOOP_LAYERS:
        out[f"self.{layer}_ms"] = (_per(loop_selfs.get(layer, 0.0) * 1e3, n_requests), "ms")
    page_selfs = tracer.layer_self_times(page_request_base)
    out["self.dist_ms"] = (_per(page_selfs.get("dist", 0.0) * 1e3, n_pages), "ms")
    out["trace.overhead_ms"] = (overhead_ms, "ms")
    return out
