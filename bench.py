"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

value = total wall-clock over the headline set (lower is better).

Every raw sample, the medians and one ``layers`` record per row go to
``BENCH_detail.json`` beside this file.  A layer record splits the row's
fastest run into its build (the query-function call, eager jobs included)
and its execution (the ``count()``), each with the Spark jobs, tasks,
stages, bytes and spill that ``perfbench.trace.Tracer`` reads from the
status store.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.trace import Tracer  # noqa: E402

HEADLINE = [
    "search_flagship",
    "q1_pricing_summary",
    "q3_top_orders",
    "v2_cosine_topk",
    "ann_ivf_topk",
    "v5_near_dup_pairs",
    "v5_knn_join",
    "v6_entity_resolution",
    "dedup_exact_hash",
    "dedup_minhash_bands",
    "dedup_jaccard_pairs",
    "dedup_simhash",
    "text_stats",
    "text_lang_id",
    "r2_stratified_merge",
    "r6_rerank",
    "r8_tier1_ranking",
    "r9_ema_decay",
    "r11_windowed_counts",
    "f1_acl_filter",
    "g1_pattern_match",
    "g2_two_hop_paths",
    "g12_related_to_edges",
    "st8_tumbling_window",
    "st8_sliding_window",
    "st2_session_windows",
    "st3_context_window",
    "mm_feature_search",
    "search_agentic_flagship",
    "q5_local_supplier_volume",
    "s11_hierarchical_chunks",
    "v1_chunk_embed",
    "text_quality_score",
    "r17_query_classification",
    "dedup_fingerprint",
    "st2_session_memories",
    "v5_bucketed_pairs",
    "v4_ingest_reuse",
    "ann_ivf_persisted",
    "ann_pq_rerank",
    "dedup_simhash_hamming",
    "g8_schema_driven_merge",
    "schema_validation_report",
    "s11_section_hierarchy",
    "feedback_confidence_scores",
    "feedback_engagement_rollup",
    "msg_batch_triggers",
    "g_property_overrides",
    "eval_retrieval_scores",
    "text_repetition_stats",
    "sample_stratified",
    "pii_redaction",
    "contamination_ngram",
    "pack_sequences",
    "prediction_validation",
    # round 4 additions
    "search_spec_pushdown",
    "g15_acl_both_endpoints",
    "graph_triangle_count",
    "v7_content_resolution",
    # round 5 additions (layout/transactional ops; first run builds the cached
    # /tmp layout, so min-of-N times the steady-state read like ann_ivf_persisted)
    "zorder_layout_roundtrip",
    "txn_merge_roundtrip",
    "ann_ivf_spill",
    # round 6 additions (embedding-thresholded G5 — the reworked semantic
    # lookup exercises the budget-routed kNN + G3 fetch end-to-end;
    # SemDeDup — centroid assign + per-cluster applyInPandas prune)
    "g5_semantic_lookup",
    "dedup_semantic_clusters",
    "shard_corpus",
    "lm_quality_scores",
    # round 7 addition (incremental corpus maintenance: stateful
    # exact/MinHash/SemDeDup verdicts for a new batch against persisted
    # state; first run builds the cached /tmp state like ann_ivf_persisted)
    "corpus_increment_dedup",
    # round 7 additions (trainer-layout + corpus-internal dedup signals:
    # token-budgeted prefix-sum sharding, C4 line dedup, ExactSubstr spans)
    "shard_token_budget",
    "dedup_lines",
    "dedup_span_fraction",
    "dedup_span_removal",
    # round 8 additions (Gopher/RefinedWeb per-domain quota, skew-proof;
    # the published Gopher A1.1 quality rule table, scan-side)
    "sample_domain_cap",
    "gopher_quality_flags",
    "gopher_repetition_flags",
    # round 8: oracle-gated 4-stage COMPOSITION (exact dedup -> span removal
    # rewrite -> Gopher gate on rewritten text -> token-budget shards)
    "pipeline_mini",
    # round 9: bloom-prefiltered decontamination (bitmap broadcast + exact
    # refine) and leakage-safe split assignment by dedup-canonical id
    "contamination_bloom",
    "split_leakage_safe",
    # round 10: URL-level crawl dedup (scan-side canonicalization +
    # combinable groupBy — the CCNet/RefinedWeb pass that runs BEFORE
    # content dedup) and WARC/WET ingestion (binaryFile + Arrow kernel,
    # files as the parallelism unit)
    "url_canonical_dedup",
    "warc_ingest_roundtrip",
    # round 10: regex-scoped HTML -> text extraction (the stage between
    # WARC response records and the text operators; pure projection) and
    # the crawl-chain composition (extract -> URL dedup -> quality gate)
    "html_text_extract",
    "crawl_mini",
    # round 11: line-level boilerplate pruning (RefinedWeb §3.1/jusText
    # rules R1-R7 as a pure Column projection; crawl_mini now composes it
    # after its URL dedup)
    "boilerplate_prune",
    # round 11: the WARC "response"-record leg (HTTP header strip +
    # charset sniff + extraction — the raw-Common-Crawl shape)
    "warc_response_extract",
    # round 11: char-trigram language ID (explode + broadcast join +
    # combinable groupBys; micro-integer weights for order-free sums)
    "text_lang_id_ngram",
    # round 12: learned quality classifier (NB log-odds over word
    # unigrams+bigrams; explode + broadcast join + combinable groupBy)
    "quality_classifier",
    # round 12: UT1-style domain-blocklist URL filtering (label-boundary
    # host-suffix match; pure scan-side predicate)
    "url_blocklist_filter",
    # round 12: BPE subword encoding (sentinel-wrapped JVM replace fold;
    # the distributed trainer is test-pinned)
    "bpe_subword_stats",
    # round 12: container-metadata extraction (built fixtures parsed back
    # by the prober — WAV/MP4/MP3 headers only, no payload bytes)
    "mm_media_meta",
    # round 12: quality-aware duplicate-family keeper (CC + struct-argmax
    # groupBy; keeps the best-scored member of each near-dup family)
    "dedup_keep_best_quality",
    # round 12: unicode punctuation folding (replace + translate, pure
    # codegen — the pre-dedup normalization)
    "text_fold_punctuation",
    # round 13: PDF text-layer extraction (builder/parser twins — xref +
    # page-tree + FlateDecode + BT..ET text operators in two Arrow
    # kernels; the processPDF per-page analog)
    "pdf_text_extract",
    # round 13: connector transposition (Slack/Linear events -> memory
    # rows — ts-removal, flatten, id rename, route content rules; one
    # scan-side Arrow kernel)
    "connector_transpose",
    # round 13: trained-BPE token counts driving the shard budget (JVM
    # replace-fold costing + the distributed exact prefix sum)
    "shard_bpe_budget",
    # round 13: content-sniffed multi-format ingest routing (magic-byte
    # MIME table -> pdf/html/txt extractors)
    "file_type_route",
    # round 13: robots.txt URL gating (RFC 9309 core: parse kernel +
    # JVM join/argmax evaluation)
    "robots_gate",
    # round 13: outbound-link host graph (href extraction + resolution
    # as a pure Column projection, one combinable groupBy)
    "link_graph",
    # round 13: sitemap frontier discovery (loc extraction + URL
    # canonicalization, one combinable groupBy)
    "sitemap_frontier",
    # round 14: /ToUnicode CMap decode (writer emits a non-identity byte
    # code + CMap stream; parser reads bfchar/bfrange for real)
    "pdf_cmap_text",
    # round 14: bounded-round crawl-frontier BFS (per-round robots +
    # blocklist gating, seen-set anti-joins, checkpointed lineage)
    "crawl_frontier",
    # round 14: multi-format pipeline capstone (sniff-route -> per-type
    # extraction -> reassembly -> dedup -> word gate -> token shards)
    "pipeline_multiformat",
    # round 14: scanned-page OCR seam (image-XObject detection +
    # resolution; deterministic fake engine in the slot)
    "pdf_ocr_seam",
    # round 14: Sitemap: directives out of robots.txt (Column regex +
    # canonical fold + one groupBy)
    "robots_sitemap_discovery",
    # round 14: per-host politeness waves (skew-proof grouped rank on a
    # hot-host frontier)
    "crawl_politeness_waves",
    # round 14: doc-level fuzzy decontamination (cross-table band join +
    # exact-Jaccard refine; no corpus self-join)
    "fuzzy_decontamination",
    # round 14: anchor-text link extraction (whole-element regex ->
    # href resolution + tag-stripped anchors; one projection + explode)
    "link_anchors",
    # round 14: SURT index keys (label-reversed host sort keys; one
    # scan-side projection)
    "url_surt_keys",
    # round 14: Crawl-delay-aware politeness caps (real parser -> one
    # broadcast delays join on the grouped rank)
    "politeness_crawl_delay",    # r15 additions
    "g15_where_compiler",
    "g15_override_spec",
    "frontier_priority_waves",
    "cdx_index",
    "cdx_revisits",
    "recrawl_due",
    "sft_chat_render",
    "sitemap_index_recursion",
    "dsir_importance_resample",
    "sample_mixture_temperature",
    "sample_mixture_unimax",
    "dpo_preference_pairs",
    "hard_negative_mining",
    "sample_weighted_k",
    "training_mixture_manifest",
    "training_windows",
    "denoise_corruption_spans",
    "shard_balanced_load",
    "ict_positive_pairs",
]


#: per-span fields of a layer record: name -> (job_stats key, divisor);
#: counts have no divisor
_LAYER_FIELDS = {
    "jobs": ("jobs", None),
    "tasks": ("tasks", None),
    "stages": ("stages", None),
    "input_mb": ("input_bytes", 1e6),
    "shuffle_read_mb": ("shuffle_read_bytes", 1e6),
    "shuffle_write_mb": ("shuffle_write_bytes", 1e6),
    "spill_mb": ("spill_bytes", 1e6),
    "executor_run_s": ("executor_run_ms", 1e3),
}


def layer_record(spans: tuple[dict, dict], stats: dict[int, dict]) -> dict:
    """A row's layer record from its (build, exec) spans and
    ``Tracer.job_stats()``.  A span that ran no job has no job_stats entry
    and counts as zero."""
    out = {}
    for part, span in zip(("build", "exec"), spans):
        figs = stats.get(span["id"], {})
        out[part] = {"s": round(span["end"] - span["start"], 3)}
        for field, (key, div) in _LAYER_FIELDS.items():
            v = figs.get(key, 0)
            out[part][field] = v if div is None else round(v / div, 3)
    return out


def time_row(spark, tracer: Tracer, name: str, sf_dir: str,
             runs: int) -> tuple[list[float], tuple[dict, dict], int]:
    """Time one registry row ``runs`` times -> (wall samples, the fastest
    run's (build, exec) spans, row count).  Each run is two spans of
    ``tracer``: ``<name>.build`` around the query-function call, which
    includes any eager jobs the function runs, and ``<name>.exec`` around
    the ``count()``."""
    from memory_opensource_spark.queries import QUERIES

    fn = QUERIES[name]
    samples, spans, n = [], [], 0
    for _ in range(runs):
        t0 = time.time()
        with tracer.span(f"{name}.build") as build:
            df = fn(spark, sf_dir)
        with tracer.span(f"{name}.exec") as run:
            n = df.count()  # forces full execution without driver-side row transfer
        samples.append(round(time.time() - t0, 3))
        spans.append((build, run))
    return samples, spans[samples.index(min(samples))], n


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from memory_opensource_spark.queries import QUERIES
    from memory_opensource_spark.session import get_spark

    spark = get_spark("bench", extra_conf={
        "spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers, then one THROWAWAY real query: the first
    # DataFrame query of a session absorbs ~2s of codegen/analyzer warmup that
    # would otherwise be misattributed to whichever headline runs first
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    QUERIES["v2_cosine_topk"](spark, sf_dir).count()
    # build-phase work stays out of read-path timings: the first
    # ann_ivf_persisted call trains/writes the IVF layout (a write-path cost);
    # the timed run below then measures what serving measures — the pruned read
    QUERIES["ann_ivf_persisted"](spark, sf_dir).count()

    # min-of-N per query: single-shot timings on this container vary up to
    # ~2x with GC/page-cache state (PERF.md round-3 variance measurements);
    # the min is the reproducible cost of the plan, which is what the
    # round-over-round comparison needs.  EVERY raw run is kept in the JSON
    # (queries_raw) so totals can be recomputed under any methodology —
    # single-shot (first run), min, or median — when comparing rounds whose
    # methods differ.  ``--medians N`` (or SPARK_GRAFT_BENCH_RUNS=N) raises
    # the run count; medians are reported alongside the min.
    # min-of-3 since round 5: two identical-code runs at sf0.1 landed 35.5 s
    # and 42.2 s totals purely from container state; a third sample tightens
    # the min's variance at ~45 s extra wall-clock
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    if "--medians" in sys.argv:
        try:
            runs = max(runs, int(sys.argv[sys.argv.index("--medians") + 1]))
        except (IndexError, ValueError):
            print(f"# --medians needs an integer; using {runs} runs", file=sys.stderr)
    tracer = Tracer()
    tracer.bind(spark)
    tracer.active = True
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    raw: dict[str, list[float]] = {}
    best_spans: dict[str, tuple[dict, dict]] = {}
    for name in HEADLINE:
        samples, best_spans[name], n = time_row(spark, tracer, name, sf_dir, runs)
        timings[name] = min(samples)
        medians[name] = round(statistics.median(samples), 3)
        raw[name] = samples
        print(f"# {name}: min {timings[name]:.2f}s median {medians[name]:.2f}s "
              f"({n} rows)", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    # one status-store read after the last row: job_stats walks every job
    # the store holds (~60 ms each over py4j), so a read per row would cost
    # minutes; the session keeps every job of the run for this read
    t0 = time.time()
    stats = tracer.job_stats()
    layers = {name: layer_record(sp, stats) for name, sp in best_spans.items()}
    print(f"# layer records read from the status store in {time.time() - t0:.1f}s",
          file=sys.stderr)
    # Raw samples + medians go to a SIDECAR file, not the final stdout line:
    # inlining them in round 4 pushed the line past the driver's ~2000-char
    # tail capture (BENCH_r04.json parsed: null).  The LAST stdout line must
    # stay compact and parseable — headline totals + 2-decimal per-query mins.
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_detail.json")
    with open(detail_path, "w") as f:
        json.dump({
            "metric": "headline_query_wall_clock_total",
            "value": total,
            "unit": "sec",
            "method": f"min_of_{runs}_runs_per_query",
            "total_median": round(sum(medians.values()), 3),
            "total_first_run": round(sum(v[0] for v in raw.values()), 3),
            "queries": timings,
            "queries_median": medians,
            "queries_raw": raw,
            "layers": layers,
            "sf": float(sf),
        }, f, indent=1)
    print(f"# full raw/median detail written to {detail_path}", file=sys.stderr)

    final = {
        "metric": "headline_query_wall_clock_total",
        "value": total,
        "unit": "sec",
        "method": f"min_of_{runs}_runs_per_query",
        "total_median": round(sum(medians.values()), 3),
        "n_queries": len(timings),
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "sf": float(sf),
    }
    line = json.dumps(final, separators=(",", ":"))
    while len(line) > 1800 and final["queries"]:
        # never risk tail-capture truncation again: drop the FASTEST queries
        # first (the slow ones are the information), note the cut
        keep = sorted(final["queries"], key=final["queries"].get, reverse=True)[:-5]
        final["queries"] = {k: final["queries"][k] for k in keep}
        final["queries_truncated_to_slowest"] = len(keep)
        line = json.dumps(final, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
