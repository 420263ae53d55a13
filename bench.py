#!/usr/bin/env python
"""Benchmark harness (driver contract + BASELINE.md protocol).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line::

    {"metric": "total_headline_sec", "value": N, "unit": "sec",
     "queries": {"linkrank_scores": sec, ...}, "sf": 0.1}

Each query is forced to full materialization with the no-op sink (all
partitions computed, nothing collected to the driver — the realistic
cluster-side cost). One untimed warmup of a tiny query absorbs JVM/session
startup so per-query numbers measure the plan, not Spark init.
"""

from __future__ import annotations

import gc
import json
import os
import re
import subprocess
import sys
import time
import uuid

from giranking_spark.session import get_spark


def _spark_jvm_pids() -> set[str]:
    """PIDs of live Spark JVMs on this machine (cmdline has java + spark).
    Used to stamp the output ``contended`` when another Spark JVM ran at
    any point during the bench — BASELINE.md documents 5-25x degradation on
    the graph family from a concurrent driver tick, so a contended capture
    must never be compared against solo numbers."""
    try:
        out = subprocess.run(
            ["pgrep", "-af", "java"], capture_output=True, text=True,
            timeout=10,
        ).stdout
    except Exception:  # noqa: BLE001 — diagnostics only, never fail bench
        return set()
    return {
        line.split()[0]
        for line in out.splitlines()
        if "spark" in line.lower()
    }

#: fixed-work CPU microbenchmark (machine-speed stamp): the contention
#: sampler sees foreign Spark JVMs but is blind to noisy-neighbor VM
#: slowdown (BASELINE.md documents ~40% day-cycle machine variance; r7
#: recorded a contended:false 52.6 s vs a same-day solo 31.1 s). A
#: single-threaded integer spin of fixed size, sampled per query, makes
#: that swing attributable at read time: machine_factor ≈ 1.0 on the
#: reference-speed machine, >1 when the box is slow for ANY reason.
_SPIN_N = 100_000
#: min-of-5 spin milliseconds measured on a quiet box 2026-08-15 — the
#: pinned denominator, NOT re-calibrated per run (that would defeat it).
_SPIN_REF_MS = 17.2


def _cpu_spin_ms() -> float:
    """Milliseconds for the fixed spin, min of 3 (min rejects scheduler
    preemption inside a sample; sustained slowness still shows)."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(_SPIN_N):
            acc = (acc * 1103515245 + 12345 + i) & 0xFFFFFFFF
        best = min(best, time.perf_counter() - t0)
    return best * 1000.0


# Headline set: one representative per operator family (SURVEY.md §2 +
# extensions). Full registry available via --all.
HEADLINE = [
    "graph_edges",          # scan + join + distinct (graph derivation)
    "linkrank_scores",      # iterative fixpoint + CDF normalize (flagship)
    "hostrank_scores",      # same on host-level graph
    "trustrank_scores",     # trust-seeded variant
    "rank_topk",            # top-k over scores
    "rel_pricing_summary",  # TPC-H Q1-style wide agg
    "rel_top_customers",    # join + group-by + top-k
    "events_window_agg",    # time-window aggregation
    "text_quality",         # text scoring over documents
    "text_bpe_tokens",      # BPE-ish tokenization
    "dedup_exact",          # exact dedup (hash groupBy)
    "dedup_minhash_lsh",    # MinHash+LSH near-dup
    "dedup_minhash_estimate",  # sketch-estimated Jaccard for LSH candidates
    "dedup_ngram_jaccard",  # shared-shingle near-dup with df pruning
    "simsearch_topk",       # brute-force cosine ANN baseline
    "simsearch_ivf",        # IVF-bucketed ANN
    "simsearch_ivf_kmeans", # IVF over the spherical k-means quantizer
    "simsearch_lsh",        # hyperplane-LSH ANN
    "rel_asof_join",        # as-of temporal join (union-tag + window)
    "rel_range_join",       # chunk-bucketed range join
    "stream_window_agg",    # streaming replay: watermarked windows
    "stream_dedup",         # streaming ingestion dedup
    "text_repetition",      # Gopher-style repetition filter signals
    "mm_features",          # multimodal mapInPandas feature extraction
    "graph_components",     # hash-min connected-components fixpoint
    "sample_hash",          # deterministic scan-level sampling
    "sketch_kmv_distinct",  # KMV distinct-count sketch (top-k merge)
    "rel_window_running",   # window-frame running aggregate
    "events_funnel",        # conditional-min funnel
    "text_redact",          # regex PII masking (narrow JVM map)
    "dedup_clusters",       # LSH pairs -> components -> keep-one-per-cluster
    "corpus_pipeline",      # end-to-end filter+dedup training-corpus flow
    "stream_join",          # watermarked stream-stream interval join
    "text_contamination",   # benchmark n-gram leak screen
    "text_seq_pack",        # distributed prefix-sum sequence packing
    "sample_weighted",      # quality-weighted deterministic sampling
    "corpus_domain_cap",    # per-domain token budget (data mixing)
    "rel_profile",          # single-pass column profiler
    "embed_quantize",       # int8 embedding quantization
    "text_chunk",           # token-window document chunking
    "dedup_simhash_pairs",  # banded-hamming SimHash pairing
    "graph_ppr",            # personalized PageRank fixpoint
    "graph_kcore",          # bounded k-core peel
    "rel_merge_upsert",     # full-outer MERGE reconciliation
    "events_sliding_window",  # hopping-window fan-out agg
    "rel_fuzzy_match",      # blocked levenshtein record linkage
    "rel_zorder_layout",    # Morton clustering key computation
    "simsearch_pq",         # product-quantization ADC top-k
    "rel_skew_join",        # salted hot-key fact/dim join
    "dedup_chunks",         # chunk-level exact dedup (first-occurrence keep)
    "dedup_containment",    # asymmetric sub-document duplication screen
    "text_bm25",            # BM25 lexical ranking
    "search_hybrid_rrf",    # lexical+vector reciprocal rank fusion
    "text_bpe_merge",       # BPE tokenizer-training merge step
    "corpus_shuffle",       # deterministic shard/position assignment
    "rel_bloom_join",       # bloom runtime filter + exact semi-join
    "sink_bucketed_join",   # bucketed sink + Exchange-free co-located join
    "rel_grouping_sets",    # explicit grouping-sets lattice
    "graph_sssp",           # weighted Bellman-Ford shortest paths
    "embed_semdedup",       # SemDeDup k-means-cell semantic dedup
    "text_line_dedup",      # C4-style corpus-level boilerplate line removal
    "text_quality_deciles", # curriculum binning without a global window
    "src_partition_pruned", # Hive-layout write + directory-pruned read
    "rel_dpp_join",         # dynamic-partition-pruning star join
    "rel_sql_frontend",     # SQL-text entry point (same Catalyst plan)
    "stream_static_enrich", # stream-static broadcast enrichment
    "events_transitions",   # Markov transition counts (lag window)
    "events_concurrency",   # sweep-line max concurrency
    "events_resample_ffill",# daily grid + forward fill
    "graph_walks",          # deterministic random-walk corpus
    "graph_feature_agg",    # GraphSAGE-style hub-pruned 2-hop aggregation
    "text_pmi",             # PMI collocations over skip-gram cooc
    "dedup_recall_eval",    # LSH recall vs exact-Jaccard ground truth
    "rel_quantile_sketch",  # mergeable 256-bin histogram quantiles
    "sink_sorted_layout",   # range-bucketed sorted write + skipping stats
    "text_backoff_logprob", # bigram stupid-backoff LM fluency scoring
    "sketch_kmv_grouped",   # per-group KMV distinct estimate
    "corpus_dup_rate",      # per-source duplication-rate report
    "graph_adamic_adar",    # hub-pruned Adamic-Adar link prediction
    "sketch_kmv_intersect", # theta-sketch audience-overlap estimate
    "text_entropy",         # char-entropy gibberish detection
    "embed_pca_power",      # PCA top component (integer Gram + power iter)
    "dedup_incremental",    # batch-vs-corpus incremental LSH screen
    "sample_reservoir",     # A-ES fixed-quota weighted sampling
    "rel_interval_join",    # chunk-bucketed interval-overlap join
    "corpus_length_quantiles",  # per-source histogram-sketch P50/P90/P99
    "text_novelty",         # n-gram novelty curve (crawl staleness)
    "events_cusum",         # CUSUM drift/changepoint statistic
    "rel_nearest_join",     # bidirectional nearest-event temporal join
    "sketch_hll_distinct",  # portable HyperLogLog (exact-integer registers)
    "graph_degree_assort",  # degree assortativity from exact integer sums
    "text_ttr",             # type-token ratio lexical-diversity filter
    "embed_outlier_scores", # embedding QC: distance-to-mean outlier screen
    "stream_hll_daily",     # streaming bounded-state HLL distinct per day
    "graph_negative_samples",  # hash-driven negative sampling + rejection
    "graph_modularity",     # Newman modularity of the LPA communities
    "text_bpe_apply",       # BPE merge-table application (tokenizer encode)
    "events_gap_stats",     # per-user inter-event gap P50/P90 diagnostics
    "mm_jpeg_features",     # pure-Python baseline JPEG decode (Huffman+IDCT)
    "mm_png_features",      # stdlib-zlib PNG decode (full filter reconstruction)
    "mm_gif_features",      # pure-Python LZW GIF decode (palette resolution)
    "mm_tiff_features",     # baseline TIFF decode (IFD walk + PackBits strips)
    "mm_webp_features",     # pure-Python VP8L lossless-WebP decode (prefix codes)
    "src_warc_records",     # WARC crawl-archive parse (Arrow pass per archive)
    "warc_cdx_index",       # CDX byte-offset index (per-shard window)
    "warc_link_hosts",      # href extraction -> outlink host aggregation
    "url_robots_filter",    # longest-match robots.txt allow/deny (broadcast)
    "warc_rank_pipeline",   # end-to-end crawl->parse->link graph->LinkRank
    "sketch_countmin",      # Count-Min frequency sketch + point queries
    "simsearch_binary",     # sign-bit quantized Hamming top-k (32x memory cut)
    "text_winnow_fingerprints",  # MOSS winnowing fingerprint sets
    "dedup_winnow_pairs",   # shared-fingerprint near-dup pairs (df-capped)
    "dedup_substring_run",  # exact shared-token-run dedup (diagonal islands)
    "graph_katz",           # Katz centrality fixpoint
    "text_rake_keyphrases", # RAKE keyphrase extraction
    "crawl_opic_scores",    # OPIC batch importance (Nutch scoring semantics)
    "stream_countmin_daily",  # bounded-state streaming frequency sketch
    "embed_matryoshka",     # MRL truncation recall vs full-dim ground truth
    "events_attribution",   # first/last-touch attribution (single RANGE window)
    "rank_warm_restart",    # incremental rank refresh (warm-start fixpoint)
    "simsearch_ivf_pq",     # IVFADC: coarse cells + residual-PQ ADC scoring
    "text_cdc_chunks",      # content-defined chunking (rolling-hash bounds)
    "graph_scc",            # strongly connected components (trim + min-label peel)
    "graph_bowtie",         # Broder bow-tie decomposition (FW-BW pivot closures)
    "text_gopher_rules",    # Gopher doc-level quality rules (map-side filter)
    "text_dsir_weights",    # DSIR hashed-unigram importance weights
    "graph_motifs",         # directed 3-node motif census (wedge equi-joins)
    "events_ewma",          # gap-aware EWMA of daily counts (closed form)
    "text_zipf_slope",      # Zipf rank-frequency OLS fit (vocab-bounded)
    "graph_ktruss",         # iterative triangle-support peel (3-truss)
    "graph_components_star",  # large-star/small-star CC (O(log n) rounds)
    "embed_jl_projection",  # JL +-1 projection with distance-preservation audit
    "stream_ewma_state",    # stateful streaming EWMA (applyInPandasWithState)
    "mm_exif_meta",         # EXIF APP1 extraction (TIFF IFD walk in Arrow pass)
    "sample_dsir_gumbel",   # Gumbel-top-k importance resampling (DSIR select)
    "graph_diameter_est",   # multi-probe eccentricity / diameter lower bound
    "events_pattern_regex", # CEP sequence patterns as regex over type strings
    "rel_geo_join",         # geo-cell bucketed spatial radius join (haversine)
    "events_variant_extract",  # Spark 4 VARIANT semi-structured access
    "events_welch_ttest",   # Welch unequal-variance A/B readout
    "rel_benford_digits",   # Benford first-digit forensic screen
    "sample_neyman",        # Neyman optimal-allocation stratified sampling
    "events_rfm",           # RFM quintile segmentation (ntile windows)
    "graph_hyperball",      # HyperBall neighborhood function (iterated HLL counters)
    "graph_harmonic",       # harmonic centrality from HyperBall ball deltas
    "crawl_robots_parse",   # robots.txt parse out of WARC bytes (running-window groups)
    "mm_webp_meta",         # decode-free WebP header scan (pure JVM byte math)
    "crawl_host_politeness",# frontier drain plan (n_urls x parsed crawl-delay)
    "events_holt_winters",  # Holt linear-trend fold (JVM aggregate recursion)
    "mm_image_histogram",   # per-channel histograms from real PNG decode
    "crawl_sitemap_diff",   # sitemap frontier discovery (string anti-join)
    "src_xml_roundtrip",    # Spark 4 native XML write/read (entity escaping)
    "rel_unpivot",          # UNPIVOT/melt (single Expand, not per-column unions)
    "events_anomaly_seasonal",  # day-of-week seasonal anomaly screen (exact ints)
    "graph_coreness",       # full core decomposition (phased peel)
    "graph_betweenness",    # pivot-sampled Brandes betweenness (bounded depth)
    "graph_closeness",      # HyperBall closeness substrate (exact micro-ints)
    "rel_table_fingerprint",# order-independent XOR reconciliation hash
    "events_did",           # difference-in-differences A/B readout (exact cells)
    "events_survival_km",   # Kaplan-Meier retention curve (product-limit fold)
    "mm_wav_meta",          # decode-free WAV header scan (JVM byte math)
    "rel_k_anonymity",      # k-anonymity quasi-identifier audit
    "corpus_dataset_card",  # per-(source, lang) dataset-card roll-up
    "events_assoc_rules",   # market-basket support/confidence/lift
    "events_bootstrap_ci",  # deterministic Poisson-bootstrap CI (no RNG)
    "src_fixed_width",      # fixed-width (mainframe) text roundtrip
    "mm_webp_lossy_meta",   # lossy-VP8 frame tag/dims scan (pure JVM byte math)
    "mm_webp_lossy_header", # bool-decoded VP8 header (quality/filter audit)
    "events_mann_whitney",  # exact-integer rank-sum A/B readout
    "events_path_topk",     # top-k navigation paths (Sankey feed)
    "events_gaps_islands",  # per-user activity streak census
    "graph_bipartite_project",  # supplier co-purchase projection (wedge join)
    "mm_avi_meta",          # decode-free AVI header scan (pure JVM byte math)
    "text_hashing_vectorizer",  # hashing-trick featurization (no vocab state)
    "sketch_bloom_fpp",     # bloom build + exact measured FPP
    "embed_knn_graph",      # label-blocked exact kNN graph + mutuality
    "graph_rich_club",      # rich-club coefficient curve (one edge pass)
    "text_heaps_law",       # vocabulary-growth curve (min-bucket prefix sum)
    "text_burstiness",      # VMR word dispersion (exact integers)
    "rel_cdc_hashdiff",     # snapshot delta census via row digests
    "events_lorenz_gini",   # activity concentration (exact-integer Gini)
    "embed_silhouette",     # clustering QC (micro-int centroid silhouette)
    "text_tokenizer_fertility",  # tokens/word + chars/token by language
    "text_code_detect",     # code-vs-prose routing signals
    "embed_centroid_drift", # snapshot centroid drift monitor
    "rel_interval_coalesce",# overlapping-interval merge (covered time)
    "graph_reciprocity",    # directed-edge reciprocity share
    "events_autocorr",      # lag-1..7 daily-count ACF (exact-int Pearson)
    "events_late_arrivals", # watermark lateness audit per stream
    "rel_fk_orphans",       # referential-integrity orphan census
    "sketch_hll_error_eval",# HLL estimate vs exact ground truth
    "mm_format_detect",     # magic-byte container dispatch (mixed assets)
    "events_time_to_convert",  # conversion-latency percentiles
    "events_dau_mau",       # monthly stickiness ratio
    "simsearch_maxdot",     # exact MIPS top-k baseline
    # round 9
    "events_retention_cohort",   # weekly cohort retention triangle
    "events_markov_chain",       # event-type transition matrix
    "events_rfm_segment",        # RFM ntile quintile segmentation
    "events_step_attribution",   # last-touch conversion attribution
    "events_power_users_gap",    # exact median inter-event gaps
    "rel_skyline_2d",            # Pareto front via window passes
    "rel_scd2_snapshot",         # SCD2 as-of reconstruction
    "rel_theta_band_join",       # banded equi-join rewrite of a theta join
    "rel_watermark_dedup",       # in-window vs late duplicate audit
    "rel_bitemporal_asof",       # valid-time x transaction-time as-of
    "graph_wcc_bfs_layers",      # BFS expansion curve
    "graph_ecc_sample",          # multi-probe bounded eccentricity
    "graph_local_bridges",       # span>2 weak-tie edges
    "text_shingle_novelty",      # per-slice never-seen shingle share
    "text_kgram_profile_js",     # char-3gram Jensen-Shannon drift
    "text_simhash_hamming_hist", # simhash threshold calibration histogram
    "sketch_theta_intersect",    # theta-sketch audience intersection
    "mm_png_filters",            # PNG per-scanline filter census
    "events_benford",            # first-digit fabricated-data screen
    "events_anomaly_mad",        # robust MAD daily anomaly screen
    "events_user_entropy",       # behavioral-diversity entropy (nano-int terms)
    "graph_degree_gini",         # degree-distribution inequality
    "graph_transitivity",        # wedges vs triangles closure ratio
    "text_char_entropy",         # corpus char entropy (bits/char)
    "embed_recall_at_k",         # IVF ANN recall@k vs exact baseline
    "embed_norm_stats",          # embedding L2-norm ingest QC
    "sketch_cms_error_eval",     # Count-Min eps*N guarantee census
    "graph_degree_corr_io",      # hub/authority overlap Pearson
    "events_weekday_profile",    # dow counts + chi-square uniformity
]


# The FIXED 16-query set every recorded bench since BASELINE has carried
# (BENCH_r01/r02 'queries' keys): the headline list grows round over round,
# so only the subtotal over THIS set is comparable to BASELINE.md's 89.3 s.
BASELINE16 = [
    "graph_edges", "linkrank_scores", "hostrank_scores",
    "trustrank_scores", "rank_topk", "rel_pricing_summary",
    "rel_top_customers", "events_window_agg", "text_quality",
    "text_bpe_tokens", "dedup_exact", "dedup_minhash_lsh",
    "simsearch_topk", "simsearch_ivf", "stream_window_agg",
    "mm_features",
]


def _force(df) -> int:
    """Materialize every partition without driver collect."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def _boot_id() -> str:
    """Kernel boot UUID — distinguishes runs on different machines (or the
    same machine across reboots) in the committed record."""
    try:
        with open("/proc/sys/kernel/random/boot_id") as f:
            return f.read().strip()
    except OSError:
        return "unknown"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    run_all = "--all" in sys.argv
    # run provenance (r12 verdict): two same-box records once summed to the
    # same 0.001 s over 224 queries and NOTHING in the artifacts could prove
    # they were distinct runs. A fresh UUID + boot id + pid + per-query
    # epoch spans make any two records trivially distinguishable.
    run_id = str(uuid.uuid4())
    run_started = time.time()

    pre_jvms = _spark_jvm_pids()
    spark = get_spark("giranking-bench")
    spark.sparkContext.setLogLevel("ERROR")
    own_jvms = _spark_jvm_pids() - pre_jvms
    foreign_seen: set[str] = set(pre_jvms)

    import __spark_entry__ as entry

    qs = entry.queries()
    names = sorted(qs) if run_all else [n for n in HEADLINE if n in qs]
    # SPARK_GRAFT_BENCH_SET=base16 runs ONLY the baseline-comparable set —
    # the full headline now outlasts the round driver's ~900 s tick
    # interval, so a full run is always contended; the 16-query subset
    # fits inside one tick window for a clean comparable number
    if os.environ.get("SPARK_GRAFT_BENCH_SET") == "base16":
        names = [n for n in BASELINE16 if n in qs]
    # SPARK_GRAFT_BENCH_ONLY=a,b,c — targeted solo re-measure of specific
    # queries (regression triage) without paying for the whole headline
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        requested = [n for n in only.split(",") if n]
        unknown = sorted(set(requested) - set(qs))
        if unknown:
            print(f"# ERROR: SPARK_GRAFT_BENCH_ONLY names not in registry: "
                  f"{','.join(unknown)}", file=sys.stderr)
            sys.exit(2)
        names = requested

    # warmup: absorb session/codegen startup cost
    _force(qs["graph_vertices"](spark, sf_dir))

    # BASELINE.md protocol: median of N reps for the baseline-comparable
    # 16-query set (run-to-run variance is ~2x for the iterative queries, so
    # single-rep deltas there are mostly noise); 1 rep for the rest of the
    # 60+-query headline keeps total bench wall ≈ 3 min instead of ~10
    # (the driver runs this under a time budget). SPARK_GRAFT_BENCH_REPS
    # overrides BOTH.
    reps_env = os.environ.get("SPARK_GRAFT_BENCH_REPS")
    timings: dict[str, float] = {}
    reps_used: dict[str, int] = {}
    machine_factors: dict[str, float] = {}
    spans: dict[str, list[float]] = {}
    for name in names:
        if reps_env:
            reps = max(int(reps_env), 1)
        else:
            reps = 3 if name in BASELINE16 else 1
        samples = []
        q_start = time.time()
        for _ in range(reps):
            t0 = time.perf_counter()
            _force(qs[name](spark, sf_dir))
            samples.append(time.perf_counter() - t0)
            # release cached/localCheckpoint blocks BETWEEN reps (outside the
            # timed window): ContextCleaner only frees a superseded
            # localCheckpoint after a JVM GC notices the dead reference, and
            # back-to-back reps never leave it time — measured: the forced
            # System.gc() turns linkrank reps [13.0, 8.3, 14.2] into
            # [8.4, 7.7, 7.7] and graph_ppr [7.8, 16.3, 18.6] into
            # [7.5, 6.0, 5.8]
            spark.catalog.clearCache()
            gc.collect()
            spark.sparkContext._jvm.System.gc()
        timings[name] = round(sorted(samples)[len(samples) // 2], 3)
        reps_used[name] = reps
        # wall-clock epoch span of this query's reps (provenance: two
        # records of distinct runs can never share these)
        spans[name] = [round(q_start, 3), round(time.time(), 3)]
        # sample for foreign Spark JVMs after EVERY query — endpoint-only
        # sampling missed a driver tick that started and exited mid-run
        # (r7: a 40% uniform slowdown stamped contended:false)
        foreign_seen |= _spark_jvm_pids() - own_jvms
        # machine-speed sample next to the query's own timing: >1.0 means
        # the box ran slower than the pinned reference while THIS query's
        # neighborhood executed, regardless of what caused it
        machine_factors[name] = round(_cpu_spin_ms() / _SPIN_REF_MS, 2)
        print(
            f"# {name}: {timings[name]:.3f}s"
            f" (machine_factor {machine_factors[name]:.2f})",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    sub16 = round(sum(timings.get(n, 0.0) for n in BASELINE16), 3)
    mf_sorted = sorted(machine_factors.values())
    mf_median = round(mf_sorted[len(mf_sorted) // 2], 2) if mf_sorted else None
    mf_max = round(mf_sorted[-1], 2) if mf_sorted else None
    # contended if a foreign Spark JVM was seen before, during (sampled
    # per query), or after the run
    contended = bool(foreign_seen or (_spark_jvm_pids() - own_jvms))
    # Full per-query map + reps goes to a sidecar file: with ~95 headline
    # queries the one-line JSON grew past what the driver's tail capture
    # keeps, so BENCH_r03/r04 recorded "parsed": null.  The LAST stdout line
    # is now a compact summary (totals + the 10 slowest queries) that always
    # fits; bench_full.json carries the complete data for humans/CI.
    full = {
        "metric": "total_headline_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_queries": len(timings),
        "subtotal_baseline16_sec": sub16,
        "contended": contended,
        # run provenance: UUID fresh per invocation, kernel boot id, driver
        # pid, run + per-query epoch spans — self-proving run identity
        "run_id": run_id,
        "boot_id": _boot_id(),
        "pid": os.getpid(),
        "run_started_epoch": round(run_started, 3),
        "run_ended_epoch": round(time.time(), 3),
        "query_spans_epoch": spans,
        # reps per query: entries with reps=1 are single-rep (cold) numbers —
        # round-over-round diffs on those chase cold-start noise; only the
        # median-of-3 BASELINE16 entries are comparison-grade
        "reps": reps_used,
        # machine-speed stamp (per query + summary): spin-ms / pinned
        # reference — 1.0 = reference-speed machine; compare timings across
        # runs only after normalizing by this
        "machine_factor": machine_factors,
        "machine_factor_median": mf_median,
        "machine_factor_max": mf_max,
    }
    # r14 (VERDICT #8): promote the 8-core insight into the record. When a
    # low-core companion record exists (SPARK_GRAFT_BENCH_C8_REPORT names
    # its bench_full sidecar), stamp per-query t_low/t_this ratios into the
    # full sidecar — ratio ≈ 1 (or < 1) marks a query that is scheduling/
    # JVM-overhead bound at this SF, whose wall cannot speak to the 100 TB
    # posture. Additions-only: the one-line stdout contract is unchanged.
    c8_path = os.environ.get("SPARK_GRAFT_BENCH_C8_REPORT")
    if c8_path and os.path.exists(c8_path):
        try:
            with open(c8_path) as f:
                c8 = json.load(f)
            c8_q = c8.get("queries", {})
            full["low_core_companion"] = {
                "path": os.path.basename(c8_path),
                "run_id": c8.get("run_id"),
                "cpus_low": c8.get("cpus"),
                # t_low / t_this per common query; < ~1.3 at 8-vs-32 cores
                # means the query barely uses the extra parallelism here
                "ratio_low_over_this": {
                    k: round(c8_q[k] / v, 2)
                    for k, v in timings.items()
                    if k in c8_q and v > 0
                },
            }
        except (OSError, ValueError, ZeroDivisionError):
            pass  # provenance-only; never fail the bench
    try:
        full["cpus"] = int(os.environ.get("SPARK_GRAFT_CPUS", ""))
    except ValueError:  # unset or not a number
        full["cpus"] = None
    sidecar = (
        "bench_full_base16.json"
        if os.environ.get("SPARK_GRAFT_BENCH_SET") == "base16"
        else "bench_full.json"
    )
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           sidecar), "w") as f:
        json.dump(full, f, indent=1)
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    print(json.dumps({
        "metric": "total_headline_sec",
        "value": total,
        "unit": "sec",
        "queries": slowest,
        "sf": sf,
        "n_queries": len(timings),
        "subtotal_baseline16_sec": sub16,
        "contended": contended,
        "machine_factor_median": mf_median,
        "machine_factor_max": mf_max,
        "run_id": run_id,
        "boot_id": _boot_id(),
        "run_started_epoch": round(run_started, 3),
        "run_ended_epoch": round(time.time(), 3),
        "queries_are_top10_slowest": True,
        "full_report": "bench_full.json",
    }))


if __name__ == "__main__":
    main()
