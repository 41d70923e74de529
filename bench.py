#!/usr/bin/env python3
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:  {"metric": ..., "value": N, "unit": "sec", "queries":
{...}, "sf": ...}.

Each query is executed once warm (after a small warm-up action so JVM/
codegen startup isn't billed to the first query) and timed to full
materialization (count / collect of the final result).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from tubes_spark.session import get_spark

HEADLINE = [
    # one per operator family — mirrors BASELINE.md's budget rows
    "flagship_pricing_summary",   # fold/agg family
    "map_net_price",              # stateless map
    "filter_pushdown",            # stateless filter
    "merge_interleave",           # concat/merge family
    "running_user_sum",           # stateful running fold
    "join_broadcast_parts",       # broadcast join
    "q3_shipping_priority",       # multi-join + topk
    "q5_nation_revenue",          # 6-table join
    "asof_purchase",              # as-of join
    "tumbling_hourly",            # event-time window
    "session_30m",                # session window
    "dedup_exact_docs",           # dedup exact
    "dedup_minhash_survivors",    # dedup minhash LSH
    "dedup_simhash_survivors",    # dedup simhash
    "knn_bruteforce",             # similarity search (exact)
    "knn_lsh_approx",             # similarity search (LSH)
    "text_quality",               # text analysis
    "text_tfidf_top_terms",       # text: tf-idf ranking
    "text_winnow_fingerprints",   # text: rolling-hash fingerprints
    "q7_nation_volume",           # many-join volume rollup
    "q18_large_orders",           # having-on-grouped-sum + join
    "orders_above_cust_avg",      # decorrelated scalar subquery
    "q8_market_share",            # 7-table join, dims broadcast
    "rollup_hour_day_week",       # multi-resolution rollup (exchange reuse)
    "interval_join_views_purchases",  # range join on equi-key carrier
    "quantiles_by_priority",      # exact percentiles per group
    "sketch_distinct_users",      # HLL++ sketch
    "lag_user_value_delta",       # lead/lag analytic window
    "knn_ivf_approx",             # similarity search (IVF)
    # round 2: TPC-H completion + dataset-curation ops
    "q2_min_cost_supplier",       # correlated-min window + dim chain
    "q21_sole_return_supplier",   # double-correlation as one grouped agg
    "split_train_test_hash",      # reproducible hash split
    "quality_repetition_ratio",   # repetition quality screen
    "embedding_centroids",        # per-label centroid update step
    # round 3: radius-banded simhash, union-find dedup, dynamic channel
    "dedup_simhash_near_survivors",   # simhash LSH at hamming radius 2
    "dedup_minhash_cc_survivors",     # connected-components survivor policy
    "dynamic_channel_route",          # per-row dynamic channel (escape hatch)
    "decontaminate_ngram",            # benchmark n-gram decontamination
    "pack_sequences_bins",            # training sequence packing
    "docs_length_band",               # percentile length filter
    "semantic_dedup_survivors",       # SemDeDup k-means-cell dedup
    "ann_radius_neighbors",           # cosine range search
    "sample_per_lang_hash",           # deterministic per-group sample
    "shard_assign_stats",             # deterministic training-shard split
    "decontaminate_minhash",          # near-dup cross-corpus decon
    "partitioned_io_pruned",          # hive-partitioned write + pruned read
    # round 4: LM-quality scoring, mixing, CDC, distributed IVF
    "quality_unigram_logprob",        # unigram LM quality score
    "quality_bigram_logprob",         # bigram LM quality score
    "mix_sources_token_budget",       # per-source token-budget mixing
    "top_bigrams_global",             # corpus heavy hitters (exact top-k)
    "cdc_scd2_intervals",             # SCD2 change-log compaction
    "knn_ivf_distributed",            # IVF ANN w/ distributed k-means trainer
    "streaming_sliding_10m",          # sliding window through the stream engine
    "dsir_importance_weights",        # DSIR hashed-ngram importance weighting
    "sample_weighted_per_source",     # Efraimidis-Spirakis weighted sample
    "dedup_incremental_new_docs",     # incremental dedup vs seen-set
    "dedup_incremental_minhash",      # incremental NEAR-dedup vs persisted index (r10)
    "streaming_dedup_incremental_minhash",  # the same loop as micro-batch triggers (r10)
    "orc_format_roundtrip",           # ORC sink/source fidelity (r10)
    "simhash_band_cap_stats",         # simhash cap FIRING under the gate (r11)
    "streaming_dedup_incremental_survivors",  # survivor-anchored index policy (r11)
    "ann_incremental_semantic_dedup",  # persisted vector index screen (r11)
    "ann_kmeans_semantic_dedup",      # trained-codebook vector index (r12)
    "ann_incremental_survivors",      # survivor-anchored ANN appends (r12)
    "ann_nprobe_boundary_recall",     # IVF nprobe recall dial (r12)
    "streaming_ann_incremental_dedup",  # ANN index loop as micro-batches (r12)
    "ann_rebuild_semantic_dedup",     # rebuild arm: re-seed from the cells leaf (r13)
    "streaming_ann_nprobe_dedup",     # n_probe=2 under micro-batch maintenance (r13)
    "ann_kernel_parity",              # matmul kernel vs expr kernel under the gate (r13)
    "cluster_balanced_sample",        # per-cell prototype curation draw (r13)
    "hard_negative_mining",           # within-cell cross-label contrastive mining (r13)
    "index_hard_negative_mining",     # mining against the payload-carrying index (r13)
    "index_topk_search",              # persisted-index top-k serving path (r13)
    "index_filtered_topk",            # metadata-filtered retrieval, pre-rank filter (r13)
    "streaming_index_topk",           # serving under micro-batch triggers (r13)
    "ann_index_stats",                # inverted-list histogram observability (r13)
    "ann_index_delete",               # tombstone + purge right-to-be-forgotten (r13)
    "index_pq_topk",                  # PQ-compressed serving index, 32x smaller leaf (r13)
    "streaming_funnel_conversions",   # keyed-arbitrary-state funnel detection
    "gapfill_hourly_counts",          # dense time-series gap filling
    "unpivot_doc_metrics",            # wide-to-long melt
    "approx_top_tokens",              # SpaceSaving mergeable heavy hitters
    "source_kl_divergence",           # per-source distribution drift (KL)
    "knn_pq_rerank",                  # PQ-ADC two-stage ANN (32x compressed index)
    "grouping_sets_priority_flag",    # explicit GROUPING SETS + grouping_id
    "orders_price_percentile",        # percent_rank / cume_dist windows
    "ewma_user_values",               # per-key EWMA recurrence (applyInPandas)
    "multimodal_png_dims",            # oracle-gated media header round-trip
    "multimodal_frame_sample",        # frame-sampling fan-out (explode plan)
    # round 5: real pixel decode, eviction-bound sketch, watermark late data
    "multimodal_bmp_mean_rgb",        # stdlib BMP pixel decode -> mean RGB
    "approx_top_tokens_eviction_bound",  # SpaceSaving bounds under eviction
    "streaming_late_data",            # watermark late-row drops (oracle-gated)
    # round 5: oracle-gated verification twins, stream-static ops, frames
    "dedup_minhash_arith_survivors",  # md5-family MinHash LSH (hash-gated)
    "dedup_simhash_arith_survivors",  # md5-family SimHash (hash-gated)
    "text_winnow_arith_fingerprints", # md5-family winnowing (hash-gated)
    "rolling_1h_user_value",          # per-event trailing RANGE frame
    "streaming_dedup_watermark",      # cross-batch dropDuplicatesWithinWatermark
    "streaming_enrich_static",        # stream-static broadcast enrichment
    "streaming_upsert_latest",        # foreachBatch CDC-apply upsert
    "array_hof_doc_stats",            # higher-order array-function battery
    "datetime_funcs_events",          # calendar-function battery
    "percentile_approx_bound_check",  # quantile sketch rank-error contract
    "approx_distinct_bound_check",    # HLL++ 3-sigma error contract
    "custom_source_arith_events",     # Python DataSource V2 connector scan
    "chunk_documents_ctx",            # context-window chunking (size 64/stride 48)
    "embedding_sq8_roundtrip",        # SQ8 scalar quantization round trip
    "build_vocab_ids",                # frequency-ranked vocabulary build
    "zorder_key_events",              # Z-order multi-column layout key
    "ansi_try_funcs",                 # error-safe expression battery
    "bpe_first_merges",               # distributed BPE pair statistics
    "multimodal_image_ahash",         # perceptual hash over decoded pixels
    "multimodal_audio_energy",        # PCM decode + windowed energy
    "export_manifest_shards",         # chunk -> shard manifest rollup
    # round 5b: curation depth + physical layout + binned ranges
    "gopher_quality_flags",           # Gopher pre-filter rule battery
    "boilerplate_shingle_flags",      # cross-corpus frequent-5-gram flags
    "vocab_oov_rate",                 # tokenizer coverage QA
    "ngram_cosine_top_pairs",         # inverted-index sparse cosine
    "closest_pair_levenshtein",       # banded edit-distance argmin
    "contiguous_global_ids",          # dense ids w/o global-sort exchange
    "shuffle_shards_manifest",        # reproducible training shuffle
    "binned_interval_counts",         # no-equi-key range join via bins
    "bpe_encode_corpus",              # BPE train (20 iters) + encode chain
    "ivf_assign_cells",               # ANN index maintenance (cell assign)
    "curriculum_phases",              # percentile-boundary curriculum split
    "cms_token_frequencies",          # Count-Min sketch + overcount bound
    "bloom_decontaminate_check",      # Bloom membership + FN guarantee
    "doc_centrality_pagerank",        # 6-iteration PageRank on sim graph
    "jaccard_exact_prefix_join",      # PPJoin-style exact set-similarity join
    "funnel_3step_batch",             # 3-step ordered pattern match
    # round 5c: relational-surface completers + curation/retrieval depth
    "pivot_priority_by_year",         # long->wide pivot, pinned value list
    "cube_pricing_lattice",           # full CUBE lattice + grouping_id
    "window_funcs_battery",           # lag/lead/ntile/pct_rank/nth_value
    "setops_buyer_cohorts",           # intersect/except cohort algebra
    "anomaly_daily_spikes",           # exactness-safe per-key anomaly screen
    "inverted_index_postings",        # term->postings retrieval index
    "split_train_val_test",           # deterministic 80/10/10 split
    "retention_cohorts_weekly",       # cohort retention triangle
    "pii_redaction_scrub",            # email/phone/IP redaction (map-only)
    "url_domain_blocklist",           # URL parse + broadcast blocklist
    "span_scrub_exact_substrings",    # ExactSubstr span removal + reassembly
    "phrase_search_positions",        # positional-index phrase search
    "graph_triangle_rare_shingles",   # triangle counting on sparse sim graph
    "repetition_signals",             # within-doc Gopher repetition metrics
    "text_formats_roundtrip",         # JSONL/CSV encode-decode reconcile
    "minhash_estimate_error",         # sketch-vs-exact accuracy contract
    "asof_next_event",                # forward as-of via FOLLOWING frame
    "graph_bfs_hops",                 # frontier BFS on near-dup graph
    "bm25_search_scores",             # BM25 retrieval scoring
    "markov_event_transitions",       # behavioral transition matrix
    "stats_corr_regression",          # exact-moment corr/OLS per group
    "schema_evolution_union",         # by-name union across schema gens
    "langid_confusion_matrix",        # langid accuracy audit matrix
    "winsorize_event_values",         # exact-percentile outlier clipping
    "debounce_user_events",           # keyed-gap telemetry de-noising
    "embedding_outlier_screen",       # cosine-to-centroid quality gate
    "unicode_nfc_normalize",          # Arrow-batched unicodedata NFC pass
    # round 6: last codec stub killed, bucketed-table path, incremental merge
    "multimodal_png_ahash",           # real PNG encode/decode (all 5 filters)
    "bucketed_dedup_enrich_join",     # bucketBy write + shuffle-free joins
    "streaming_merge_interleaved_events",  # incremental reference interleave
    "tombstone_delete_propagation",   # right-to-be-forgotten + audit
    "custom_sink_manifest_roundtrip", # write-side connector 2-phase commit
    "pipeline_curation_end_to_end",   # dedup->gate->chunk->manifest, one DAG
    "session_dynamic_gap",            # per-event-type gap sessionization
    "streaming_session_dynamic",      # dynamic-gap sessions via state store
    "temperature_mixture_sample",     # alpha-temperature source sampling
    # round 7: bounded streaming state, join-matrix completion, JPEG
    "streaming_ttl_sessions",         # EventTimeTimeout eviction, oracle-gated
    "streaming_full_outer_join",      # last cell of the streaming join matrix
    "dedup_minhash_arith_cc_survivors",  # full dedup pipeline under the gate
    "multimodal_jpeg_ahash",          # real baseline JPEG entropy roundtrip
    "streaming_topk_spacesaving",     # heavy hitters in bounded keyed state
    # round 8
    "streaming_fold_evicted",         # raw fold eviction under the hash gate
    "multimodal_adpcm_energy",        # real IMA-ADPCM decode, CTE-replayed
    "skew_salted_enrich_join",        # salted join path under the hash gate
    "url_canonical_dedup",            # crawl-stage URL canonicalize+dedup
    "dedup_cc_best_quality_survivors",  # quality-argmax survivor per cluster
    "split_leakage_safe_by_cluster",  # cluster-hashed leakage-safe split
    "domain_mixture_weights",         # sqrt-rebalanced domain mixing
    "ccnet_rarity_buckets",           # integer-exact CCNet tertiles
    "atomic_multisink_roundtrip",     # cross-sink atomic visibility
    "dedup_span_coverage",            # ExactSubstr duplicated-span analysis
    "dedup_span_rewrite",             # ExactSubstr scrub + rebuilt-text hash
    "quality_hashed_linear_score",    # hashed linear (fastText-shaped) gate
    "curation_funnel_attribution",    # per-doc drop-stage/rule attribution
    "chunk_content_defined",          # shift-invariant CDC chunk store
    "pipeline_stage_memoized",        # fingerprint-keyed stage reuse
    # round 9
    "streaming_fold_rocksdb",         # keyed fold on the RocksDB state store
    "dedup_band_cap_stats",           # band-cap candidate-growth accounting
    "record_linkage_entities",        # blocked fuzzy linkage + CC entities
    "k_anonymity_generalize",         # k-anonymity generalization ladder
    "rag_hybrid_rrf",                 # hybrid BM25+QL retrieval, RRF fusion
    "lm_stupid_backoff_filter",       # bigram LM perplexity curation filter
    "layout_zorder_skipping",         # Morton layout + zone-map skipping
    "retrieval_eval_metrics",         # recall/MRR/nDCG over the hybrid legs
    "gdpr_delete_roundtrip",          # atomic right-to-be-forgotten rewrite
    "cdc_upsert_roundtrip",           # MoR upsert + tombstones + CoW flip
    "streaming_cdc_upsert",           # MoR upsert through real triggers
    "dp_noisy_group_counts",          # seeded Laplace mechanism + eps ledger
    "bootstrap_poisson_ci",           # one-pass Poisson bootstrap CI
    "retrieval_hard_negatives",       # DPR-style hard-negative mining
    "psi_drift_monitor",              # PSI drift bands, densified bins
    "pit_feature_join",               # bitemporal PIT join + leak flags
    "l_diversity_audit",              # homogeneity-attack audit of the release
    "compression_ratio_quality",      # zlib curation signal (Arrow batches)
]

# queries deriving a session-shared structure (queries._session_cached):
# name -> shared-structure tag.  The bench reports COLD (structure
# rebuilt) and MARGINAL (structure cached) separately, and bills the
# build to the FIRST consumer only — the honest session-level account
# (VERDICT-r6 #9: a cached best-of-N is not a plan win).
GRAPH_FAMILY = {
    "ngram_cosine_top_pairs": "trigram_sim",
    "doc_centrality_pagerank": "trigram_sim",
    "graph_triangle_rare_shingles": "rare_shingles",
    "graph_bfs_hops": "rare_shingles",
}

# r13: queries whose final plan Catalyst PRUNES under a bare .count()
# by eliminating a join (left join against a per-key aggregate whose
# keys are provably distinct, or a join feeding only dropped columns) —
# a count() times LESS work than producing the result.  Detected by
# comparing optimized-plan join counts between `df` and
# `df.groupBy().count()` over the full battery (the ANN/MinHash ledger
# queries are NOT here: ANN ledgers localCheckpoint(eager) inside the
# query fn, MinHash verdicts end in a count-relevant anti-join).  The
# primary `queries` timings keep the count() action for cross-round and
# BASELINE comparability; these 13 are ALSO timed under a noop write
# (full materialization of every column) and recorded in the payload's
# `noop_restate` block so both numbers are on the record.
COUNT_ELIMINATED = [
    "bloom_decontaminate_check",
    "boilerplate_shingle_flags",
    "dedup_span_coverage",
    "dedup_span_rewrite",
    "dsir_importance_weights",
    "gapfill_hourly_counts",
    "minhash_estimate_error",
    "psi_drift_monitor",
    "retrieval_eval_metrics",
    "simhash_band_cap_stats",
    "span_scrub_exact_substrings",
    "tombstone_delete_propagation",
    "vocab_oov_rate",
]


def _force(df) -> None:
    """Materialize every column of every row (noop datasource write)."""
    df.write.format("noop").mode("overwrite").save()


def _make_trigger_listener(spark):
    """Record streaming micro-batch progress PER QUERY ID engine-side,
    so the sidecar can report {triggers, sec_per_trigger, state_rows,
    state_memory_used_bytes} for every streaming bench row (VERDICT-r8
    #8 + r9 #7): the slowest bench queries are multi-trigger drains
    whose wall time is fixed per-trigger overhead, and a per-trigger or
    state-size regression must not hide behind a trigger-count change.

    ADVICE r9 (bench.py:338): attribution is by the progress event's
    OWN query id — a concurrently running stream can no longer inflate
    another row's count — and the reader polls until the recorder goes
    quiet instead of trusting a fixed sleep on the async listener bus.
    Returns the recorder or None if the listener API is unavailable."""
    try:
        from pyspark.sql.streaming import StreamingQueryListener
    except ImportError:
        return None
    import json as _json
    import threading

    class _Recorder(StreamingQueryListener):
        def __init__(self):
            self._lock = threading.Lock()
            self.triggers: dict = {}  # qid -> progress-event count
            self.state: dict = {}     # qid -> latest state-operator sums
            self.started: set = set()  # qids ever started (row ownership)

        def onQueryStarted(self, event):
            # ADVICE r10: a prior streaming row's late progress events
            # (draining past its 3s stable window) must not leak into
            # the next row — rows own exactly the query ids STARTED
            # during them.  The listener bus is FIFO, so a query's
            # Started event is always processed before its Progress.
            with self._lock:
                self.started.add(str(event.id))

        def onQueryProgress(self, event):
            try:
                d = _json.loads(event.progress.json)
            except Exception:
                return
            qid = str(d.get("id"))
            with self._lock:
                self.triggers[qid] = self.triggers.get(qid, 0) + 1
                so = d.get("stateOperators") or []
                if so:
                    self.state[qid] = {
                        "state_rows": sum(o.get("numRowsTotal") or 0 for o in so),
                        "state_memory_used_bytes": sum(
                            o.get("memoryUsedBytes") or 0 for o in so
                        ),
                    }

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def snapshot(self) -> dict:
            with self._lock:
                return dict(self.triggers)

        def row_mark(self) -> dict:
            """Row-start mark: trigger counts so far + the qids already
            started — row_detail intersects against both, so a query id
            born before the row can never bill it."""
            with self._lock:
                return {
                    "triggers": dict(self.triggers),
                    "started": set(self.started),
                }

        def _stable_snapshot(self, timeout: float = 3.0) -> dict:
            """Poll until two consecutive reads agree (the bus drained)."""
            prev = self.snapshot()
            deadline = time.time() + timeout
            while time.time() < deadline:
                time.sleep(0.15)
                cur = self.snapshot()
                if cur == prev:
                    return cur
                prev = cur
            return prev

        def row_detail(self, mark: dict, runs: int) -> "dict | None":
            """Per-run trigger count and state footprint for the queries
            this bench row OWNS: ids that were STARTED after the row's
            ``row_mark`` and progressed since it (ADVICE r10 — progress
            alone would also catch a prior streaming row's late events
            still draining past its own stable-snapshot window).  State
            values are per-run averages: each of the row's ``runs``
            repetitions starts fresh query ids, and the sum over one
            run's streams is the run's state footprint."""
            before = mark["triggers"]
            after = self._stable_snapshot()
            with self._lock:
                owned = self.started - mark["started"]
            qids = [
                q for q in after if q in owned and after[q] != before.get(q, 0)
            ]
            delta = sum(after[q] - before.get(q, 0) for q in qids)
            if delta <= 0:
                return None
            out = {"triggers": round(delta / runs, 1)}
            with self._lock:
                st = [self.state[q] for q in qids if q in self.state]
            if st:
                out["state_rows"] = round(sum(s["state_rows"] for s in st) / runs)
                out["state_memory_used_bytes"] = round(
                    sum(s["state_memory_used_bytes"] for s in st) / runs
                )
            return out

    listener = _Recorder()
    spark.streams.addListener(listener)
    return listener


def _round_number() -> int:
    """Round for the bench record this run refreshes.  Records written
    by the driver (no ``written_by`` marker) are completed rounds, so
    the next run starts round max+1; a record bench.py wrote itself is
    THIS round's provisional record and a re-run must refresh it in
    place — otherwise two bench runs inside one round would fabricate a
    phantom round number."""
    import re

    root = Path(__file__).resolve().parent
    ns = [
        int(m.group(1))
        for p in root.glob("BENCH_r*.json")
        if (m := re.match(r"BENCH_r(\d+)\.json$", p.name))
    ]
    if not ns:
        return 1
    top = max(ns)
    try:
        own = json.loads((root / f"BENCH_r{top:02d}.json").read_text()).get(
            "written_by"
        ) == "bench.py"
    except Exception:
        own = False
    return top if own else top + 1


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 8)
    spark = get_spark("tubes_spark_bench", cpus=cpus, shuffle_partitions=max(cpus, 16))
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    queries = entrymod.queries()

    # warm-up: touch every table once so first-query time is not file
    # listing, and spawn the python worker pool so the first pandas-UDF
    # query isn't billed for 32 interpreter startups
    from tubes_spark.catalog import TABLES, load_table
    for t in TABLES:
        load_table(spark, t, sf_dir).count()
    import pandas as pd  # noqa: F401
    spark.range(1000).repartition(cpus).mapInPandas(
        lambda it: it, schema="id long"
    ).count()

    # calibration probe (VERDICT-r7 #2): the same fixed query, best-of-3,
    # at bench START and END.  Identical code has swung same-round totals
    # 117->145 s (~24%) on this shared host; recording the probe twice
    # gives every run its own noise index, so round-over-round deltas can
    # be normalized against measured host state instead of guessed.
    def _calibrate() -> float:
        fn = queries["flagship_pricing_summary"]
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    cal_start = _calibrate()

    # streaming drain FIRST: measured after the query battery the
    # same drain loses ~35% throughput to accumulated JVM state (code
    # cache pressure, GC debt from ~110 compiled plans) — isolated vs
    # post-battery: 60k vs 38k ev/s on an idle host.  The queries have
    # their own per-query warm runs, so battery order doesn't matter to
    # them; the streaming number should reflect the streaming engine,
    # not the bench harness's JVM history.
    streaming = _stream_drain_rate(spark, sf_dir)

    from tubes_spark.queries import clear_derived_cache

    trigger_listener = _make_trigger_listener(spark)
    timings: dict[str, float] = {}
    graph_detail: dict[str, dict] = {}
    streaming_detail: dict[str, dict] = {}
    builds_billed: set = set()
    for name in HEADLINE:
        fn = queries[name]
        triggers_before = (
            trigger_listener.row_mark()
            if trigger_listener and name.startswith("streaming_")
            else None
        )
        if name in GRAPH_FAMILY:
            # warm whole-stage codegen with a throwaway run BEFORE
            # clearing the shared structure: the cold number should
            # bill the structure build alone, not the one-off codegen
            # compile every other query amortizes via best-of-3
            fn(spark, sf_dir).count()
            # cold run: shared structure rebuilt from scratch
            clear_derived_cache()
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            cold = time.perf_counter() - t0
            # marginal runs: structure cached (best-of-3 as usual)
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                fn(spark, sf_dir).count()
                best = min(best, time.perf_counter() - t0)
            graph_detail[name] = {"cold": round(cold, 3), "marginal": round(best, 3)}
            tag = GRAPH_FAMILY[name]
            if tag not in builds_billed:
                builds_billed.add(tag)
                timings[name] = round(cold, 3)   # first consumer pays the build
            else:
                timings[name] = round(best, 3)
            continue
        best = float("inf")
        # best-of-3: the first run compiles whole-stage codegen (measured
        # 3-19s one-off on the 64-hash minhash plan vs 2.3s steady-state,
        # BASELINE.md round-3 note) and the JVM JIT can still be warming on
        # run 2 under co-tenant load — r2's phantom "6.9x dedup
        # regression" was exactly this with best-of-2.
        runs = 3
        for _ in range(runs):
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        if triggers_before is not None:
            det = trigger_listener.row_detail(triggers_before, runs)
            if det:
                det["sec_per_trigger"] = round(best / det["triggers"], 3)
                streaming_detail[name] = det

    # r13: full-materialization restate for the count-eliminated tail
    # (see COUNT_ELIMINATED) — best-of-3 under a noop write, recorded
    # alongside the primary count() numbers
    noop_restate: dict[str, float] = {}
    for name in COUNT_ELIMINATED:
        if name not in timings:
            continue
        fn = queries[name]
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            _force(fn(spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        noop_restate[name] = round(best, 3)

    cal_end = _calibrate()

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    payload = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "graph_cold_vs_cached": graph_detail,
        "noop_restate": noop_restate,
        "streaming": streaming,
        "streaming_triggers": streaming_detail,
        "calibration": {"start": cal_start, "end": cal_end},
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": cpus,
    }
    # sidecar with the complete per-query map: the driver records only a
    # 2000-char tail of stdout, which truncates the front of this line
    # once the battery is large — BENCH_SIDECAR.json is the full record
    # (r4 judge had to reconstruct totals from BASELINE.md prose)
    root = Path(__file__).resolve().parent
    sidecar = root / "BENCH_SIDECAR.json"
    sidecar.write_text(json.dumps(payload, indent=1) + "\n")
    # VERDICT-r8 #2: bench.py owns the round bench record too — the
    # driver's copy keeps only a 2000-char stdout tail (parsed=null for
    # two rounds running), so write the full payload where the record
    # lives, byte-consistent with the sidecar by construction.
    n = _round_number()
    record = root / f"BENCH_r{n:02d}.json"
    record.write_text(
        json.dumps(
            {"n": n, "rc": 0, "cpus": cpus, "sf": payload["sf"],
             "written_by": "bench.py", "parsed": payload},
            indent=1,
        )
        + "\n"
    )
    # VERDICT-r13 #8: BENCH_r12's stdout payload was truncated and the
    # round-over-round geomean was lost (PERF_r13 prev_bench_ok=false).
    # Guard the record's integrity at write time: the final stdout line
    # must round-trip through json.loads and match the sidecar exactly,
    # so a torn tail can never again cost the comparison.  Explicit
    # raises, not asserts (python -O would strip those), and the compare
    # is on canonical JSON text so a NaN metric matches itself
    # (nan != nan would fail an intact record).
    line = json.dumps(payload, separators=(",", ":"))
    want = json.dumps(payload, sort_keys=True)
    for what, got in (
        ("bench stdout line", json.loads(line)),
        (sidecar.name, json.loads(sidecar.read_text())),
        (record.name, json.loads(record.read_text())["parsed"]),
    ):
        if json.dumps(got, sort_keys=True) != want:
            raise RuntimeError(f"{what} does not match the stdout payload")
    print(line)
    spark.stop()


def _stream_drain_rate(spark, sf_dir: str) -> dict:
    """BASELINE.md streaming row: replay the events table as a
    multi-batch file stream through a windowed aggregation and report
    sustained events/sec for the AvailableNow drain."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from tubes_spark.catalog import load_table
    from tubes_spark.streaming.run import file_replay_source

    tmp = tempfile.mkdtemp(prefix="tubes_bench_stream_")
    try:
        events = load_table(spark, "events", sf_dir)
        n = events.count()
        events.repartition(8).write.parquet(f"{tmp}/in")
        # stateful streaming commits one state file per shuffle partition
        # per trigger — size the partition count to the state (the
        # hourly-window x event-type state here is a few hundred rows:
        # 4 partitions), not the CPU count, and prefer fewer/larger
        # micro-batches (the same advice that holds on a real cluster:
        # commit overhead is fixed per trigger, throughput comes from
        # batch size).  Measured at sf0.1/local[32]: mfpt=4/parts=8 ->
        # 62k ev/s, mfpt=8/parts=4 -> 94k ev/s (r4 probe).
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        state_info: dict = {}

        def drain(ck: str) -> float:
            stream = file_replay_source(
                spark, f"{tmp}/in", events.schema, max_files_per_trigger=8
            )
            agg = (
                stream.withWatermark("ts", "40 days")
                .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
            )
            t0 = time.perf_counter()
            q = (
                agg.writeStream.format("noop")
                .outputMode("update")
                .option("checkpointLocation", f"{tmp}/{ck}")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(600)
            wall = time.perf_counter() - t0
            lp = q.lastProgress
            if lp and lp.get("stateOperators"):
                so = lp["stateOperators"][0]
                state_info.update(
                    {"state_rows": so.get("numRowsTotal"),
                     "state_memory_used_bytes": so.get("memoryUsedBytes")}
                )
            return wall

        drain("ck_warm")  # absorbs streaming-query init + codegen once
        # best-of-2 measured drains (distinct checkpoints — a reused
        # checkpoint would skip already-committed offsets): the same
        # co-tenant-noise discipline the batch queries get from best-of-3
        wall = min(drain("ck_a"), drain("ck_b"))
        default_state = dict(state_info)

        # VERDICT-r8 #1: the same drain on the RocksDB state store with
        # changelog checkpointing — the provider that holds at 100 TB
        # key cardinality (state on local disk, not executor heap) —
        # with the provider's own state metrics recorded as evidence.
        from tubes_spark.session import state_store_rocksdb

        state_info.clear()
        with state_store_rocksdb(spark):
            drain("ck_r_warm")
            r_wall = min(drain("ck_r_a"), drain("ck_r_b"))
        rocks = {"drain_sec": round(r_wall, 3),
                 "events_per_sec": round(n / r_wall), **state_info}

        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        return {"events": n, "drain_sec": round(wall, 3),
                "events_per_sec": round(n / wall), **default_state,
                "state_store": "hdfs-default + rocksdb A/B",
                "rocksdb": rocks}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
