"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints the full JSON line
{"metric": "total_headline_sec", "value": N, "unit": "sec",
 "queries": {name: sec, ...}, "sf": 0.1, "sentinel_sec": S}
followed by ONE short summary JSON line (no "queries" map — always
fits a tail capture) as the FINAL stdout line; the full dict is also
written to BENCH_LOCAL.json so per-query numbers survive in git even
when the driver's stdout window truncates the long line.

`sentinel_sec` is the median of 3 runs of a FIXED CPU-bound probe
(sum of xxhash64 over a 200M-row range, 32 partitions — no I/O, no
data dependence) taken before and after the query loop (min of the
two medians: the less-contended window). It is the machine-speed
normalizer the round-6 verdict asked for: before believing a
per-query regression across rounds, compare the rounds'
sentinels — a sentinel ratio ≫ 1 means the window was contended /
the box changed, and per-query ratios near the sentinel ratio are
environment, not code (`tools/bench_compare.py` applies this).

Materialization uses the noop datasource (full execution, zero
driver-side collection) so timings measure the distributed plan, not
result transfer.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "pricing_summary",
    "filter_project",
    "region_revenue",
    "topk_per_group",
    "order_priority_check",
    "upsert_orders",
    "dedupe_events_by_user",
    "set_ops",
    "events_sessionize",
    "asof_purchase_last_view",
    "text_token_stats",
    "text_quality_language",
    "text_repetition_stats",
    "quality_gopher_rules",
    "pii_scrub_contacts",
    "text_bm25_topk",
    "chunk_dedup_segments",
    "corpus_curation_v2",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "ann_cosine_topk",
    "ann_lsh_bucketed",
    "proj_webmercator",
    "ann_ivf_label",
    "tz_policies",
    "range_join_interval_counts",
    "range_join_left_outer",
    "skew_salted_agg",
    "min_cost_supplier",
    "forest_part_suppliers",
    "volume_shipping",
    "market_share",
    "top_supplier",
    "waiting_sole_late_supplier",
    # round 5: new corpus operators + the two queries whose plans the
    # round-4 verdict flagged (vocab ranking, tfidf df-join) so the
    # bench artifact directly tracks their cost
    "text_pmi_collocations",
    "text_lm_bigram_score",
    "sketch_countmin_topk",
    "doc_gram_novelty",
    "vocab_encode_documents",
    "text_keywords_tfidf",
    # round 6: bucketed-selection order statistics (several bounded
    # driver jobs each — the bench tracks that they stay cheap),
    # sketches, sequence/concordance ops
    "median_doc_length",
    "events_value_equidepth",
    "events_markov_transitions",
    "token_odds_ratio_langs",
    "kwic_concordance",
    "sketch_kmv_distinct",
    "sample_bottomk_documents",
    "text_skipgram_pmi",
    "features_hashing_trick",
    "text_heavy_hitters",
    "dedup_minhash_estimate_quality",
    "dedup_internal_spans",
    "dsir_importance_select",
    "events_percentrank_by_type",
    "grouping_sets_orders",
    "events_value_trimmed_mean",
    "emb_label_centroids",
    "emb_nearest_centroid_eval",
    # round 7: grouped order statistics (per-type robust aggregates),
    # the two sketch audits promoted from rows-only (exact sides make
    # them the expensive kind — tracked on purpose), distributed
    # running totals, rolling-distinct exact + sketch rollup
    "median_value_by_type",
    "events_value_trimmed_mean_by_type",
    "events_value_winsorized_mean",
    "events_value_mad_by_type",
    "sketch_bucketmin_daily_users",
    "length_deciles_by_source",
    "approx_sketches",
    "sketch_vocabulary_report",
    "events_running_total",
    "events_rolling_active_users",
    "sketch_rolling_active_users",
    "token_weighted_median_length",
    "token_budget_shards",
    "sketch_hll_rolling_users",
    "value_trend_by_type",
    "source_vocab_overlap_sketch",
    "max_concurrent_sessions",
    "text_heavy_hitters_by_lang",
    # round 8: descent-optimization tracking (grouped winsorize,
    # per-source token shards), the promoted quantized exact GEMM
    "events_value_winsorized_by_type",
    "token_budget_shards_by_source",
    "ann_topk_vectorized",
    "epoch_shuffle_shards",
    "tokenizer_fertility_by_source",
    "events_daily_delta_trend",
    "theil_sen_daily_trend",
    "documents_column_profile",
    "token_lang_chi2_topk",
    "contamination_report",
    "ttr_length_correlation_by_source",
    "mixture_epoch_plan",
    "source_dup_matrix",
    "semdedup_keep",
    "stratified_split_exact",
    "sketch_quantile_rollup",
    "curriculum_schedule",
    "boilerplate_prefix_clusters",
    "join_skew_diagnostics",
    "join_cardinality_estimate",
    "layout_curve_codes",
    "layout_hilbert3_codes",
    "ann_ivf_kmeans",
    "ann_pq_adc",
    "bpe_learn_merges_words",
    # r9 additions: the integer-fixed-point promotions + the graph family
    "pca_embeddings_project",
    "ann_pca_prefilter",
    "ridge_probe_embeddings",
    "mm_image_neardup",
    "graph_pagerank_suppliers",
    "pii_card_audit",
    "dedup_tfidf_cosine",
    "text_textrank_keywords",
    "retrieval_eval_knn",
    "text_word_communities",
    "graph_bfs_supplier_radius",
    "corpus_curation_v5",
    "graph_pagerank_weighted",
    # r10 additions
    "proj_pa_south_datum_pipeline",
    "graph_components_trading_blocs",
    "graph_communities_weighted",
    "graph_triangles_copurchase",
    "graph_affinity_distance",
    "geo_haversine_customers",
    "text_kneser_ney_bigram",
    "sample_weighted_reservoir",
    "mixture_temperature_alpha",
    # r11 additions
    "quality_classifier_score",
    "corpus_curation_v6",
    "dedup_incremental_vs_store",
    "graph_trustrank_seeded",
    "mm_audio_neardup",
    "text_ccnet_perplexity_buckets",
    "coreset_kcenter_embeddings",
    "corpus_curation_v7",
    "source_zipf_alpha",
    "graph_kcore_suppliers",
    "source_token_entropy",
    "graph_coreness_census",
    "graph_score_suppliers",
    "er_customer_entities",
    "graph_harmonic_sampled",
    # r12 additions
    "lid_predict_eval",
    "corpus_curation_v8",
    "decontam_incremental_vs_store",
    "corpus_curation_v9",
    "lid_confidence_bands",
    "quota_waterfall_sources",
    "corpus_curation_v10",
    # r13 addition: the registry-backed v10 (train-offline/score-online)
    "corpus_curation_v10_registry",
    # r14 addition: two-wave screen/finalize decomposition (the
    # streaming funnel's batch twin)
    "corpus_curation_v10_incremental",
]


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def sentinel(spark) -> float:
    """Median of 3 runs of a fixed, data-independent CPU probe."""
    from pyspark.sql import functions as F

    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        # modulo keeps the ANSI-mode sum inside int64; the hash is
        # still the dominant per-row cost
        spark.range(0, 200_000_000, 1, 32).select(
            F.sum(F.xxhash64("id") % 1_000_000)
        ).collect()
        runs.append(time.perf_counter() - t0)
    return sorted(runs)[1]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    # Distributed-path lane (r14 verdict item 3): at sf0.1 every
    # graph/orderstats/ANN/BPE input fits its driver-route budget, so
    # the primary bench times numpy on the driver, not the Spark plans
    # that run at 100 TB. SPARK_GRAFT_BENCH_LANE=dist sets the one
    # route switch (operators.route, SPARK_GRAFT_DRIVER_ROUTES=0), which
    # zeroes every route budget, so the distributed loops stay
    # regression-tracked; the record lands in BENCH_LOCAL_dist_c{N}.json
    # and NEVER touches the primary lane's files. A run without this
    # env is the primary lane, so its numbers are unaffected.
    lane = os.environ.get("SPARK_GRAFT_BENCH_LANE", "")
    if lane == "dist":
        os.environ["SPARK_GRAFT_DRIVER_ROUTES"] = "0"

    import __spark_entry__ as ent
    from databridge_etl_tools_spark.session import get_session

    spark = get_session("bench")
    qs = ent.queries()
    names = [n for n in HEADLINE if n in qs]
    # Isolated re-measure knob (the repo's regression protocol: fresh
    # session, warm, median-of-3, sentinel-normalized): a
    # comma-separated SPARK_GRAFT_BENCH_NAMES runs just those queries
    # through the identical warmup + median machinery.
    only = os.environ.get("SPARK_GRAFT_BENCH_NAMES")
    if only:
        picked = [n.strip() for n in only.split(",") if n.strip()]
        unknown = [n for n in picked if n not in qs]
        if unknown:
            raise SystemExit(f"unknown bench names: {unknown}")
        names = picked

    # Optimized layouts are the default query path (SPARK_GRAFT_LAYOUT=0
    # reverts to raw parquet): facts co-bucketed on orderkey, events
    # partitioned by day, embeddings by IVF cell. Build time is setup
    # (real deployments bucket once per load), not query time — and
    # cached builds reuse the existing copies when sources are
    # unchanged (layout._LAYOUT_META markers).
    if os.environ.get("SPARK_GRAFT_LAYOUT", "1") != "0":
        from databridge_etl_tools_spark import layout

        layout.build_all(spark, sf_dir)

    # Global warmup: JVM + parquet footers + the Python worker pool
    # (first pandas-UDF query otherwise pays ~3s of worker forks).
    materialize(qs[names[0]](spark, sf_dir))
    spark.range(0, 64, 1, 64).mapInPandas(lambda it: it, "id long").count()
    sent_before = sentinel(spark)

    # Steady-state protocol: one unmeasured warm run per query (pays
    # whole-stage-codegen JIT — a per-PLAN, not per-DATA, one-time cost
    # of seconds that the benchmark SF would otherwise dominate), then
    # MEDIAN OF 3 timed runs — a single GC/AQE-noise outlier run can no
    # longer write the round's number (round-2 post-mortem:
    # skew_salted_agg recorded 4.34 s, reproducible steady-state 0.48 s).
    # Spike guard: this box shows transient external load (observed:
    # the same query 8.96 s / 3.45 s / 0.73 s across 3 back-to-back
    # runs, 1.1 s steady-state). When the median is wildly above the
    # best run, the window was contended — sample 2 more and take the
    # median of 5. Still always a MEDIAN, never the min: AQE/GC
    # variance stays in the number, only multi-run external spikes get
    # damped.
    timings: dict[str, float] = {}
    for name in names:
        materialize(qs[name](spark, sf_dir))
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            materialize(qs[name](spark, sf_dir))
            runs.append(time.perf_counter() - t0)
        # r14 tightening: this box shows EPISODIC host-level storms
        # (whole-box 85% system time for seconds-to-minutes at
        # near-normal steal; see OPTIMIZATION_r14.md "Host-noise
        # incident") that a 3x guard lets straight into the median —
        # measured: the same query 42x across back-to-back windows
        # with a FAST sentinel at both window edges. Resample while
        # the median is >1.5x the best run (up to 4 extra runs) and
        # report the median of everything sampled — still always a
        # median over all runs, never a min, so AQE/GC variance stays
        # in the number; only multi-run external storms get damped.
        extra = 0
        while sorted(runs)[len(runs) // 2] > 1.5 * min(runs) + 0.2 and extra < 4:
            t0 = time.perf_counter()
            materialize(qs[name](spark, sf_dir))
            runs.append(time.perf_counter() - t0)
            extra += 1
        timings[name] = round(sorted(runs)[len(runs) // 2], 3)

    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0
    sent_after = sentinel(spark)
    from databridge_etl_tools_spark.session import cpu_count

    cpus = cpu_count()
    out = {
        "metric": "total_headline_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "sentinel_sec": round(min(sent_before, sent_after), 3),
        "cpus": cpus,
        "lane": lane or "primary",
    }
    # Stop Spark BEFORE emitting so no JVM shutdown chatter lands
    # after the JSON. The driver records only a TAIL of stdout, and
    # with 100+ headline entries the full one-line dict outgrew that
    # window (r8: BENCH_r08.json kept 63/103 entries, parsed=null).
    # Emission contract since r9:
    #   1. the full dict is written to BENCH_LOCAL.json in the repo
    #      (committed history carries the per-query numbers), and
    #   2. stdout prints the full line FIRST, then one SHORT summary
    #      line (< 120 chars) LAST — whatever tail the driver keeps,
    #      the final line is complete and parseable.
    spark.stop()
    sys.stderr.flush()
    here = os.path.dirname(os.path.abspath(__file__))
    # r14 verdict item 2a: the record is KEYED BY LANE AND CPU COUNT
    # (BENCH_LOCAL_c32.json, BENCH_LOCAL_dist_c32.json, ...) so the
    # driver's low-core scaling run can never clobber the primary
    # 32-core per-query map again (r14 lost its c32 record that way).
    # BENCH_LOCAL.json stays as the latest-primary-run alias for the
    # existing tooling/history.
    keyed = (
        f"BENCH_LOCAL_dist_c{cpus}.json"
        if lane == "dist"
        else f"BENCH_LOCAL_c{cpus}.json"
    )
    if not only:  # a filtered run must not clobber the full record
        with open(os.path.join(here, keyed), "w") as f:
            json.dump(out, f, separators=(",", ":"))
            f.write("\n")
        if lane != "dist":
            with open(os.path.join(here, "BENCH_LOCAL.json"), "w") as f:
                json.dump(out, f, separators=(",", ":"))
                f.write("\n")
    sha = ""
    try:
        head = open(os.path.join(here, ".git", "HEAD")).read().split()[-1]
        if head.startswith("refs/"):
            head = open(os.path.join(here, ".git", head)).read().strip()
        sha = head[:10]
    except OSError:
        pass
    summary = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "sf": out["sf"],
        "sentinel_sec": out["sentinel_sec"],
        "n_queries": len(timings),
        "cpus": cpus,
        "lane": out["lane"],
        "full": keyed,
        "sha": sha,
    }
    print(json.dumps(out, separators=(",", ":")), flush=True)
    # r14 verdict item 2c: the driver records only a ~2000-char TAIL
    # of stdout, so the single full line above truncates from the
    # FRONT. Re-emit the per-query map as SHORT chunk lines (10
    # queries each, most-expensive LAST) so whatever tail survives
    # carries complete, parseable fragments covering the heavy
    # queries; the final line stays the short summary.
    items = sorted(timings.items(), key=lambda kv: kv[1])
    for i in range(0, len(items), 10):
        chunk = dict(items[i : i + 10])
        print(
            json.dumps(
                {"queries_part": i // 10 + 1, "q": chunk},
                separators=(",", ":"),
            ),
            flush=True,
        )
    print(json.dumps(summary, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
