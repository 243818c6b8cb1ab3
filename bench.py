"""Headline benchmark: runs the engine's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query executes fully via the noop sink (no driver collect, no disk
write) so the timing measures scan→shuffle→agg end to end.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from nyc_taxi_data_warehouse_spark.session import get_spark

# Headline set: the reference's three marts + the expression layer + the
# feature table + merge ingest + the data-pipeline wave's heavy hitters.
HEADLINE = [
    "q_enrich",
    "q_weather_hourly",
    "q_trips_weather",
    "q_daily",
    "q_zone_analysis",
    "q_zone_demand",
    "q_fare_daily_features",
    "q_merge_dedup",
    "q_dedup_exact",
    "q_minhash_lsh",
    "q_simhash",
    "q_text_quality",
    "q_knn_bruteforce",
    "q_ann_ivf",
    # round-1 additions: SCD2 snapshots, dedup clustering, quantizer build,
    # multimodal decode, synthetic backfill
    "q_scd2_check",
    "q_scd2_timestamp",
    "q_dedup_cluster",
    "q_centroid_assign",
    "q_multimodal_features",
    "q_backfill_synthetic",
    "q_top_terms",
    "q_text_scrub",
    "q_sample_hash",
    "q_percentiles",
    "q_quality_report",
    "q_pivot",
    "q_asof_join",
    "q_interval_join",
    "q_gapfill",
    "q_sessions",
    # round-2 late addition: the classic star-schema path (fact shuffle
    # joins + broadcast dims) at the full sf0.1 lineitem scale
    "q_star_join",
    # round-3 additions: bit-reproducible Lloyd's codebook build and the
    # pinned-predictor FORECAST_EVAL frame
    "q_kmeans_cells",
    "q_forecast_eval",
    # round-4 additions: PQ ANN lifecycle (fit→encode→ADC search) and the
    # Morton z-curve clustering diagnostic
    "q_pq_search",
    "q_zorder_cells",
    # round-5 additions: IVFADC — the HEADLINE ANN serving number (the
    # exhaustive-ADC q_pq_search above is the recall oracle, O(corpus ×
    # queries) by construction; q_pq_recall pins recall against it; the
    # cell-pruned IVF+ADC path is what a 100 TB deployment actually
    # runs) — and the drift family's representative (per-source PSI).
    "q_ivfpq_search",
    "q_psi_drift",
    # round-4 third-session additions: linear-scale dedup diagnostic,
    # inverted-index sparse cosine, bloom runtime filter, MAD anomalies
    "q_dup_ngram_coverage",
    "q_sparse_cosine",
    "q_bloom_join",
    "q_anomaly_mad",
    # round-6 additions: portable-sketch family (HLL vocab estimate —
    # the exact COUNT(DISTINCT) twin inside it is the denominator, the
    # sketch itself is map-side fixed-size) and DSIR data selection
    "q_hll_distinct",
    "q_dsir_select",
    # the canonical OLAP wide-aggregate (exact integer money lattice)
    "q_tpch_q1",
    # round-6 continuation: TPC-H family representatives beyond Q1 —
    # the full-star expression aggregate (Q9), the decorrelated
    # EXISTS/NOT-EXISTS with a fact-fact sort-merge join (Q21) — and the
    # HLL inclusion-exclusion pair-overlap triage
    "q_tpch_q9",
    "q_tpch_q21",
    "q_hll_overlap",
    # round-7 additions (round-6 verdict #5): the remaining TPC-H analog
    # representatives so regressions in the new family stay visible —
    # Q5 (the 6-table join star), Q13 (LEFT-OUTER fact join + two-level
    # histogram agg), Q18 (IN-subquery with HAVING over a fact agg)
    "q_tpch_q5",
    "q_tpch_q13",
    "q_tpch_q18",
    # round-7 continuation: representatives of the new waves — the
    # streaming-Bloom membership monitor (bounded-state stream path),
    # the exact-KS drift statistic (value-cardinality CDF machinery),
    # the basket-bounded association miner, and the spectral collapse
    # monitor (scatter-matrix self-join + driver-side eigen-iteration)
    "q_stream_bloom",
    "q_ks_drift",
    "q_market_basket",
    "q_pca_power",
    # round-7 third continuation: representatives of the final wave —
    # the single-pass Poisson bootstrap (B-explode folding to B partial
    # sums), the KMV bottom-k distinct sketch, the Misra-Gries mergeable
    # heavy hitters, the sliding-window HLL register re-use, the hybrid
    # lexical+vector RRF fusion, and the bucketed watermark audit
    "q_bootstrap_ci",
    "q_kmv_distinct",
    "q_mg_topk",
    "q_sliding_distinct",
    "q_rrf_fusion",
    "q_watermark_audit",
    # and the wave's two heaviest: content-defined chunking (position
    # explode over corpus bytes) and the 3-config LSH tuning sweep.
    # COMPARABILITY NOTE: q_lsh_tuning's ground truth moved to a 50%
    # content-hash doc sample in round 10 (the full truth set through
    # round 9), cutting the truth-join work ~4x; r9→r10 timings for this
    # query are NOT comparable (7.91 s r9 vs 5.29 s r10 reflects the
    # sample, not a plan change). See BASELINE.md "Round-10 q_lsh_tuning
    # sampling".
    "q_cdc_chunking",
    "q_lsh_tuning",
    # round-8 additions: the mining/monitoring wave — prefix-identity
    # CUSUM (batch + streaming), the mergeable quantile summary (CDF
    # build + kilobyte sketch), blocked entity resolution, trigram
    # sequence mining, gaps-and-islands, and next-fit compaction
    "q_cusum_changepoint",
    "q_stream_cusum",
    "q_quantile_summary",
    "q_entity_resolution",
    "q_frequent_sequences",
    "q_gaps_islands",
    "q_compaction_plan",
    "q_bh_fdr",
    "q_mannwhitney",
    # round-8 transforms: the rewrite half of the curation story
    "q_boilerplate_scrub",
    "q_dup_span_removal",
    "q_slo_burn",
    "q_calibration",
    # round-9 representatives: exact classifier eval off the score CDF,
    # the two-stage top-k IR eval, the omnibus rank test, the z-order
    # skipping A/B (stacked dual-layout stats pass), the stream-stream
    # temporal join (state-partition-scoped), and the zero-shuffle
    # pseudonymization rewrite
    "q_roc_auc",
    "q_ndcg_mrr",
    "q_kruskal_wallis",
    "q_zorder_effect",
    "q_stream_join",
    "q_pseudonymize",
    # round-10 representatives: the series-partitioned as-of join (the
    # 100 TB form beside the single-series q_asof_join already above),
    # fixed-budget weighted sampling (two-stage top-k), and the PAV
    # minimax calibration (bounded bin-pair frame)
    "q_asof_multi",
    "q_priority_sample",
    "q_isotonic_calibration",
    # round-11 representatives: incremental ingest dedup — a new batch vs
    # the persisted MinHash signature store (exact content-hash leg +
    # cross band join + insert-only signature merge), history never
    # rescanned — and ANN serving from the lake-persisted IVFADC index
    # (load frozen codebooks + cell-partitioned codes; no refit).
    # First bench run pays the one-time build+commit (store memoized per
    # session); the 3-run median reflects disk-served steady state.
    "q_incremental_neardup",
    "q_ann_index_persist",
    # the wave's other representatives: the streaming ingest-dedup
    # preflight (stream-static content-hash join vs the store), CDC log
    # compaction (per-key top-1, the Debezium-sink shape), the
    # boundary-sweep concurrency counter (bucketed cumulative, no global
    # sort), and RAKE keyword extraction (doc-grain windows + vocab-grain
    # join back)
    "q_stream_ingest_dedup",
    "q_cdc_apply",
    "q_concurrency",
    "q_rake_keywords",
    # late round-11 wave: time-bounded funnel, LPA communities on the
    # top-40 corridor backbone, and the near-dup-aware cluster split
    "q_window_funnel",
    "q_label_propagation",
    "q_cluster_split",
    # round-12: the full persisted signature-store lifecycle (three
    # generations: init commit, dedup+append, dedup vs the merged
    # snapshot — every run rebuilds the store from scratch on a fresh
    # path, so this number includes the ingest writes by design)
    "q_neardup_store_roundtrip",
    # round-13 representatives: the bucketed-layout store lifecycle
    # (catalog tables clustered by the ingest join keys — the store
    # side plans zero Exchange; like the manifest roundtrip, every run
    # rebuilds from scratch and includes the commit writes), exact
    # Shapley attribution (coalition-bounded), grid-cell weighted
    # DBSCAN, and the Hilbert layout fold (the interpreted-fold cost is
    # the number worth tracking)
    "q_neardup_store_bucketed",
    "q_shapley_attribution",
    "q_dbscan",
    "q_hilbert_cells",
]

# The FIXED baseline-comparable subset: exactly the 30 queries of the first
# recorded engine bench (BENCH_r01.json). Reported every round as
# `baseline_set_total` so round-over-round comparisons have a constant
# denominator while HEADLINE keeps growing with new operator families —
# never edit this list (BASELINE.md "Bench selection rule").
BASELINE_SET = [
    "q_enrich", "q_weather_hourly", "q_trips_weather", "q_daily",
    "q_zone_analysis", "q_zone_demand", "q_fare_daily_features",
    "q_merge_dedup", "q_dedup_exact", "q_minhash_lsh", "q_simhash",
    "q_text_quality", "q_knn_bruteforce", "q_ann_ivf", "q_scd2_check",
    "q_scd2_timestamp", "q_dedup_cluster", "q_centroid_assign",
    "q_multimodal_features", "q_backfill_synthetic", "q_top_terms",
    "q_text_scrub", "q_sample_hash", "q_percentiles", "q_quality_report",
    "q_pivot", "q_asof_join", "q_interval_join", "q_gapfill", "q_sessions",
]

# Per-query repeat count: the median of 3 runs is reported, so a single
# host-noise spike (shared box, NOTES "Host noise") can't masquerade as a
# regression. Override with SPARK_GRAFT_BENCH_RUNS=1 for a quick pass.
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    warm_session(spark, sf_dir)

    import gc

    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = qs[name]
        samples = []
        for _ in range(RUNS):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            samples.append(time.perf_counter() - t0)
            # drop persisted frames between runs: every run pays its own
            # cache fills, and late queries don't degrade under accumulated
            # executor-memory state from earlier ones
            spark.catalog.clearCache()
            # then force both GCs (outside the timed region): finished
            # queries leave localCheckpoint blocks + broadcast refs that
            # only free on collection, and letting them linger taxes later
            # Arrow-heavy stages with major-GC pauses (measured 3-6x on the
            # decode query)
            gc.collect()
            spark.sparkContext._jvm.System.gc()
        import statistics

        timings[name] = round(statistics.median(samples), 3)

    total = round(sum(timings.values()), 3)
    baseline_total = round(
        sum(timings[q] for q in BASELINE_SET if q in timings), 3
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf),
                "runs_per_query": RUNS,
                "aggregation": "median",
                "baseline_set_total": baseline_total,
                "baseline_set_n": len(BASELINE_SET),
            }
        )
    )


def warm_session(spark, sf_dir: str) -> None:
    """Pay the session's one-time costs outside any timed region: the
    JVM / parquet footer caches, the Python worker pool (the first
    Arrow-UDF query otherwise pays ~5 s of interpreter startup that is not
    plan cost), and the Structured Streaming machinery (the FIRST
    availableNow drain pays file-source discovery + memory-sink setup,
    ~5-7 s observed on q_stream_cusum)."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import col, pandas_udf

    from nyc_taxi_data_warehouse_spark.util import session_tmpdir

    spark.read.parquet(f"{sf_dir}/events.parquet").count()
    # lambda form: `from __future__ import annotations` stringifies type
    # hints, which pandas_udf's hint inference can't resolve
    ident = pandas_udf(lambda s: s, "long")
    spark.range(256).repartition(32).select(ident(col("id"))).count()

    wdir = session_tmpdir("bench_stream_warm")
    spark.range(64).selectExpr(
        "id", "timestamp_micros(CAST(id * 1000000 AS BIGINT)) AS ts"
    ).write.mode("overwrite").parquet(wdir)
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("ts", T.TimestampType())]
    )
    q = (
        spark.readStream.schema(schema)
        .parquet(wdir)
        .groupBy("ts")
        .count()
        .writeStream.format("memory")
        .queryName("bench_stream_warm_sink")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()


if __name__ == "__main__":
    main()
