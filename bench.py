"""Benchmark: run headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS].

Output contract (round 4+): the FINAL stdout line is a compact JSON record
``{"metric": "headline_query_wall_clock_total", "value": N, "unit": "sec",
"sf": ..., "cpu_total_s": ...}`` guaranteed to fit the driver's tail
capture; the full per-query timing + spread dict is printed on the
preceding line AND written to ``BENCH_DETAIL.json`` at the repo root
(round 3's 43-query single line overflowed the capture window and
recorded ``parsed: null``).

:func:`time_query` is the one loop that runs and measures a registered
query. Every run starts from an empty cache (``spark.catalog.clearCache()``),
so no run reads a frame that it, or an earlier query, left persisted; it
times the build plus ``count()`` and reads the run's executor CPU, stages,
tasks and shuffle bytes from Spark's status store through its own job
group. A subset runs as
``SPARK_GRAFT_BENCH_QUERIES=q1,q2 SPARK_GRAFT_BENCH_RUNS=3 python bench.py``.

``BENCH_COMMITTED.json`` was taken when runs still shared the cache, a
warm-cache snapshot: the queries that persist frames (``setsim_join_prefix``
and the MinHash/near-dup graph family) read slower against it, so
``load_ratio_median`` reads high for them until the snapshot is
re-baselined (ROADMAP K).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from active_query_optimizer_spark.operators import QUERIES  # noqa: E402
from active_query_optimizer_spark.session import get_spark  # noqa: E402
from perfbench.sparkstats import group_counters  # noqa: E402

# Headline set: the scale-relevant core — big-table joins/aggs, the 7-way
# join, window + dedup/similarity/text pipeline ops as they land.
HEADLINE = [
    "flagship_multijoin_count",
    "scan_filter_count",
    "hash_join_count",
    "merge_join_count",
    "sevenway_join_count",
    "self_join_count",
    "pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_region_volume",
    "window_running_total",
    "window_topk_per_group",
    "exchange_reuse_pairs",
    "min_projection_job_style",
    # data-pipeline ops (present from round 1 onward)
    "dedup_exact_docs",
    "dedup_minhash_lsh",
    "dedup_minhash_clusters",
    "dedup_simhash",
    "ann_cosine_topk",
    "ann_lsh_bucketed",
    "text_quality_scores",
    # curation (round 2)
    "decontam_ngram_overlap",
    "pack_sequences_budget",
    "sample_balanced_per_lang",
    # quality / splits (round 3)
    "quality_repetition_rules",
    "tfidf_top_terms_per_source",
    # analytics / kNN / token-freq / cross-source (round 3)
    "event_funnel_steps",
    "cohort_retention_weekly",
    "knn_label_vote",
    "quality_token_freq_score",
    "cross_source_overlap",
    # embedding preprocessing / mixing / monitoring (round 3)
    "embedding_dim_stats",
    "embedding_gram_upper",
    "embedding_pca_project",
    "sample_weighted_mix",
    "stats_histogram_equiwidth",
    "events_anomaly_days",
    # optimizer-stats / join-optimization shapes (round 3)
    "stats_join_size_exact",
    "join_bloom_prefilter_count",
    # optimizer-pipeline + streaming shapes
    "plan_selection_argmin",
    "spearman_rank_corr",
    "stats_topk_frequent_values",
    "stream_windowed_event_counts",
    "stream_sessionize_events",
    # round-4 additions: CDC merge, range-frame window, arg-max agg,
    # Q17 scalar subquery, substring decontamination, null/NDV harvest,
    # triangle counting, per-group centroids
    "upsert_snapshot_apply",
    "window_rolling_7day_avg",
    "latest_order_per_customer",
    "scalar_subquery_small_qty",
    "decontam_substring_containment",
    "stats_null_profile",
    "stats_column_cardinalities_approx",
    "graph_triangle_count",
    "embedding_lang_centroids",
    "tpch_q10_returned_items",
    "events_first_touch",
    "stats_price_deciles",
    "cluster_centroid_vectors",
    "tpch_q7_nation_volume",
    "tpch_q12_shipmode_priority",
    "tpch_q14_promo_share",
    "tpch_q18_large_orders",
    "tpch_q19_disjunctive_revenue",
    "tpch_q22_lapsed_high_balance",
    # round-4b additions: decision-support set II + stratified sampling,
    # discrete medians, levenshtein neighbour pairs
    "tpch_q2_min_cost_supplier",
    "tpch_q4_priority_exists",
    "tpch_q6_forecast_revenue",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "tpch_q13_customer_distribution",
    "tpch_q15_top_supplier",
    "tpch_q16_supplier_variety",
    "tpch_q20_promo_volume_suppliers",
    "tpch_q21_waiting_supplier",
    "sample_stratified_proportional",
    "stats_median_disc_per_group",
    "text_edit_distance_pairs",
    "order_gap_stats_per_customer",
    "events_trailing_7d_active_users",
    "window_dense_rank_ties",
    "tpch_q11_important_parts",
    "full_outer_reconciliation",
    # round-4d additions: span-level dedup, context-window chunking,
    # temperature mixture sampling, correlation harvest, sketch percentiles
    "dedup_paragraph_spans",
    "dedup_paragraph_rewrite",
    "text_chunk_overlap",
    "sample_temperature_mixture",
    "stats_corr_qty_discount",
    "stats_length_percentiles_approx",
    # round-4e additions: data-quality constraint suite, Z-order layout,
    # SCD2 versioning, incremental aggregate maintenance, bounded BFS
    "dq_constraint_report",
    "zorder_layout_profile",
    "scd2_history_build",
    "incremental_agg_maintenance",
    "graph_bfs_hops",
    # round-4f additions: skyline, decay-weighted rolling feature,
    # within-group percentile normalization
    "pareto_front_orders",
    "events_decay_weighted_sum",
    "quality_length_percent_rank",
    # round-4g additions: deterministic stats reservoir, time-weighted
    # value segments, market-basket pair support
    "stats_reservoir_sample_profile",
    "events_time_weighted_value",
    "basket_brand_pairs",
    # round-4h additions: revenue-concentration harvest, behavioural
    # transition matrix, RFM segmentation cube
    "stats_revenue_gini",
    "events_transition_matrix",
    "orders_rfm_segments",
    # round-4i additions: vocabulary-growth harvest, burst screening,
    # exact one-step k-means
    "text_vocab_stats",
    "events_burst_users",
    "embedding_kmeans_step",
    "embedding_kmeans_two_steps",
    "setsim_join_prefix",
    "orders_yoy_monthly_growth",
    # round-6 additions: GK-sketch production decile path + GK-threshold
    # stratified sampling route
    "stats_price_deciles_sketch",
    "sample_stratified_sketch",
]


def time_query(spark, name: str, sf_dir: str, runs: int) -> list[dict]:
    """Run registered query ``name`` ``runs`` times, each from an empty
    cache and in its own job group. Per run: ``wall_s`` (build plus
    ``count()``), ``rows``, and the group's executor ``cpu_s``,
    ``stages``, ``tasks`` and ``shuffle_write_mb``."""
    sc = spark.sparkContext
    out = []
    for _ in range(runs):
        spark.catalog.clearCache()
        # unique per run: a reused group id would add an earlier call's jobs
        group = f"bench-{name}-{time.monotonic_ns()}"
        sc.setJobGroup(group, name)
        try:
            t0 = time.perf_counter()
            rows = QUERIES[name](spark, sf_dir).count()
            wall = time.perf_counter() - t0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        c = group_counters(spark, group)
        out.append({"wall_s": wall, "rows": rows,
                    "cpu_s": c["spark.executor_cpu_s"],
                    "stages": int(c["spark.stages"]),
                    "tasks": int(c["spark.tasks"]),
                    "shuffle_write_mb": c["spark.shuffle_write_mb"]})
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("aqo-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm up the JVM + parquet footer caches with a trivial action
    spark.range(1).count()

    # best-of-N per query (default 3): the first run pays JIT/codegen and
    # GC noise; min-of-runs is the standard benchmark estimator for the
    # steady-state cost. Each run replans + re-executes from parquet with
    # an empty cache (time_query).
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    # optional subset (e.g. the sf1 scale rehearsal runs only the heavy
    # entries): comma-separated names, order preserved from HEADLINE;
    # registered queries outside HEADLINE follow in name order
    subset_env = os.environ.get("SPARK_GRAFT_BENCH_QUERIES", "")
    subset = {s.strip() for s in subset_env.split(",") if s.strip()}
    queries = [n for n in HEADLINE if not subset or n in subset]
    queries += sorted(subset - set(HEADLINE))
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    cpus: dict[str, float] = {}
    for name in queries:
        if name not in QUERIES:
            continue
        samples = time_query(spark, name, sf_dir, runs)
        walls = [r["wall_s"] for r in samples]
        timings[name] = round(min(walls), 4)
        # run-to-run spread (max-min): quantifies JIT/GC noise per query —
        # a large spread next to a small best means the best is steady-state
        # while cold runs still pay codegen/GC, not that the plan is flaky
        spreads[name] = round(max(walls) - min(walls), 4)
        cpus[name] = round(min(r["cpu_s"] for r in samples), 4)

    sf = os.path.basename(sf_dir.rstrip("/")).removeprefix("sf")
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    detail = {
        "metric": "headline_query_wall_clock_detail",
        "queries": timings,
        "cpu_s": cpus,
        "spread": spreads,
        "sf": sf_val,
        "runs_per_query": runs,
        "notes": ("best-of-N wall clock per query, every run from an "
                  "empty cache; cpu_s = least executor CPU over the N "
                  "runs; spread = max-min wall over the N runs (JIT/GC "
                  "noise quantified per query)"),
    }
    # The per-query dict grew past the driver's tail-capture window in
    # round 3 (BENCH_r03.json parsed:null). Emit the full detail FIRST
    # (stdout + a file next to this script), then a compact totals-only
    # line LAST so the machine-recorded headline number always parses.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    try:
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
    except OSError:
        detail_path = ""
    print(json.dumps(detail))
    out = {
        "metric": "headline_query_wall_clock_total",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "cpu_total_s": round(sum(cpus.values()), 4),
        "sf": sf_val,
        "queries_run": len(timings),
        "runs_per_query": runs,
        "detail_file": detail_path,
    }
    # Machine-load self-diagnosis (round-4 verdict item #5): the driver
    # machine may be loaded (r4: 69.1 s live vs 45.2 s quiet for the same
    # queries). BENCH_COMMITTED.json is a committed quiet-machine run of
    # this same HEADLINE at the same SF; alongside the live `value` we
    # emit its total over the intersecting query set (`value_committed`)
    # and the median live/committed per-query ratio (`load_ratio_median`)
    # so a loaded run is self-diagnosing instead of reading as a perf
    # regression. Refresh protocol: re-run bench.py on a quiet machine
    # and copy BENCH_DETAIL.json -> BENCH_COMMITTED.json whenever the
    # HEADLINE list changes.
    committed_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_COMMITTED.json")
    try:
        with open(committed_path) as fh:
            committed = json.load(fh)
        if committed.get("sf") == sf_val:
            cq = committed.get("queries", {})
            common = [n for n in timings if n in cq]
            if common:
                out["value_committed"] = round(
                    sum(cq[n] for n in common), 4)
                ratios = sorted(
                    timings[n] / cq[n] for n in common if cq[n] > 0)
                if ratios:  # every committed timing could be 0 (degenerate
                    # snapshot) — don't crash the headline line over it
                    out["load_ratio_median"] = round(
                        ratios[len(ratios) // 2], 3)
                out["queries_committed"] = len(common)
    except (OSError, ValueError, KeyError):
        pass
    print(json.dumps(out))


if __name__ == "__main__":
    main()
