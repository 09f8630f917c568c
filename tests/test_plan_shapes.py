"""Plan-shape regression net: the 100 TB story lives in the physical plans
(pushdown, pruning, broadcast choice, partial aggregation, no accidental
cross products). These assertions freeze the shapes the round-1/2 plan
audits verified by hand, so a refactor that silently degrades a plan fails
CI instead of the next scale-up.

Plans are inspected pre-execution (the AQE initial plan) — shape checks
need no data to run."""

from __future__ import annotations

import pytest

from active_query_optimizer_spark.operators import QUERIES

from .conftest import SF_SMALL

#: queries whose nested-loop / cross-product shape is the documented design
NESTED_LOOP_BY_DESIGN = {
    "nested_loop_theta_count",    # the §2.A Nested Loop operator itself
    "dedup_embedding_cosine",     # bounded all-pairs correctness baseline
    "ann_cosine_topk",            # broadcast query set × corpus exact scan
    "knn_label_vote",             # composes ann_cosine_topk's exact scan
    "range_join_value_bands",     # broadcast interval join (small bands)
    # single-ROW broadcast scalar frames (a global aggregate joined onto
    # every row) — the BroadcastNestedLoopJoin is 1 row × n, i.e. the
    # cheapest possible way to ship a global scalar to every task
    "sample_weighted_mix",        # global feasible-total scalar
    "sample_temperature_mixture", # global weight-sum + feasible-total
                                  # scalars (same class as weighted_mix)
    "stats_histogram_equiwidth",  # global (min,max) bounds scalar
    "stats_price_deciles_sketch", # global GK decile-boundary scalar (1 row)
    "embedding_outlier_flags",    # global norm-moments scalar frame
    # generated-spine completion: hour sequence × distinct type domain —
    # a cross join of two tiny GENERATED frames (thousands of rows),
    # never of scanned data
    "events_resample_hourly_gapfill",
    # single-row × single-row result assembly: two scalar aggregates
    # (edge count, triangle count) cross-joined into one output row
    "graph_triangle_count",
    # single-row global-average bar broadcast onto every customer row
    # (the same scalar-frame pattern as sample_weighted_mix)
    "tpch_q22_lapsed_high_balance",
    # single-row global-MAX frame broadcast onto the per-supplier revenue
    # aggregate (Q15's scalar subquery over its own view)
    "tpch_q15_top_supplier",
    # broadcast interval join of the tiny observed-day spine onto the
    # collapsed (day, user) pairs — the ≤7× sliding-window fan-out, never
    # a join of scanned fact data (same class as range_join_value_bands)
    "events_trailing_7d_active_users",
    # single-row grand-total frame broadcast onto the per-part aggregate
    # (Q11's HAVING-against-scalar-subquery bar)
    "tpch_q11_important_parts",
}


#: queries whose broadcast HINT subtree scans an SF-growing table but is
#: provably bounded — each with the bound that justifies it. Everything
#: else must not force-broadcast a frame whose lineage includes a table
#: that grows with the scale factor (at 100 TB a forced broadcast of a
#: billion-row build side is an executor OOM, not a plan choice).
BOUNDED_BROADCAST_BY_DESIGN = {
    # fixed-size query/seed sets selected by a LITERAL key predicate —
    # cardinality is a constant at every scale factor
    "ann_cosine_topk": "query set = vec_id < N_QUERIES (constant rows)",
    "knn_label_vote": "composes ann_cosine_topk's bounded query set",
    # (round-13: the kmeans entries left this list — seeds now ride as
    # bounded literals in the assignment expression, no broadcast hint)
    # single-row global-aggregate scalar frames
    "embedding_outlier_flags": "global norm-moments scalar (1 row)",
    "stats_histogram_equiwidth": "global (min,max) bounds scalar (1 row)",
    "stats_price_deciles_sketch":
        "single-row GK decile-boundary aggregate (9 values)",
    "sample_stratified_sketch":
        "per-source GK threshold frame (fixed source domain)",
    "tpch_q11_important_parts": "single-row grand-total scalar",
    "tpch_q15_top_supplier": "single-row global-MAX scalar",
    "tpch_q22_lapsed_high_balance": "single-row global-average scalar",
    # fixed-domain grouped frames (domain does not grow with SF)
    "events_anomaly_days": "per-event-type moments (fixed type domain)",
    "events_trailing_7d_active_users": "observed-day spine (calendar-bounded)",
    "sample_weighted_mix": "per-source rate frame (fixed source domain)",
    "sample_temperature_mixture": "per-lang rate frame (fixed lang domain)",
    # value-space-bounded distinct sets
    "join_bloom_prefilter_count": "distinct hash positions ≤ BLOOM_M",
    # the §2.A broadcast-join operator itself — documented as an
    # explorer CANDIDATE (one knob setting), never the default plan
    "broadcast_join_count": "the broadcast-strategy demo operator",
}

#: first-column prefix → table, for reading lineage out of analyzed-plan
#: Relation nodes (the analyzed plan prints columns, not paths)
_TABLE_BY_FIRST_COL = {
    "l_": "lineitem", "o_": "orders", "c_": "customer", "s_": "supplier",
    "p_": "part", "n_": "nation", "r_": "region",
}
SF_GROWING_TABLES = {"lineitem", "orders", "customer", "supplier", "part",
                     "events", "documents", "embeddings"}


def _relation_table(line: str) -> str:
    first = line.split("Relation [", 1)[1].split(",", 1)[0].split("#")[0]
    for pref, tab in _TABLE_BY_FIRST_COL.items():
        if first.startswith(pref):
            return tab
    if first.startswith("event"):
        return "events"
    if first.startswith("doc"):
        return "documents"
    return "embeddings"


def _node_start(line: str) -> int:
    i = 0
    while i < len(line) and line[i] in " :+-|":
        i += 1
    return i


def _forced_broadcast_sf_tables(df) -> set:
    """Tables from SF_GROWING_TABLES scanned inside any
    ``ResolvedHint (strategy=broadcast)`` subtree of df's analyzed plan."""
    lines = df._jdf.queryExecution().analyzed().toString().splitlines()
    bad: set = set()
    for i, ln in enumerate(lines):
        if "ResolvedHint (strategy=broadcast" not in ln:
            continue
        depth = _node_start(ln)
        for sub in lines[i + 1:]:
            if _node_start(sub) <= depth:
                break
            if "Relation [" in sub:
                tab = _relation_table(sub)
                if tab in SF_GROWING_TABLES:
                    bad.add(tab)
    return bad


def test_no_forced_broadcast_of_sf_growing_tables(spark):
    """Round-4 verdict item: no query may FORCE-broadcast a frame whose
    lineage scans an SF-growing table (part/supplier/customer/… all grow
    with the scale factor; nation=25 and region=5 rows do not). Bounded
    exceptions (scalar frames, literal-key-limited sets, fixed domains)
    are enumerated with their bound. Catalyst may still CHOOSE broadcast
    from size stats at bench SFs — that's runtime's call and degrades
    gracefully at scale; the F.broadcast() hint does not."""
    offenders = {}
    for name in QUERIES:
        if name in BOUNDED_BROADCAST_BY_DESIGN:
            continue
        bad = _forced_broadcast_sf_tables(QUERIES[name](spark, SF_SMALL))
        if bad:
            offenders[name] = sorted(bad)
    assert not offenders, f"forced SF-growing broadcasts: {offenders}"


def _plan(spark, name: str) -> str:
    return (QUERIES[name](spark, SF_SMALL)
            ._jdf.queryExecution().executedPlan().toString())


def test_no_accidental_cross_products(spark):
    """Sweep EVERY registered query: cartesian/broadcast-NL joins may only
    appear in the four documented nested-loop designs."""
    offenders = {}
    for name in QUERIES:
        plan = _plan(spark, name)
        has_nl = ("CartesianProduct" in plan
                  or "BroadcastNestedLoopJoin" in plan)
        if has_nl and name not in NESTED_LOOP_BY_DESIGN:
            offenders[name] = True
    assert not offenders, f"unexpected cross-product plans: {sorted(offenders)}"


def test_scan_filter_pushdown_and_pruning(spark):
    plan = _plan(spark, "scan_filter_count")
    assert "PushedFilters: [" in plan
    # at least one real pushed filter, not an empty list
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), "no filters reached the parquet scan"


def test_projection_prunes_read_schema(spark):
    plan = _plan(spark, "projection_join")
    # every scan reads a pruned schema, never the full table width
    for chunk in plan.split("ReadSchema: ")[1:]:
        schema = chunk.splitlines()[0]
        assert len(schema.split(",")) <= 4, f"unpruned scan: {schema}"


def test_flagship_broadcasts_small_dims(spark):
    plan = _plan(spark, "flagship_multijoin_count")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_sevenway_join_is_broadcast_chain(spark):
    """The 7-way star join: small dims broadcast; at most the two big
    fact-side joins shuffle."""
    plan = _plan(spark, "sevenway_join_count")
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 2


def test_pricing_summary_partial_aggregation(spark):
    """Partial+final aggregation (map-side combine) — two HashAggregate
    levels around the exchange."""
    plan = _plan(spark, "pricing_summary")
    assert plan.count("HashAggregate") >= 2, plan


def test_minhash_has_no_hardcoded_candidate_broadcast(spark):
    """Round-1 verdict item: the verification join must not hard-broadcast
    the candidate-pair set (it scales with the corpus). At tiny SF Catalyst
    still *chooses* broadcast from size stats — fine, that's runtime's
    decision; what must be gone is the F.broadcast() hint, which would
    force it at any scale. Hints surface as ResolvedHint nodes in the
    analyzed logical plan."""
    df = QUERIES["dedup_minhash_lsh"](spark, SF_SMALL)
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical, logical
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in physical
    assert "CartesianProduct" not in physical


@pytest.mark.parametrize("name", ["decontam_ngram_overlap"])
def test_decontam_broadcasts_benchmark_side(spark, name):
    plan = _plan(spark, name)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_latest_order_is_aggregate_not_window(spark):
    """max_by must plan as a partial+final hash aggregate — NO window
    operator and NO sort: that's the whole point of the arg-max
    aggregation over the window-rank idiom."""
    plan = _plan(spark, "latest_order_per_customer")
    assert "Window" not in plan
    assert "HashAggregate" in plan or "SortAggregate" in plan
    assert "max_by" in plan


def test_null_profile_single_scan_per_table(spark):
    """The null profile reads each table ONCE (count buffers aggregate in
    one pass; unpivot is an Expand over the single aggregate row), so the
    plan has exactly one parquet scan per profiled table."""
    plan = _plan(spark, "stats_null_profile")
    import re
    scans = re.findall(r"Scan parquet|FileScan parquet", plan)
    assert len(scans) == 2, f"expected 2 scans, got {len(scans)}"
    assert "Expand" in plan


def test_upsert_merge_join_shapes(spark):
    """CDC MERGE lowers to the expected relational steps: an anti join
    (deletes) and a left outer join (updates) on the snapshot key, plus
    a union for inserts."""
    plan = _plan(spark, "upsert_snapshot_apply")
    assert "LeftAnti" in plan
    assert "LeftOuter" in plan
    assert "Union" in plan


def test_rolling_window_is_single_exchange_range_frame(spark):
    """The RANGE-frame rolling window plans as one hash exchange on the
    partition key + an in-partition sort + a window — specifically a
    RANGE frame (value-distance), not ROWS."""
    plan = _plan(spark, "window_rolling_7day_avg")
    assert "Window" in plan
    assert "RangeFrame" in plan, "frame degraded to RowFrame"
    assert plan.count("Exchange hashpartitioning") == 1


def test_load_for_compute_repartition_is_conditional(spark, tmp_path):
    """Round-13 verdict item #2: the compute-family fan-out repartition
    must only fire when the parquet scan itself would underutilize the
    cluster. A multi-file table whose estimated scan-task count already
    reaches parallelism/2 is returned unshuffled (at 100 TB the scan
    yields thousands of splits — an unconditional repartition there was a
    full-payload shuffle per query); the single-file bench tables keep
    the explicit fan-out."""
    import os

    from active_query_optimizer_spark.catalog import load_for_compute

    src = spark.range(0, 10_000).selectExpr(
        "id AS doc_id", "repeat('x', 64) AS text")
    # at least parallelism files, so the scan alone reaches parallelism/2
    # whatever core count the session runs with
    n_files = max(8, spark.sparkContext.defaultParallelism)
    (src.repartition(n_files).write.mode("overwrite")
        .parquet(os.path.join(str(tmp_path), "documents.parquet")))

    wide = load_for_compute(spark, str(tmp_path), "documents", "doc_id")
    plan = wide._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, f"wide scan still repartitioned:\n{plan}"

    narrow = load_for_compute(spark, SF_SMALL, "documents", "doc_id")
    plan2 = narrow._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan2, (
        f"small scan lost its fan-out repartition:\n{plan2}")


@pytest.mark.parametrize("name,exchanges,python_nodes", [
    ("flagship_multijoin_count", 3, 0),
    ("decontam_substring_containment", 9, 3),
    ("dedup_simhash", 1, 1),
])
def test_capture_plan_counts_each_node_once(spark, name, exchanges,
                                            python_nodes):
    """``tools/capture_plan.py`` counts physical plan nodes, not
    substrings of the formatted explain, which names every node twice
    (tree and detail block) and in which ``ArrowEvalPython`` matched two
    patterns: the text count read 6/0, 18/12 and 2/4 here. The counts are
    the test session's (8 cores, where ``documents`` is repartitioned
    before compute; at 4 cores the last two read 5/3 and 0/1)."""
    import importlib.util
    from pathlib import Path

    path = Path(__file__).resolve().parent.parent / "tools" / "capture_plan.py"
    spec = importlib.util.spec_from_file_location("capture_plan_tool", path)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    _, counts = tool.capture(spark, name, SF_SMALL)
    assert counts == {"plan.exchanges": exchanges,
                      "plan.python_nodes": python_nodes}
