"""Tests for the stats harvester (SURVEY §2.B) and workload layer (§2.C)."""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF_SMALL

from active_query_optimizer_spark.catalog import load_table
from active_query_optimizer_spark.stats import harvester as H
from active_query_optimizer_spark.workload import extract as X
from active_query_optimizer_spark.workload import generate as G
from active_query_optimizer_spark.workload import template as TPL
from active_query_optimizer_spark.sources import workload_text as WT


# ---------------------------------------------------------------- stats

def test_numeric_ranges_match_oracle(spark, duck):
    o = load_table(spark, SF_SMALL, "orders")
    got = H.numeric_ranges(o)
    exp = duck.sql(
        "SELECT MIN(o_totalprice), MAX(o_totalprice), MIN(o_orderkey), "
        "MAX(o_orderkey) FROM orders").fetchone()
    assert got["o_totalprice"]["min"] == pytest.approx(exp[0])
    assert got["o_totalprice"]["max"] == pytest.approx(exp[1])
    assert got["o_orderkey"] == {"min": exp[2], "max": exp[3]}


def test_epoch_view_nondestructive(spark):
    o = load_table(spark, SF_SMALL, "orders")
    assert H.find_timestamp_columns(o) == ["o_orderdate"]
    epoch = H.epoch_seconds_view(o)
    assert dict(epoch.dtypes)["o_orderdate"] == "bigint"
    assert dict(o.dtypes)["o_orderdate"].startswith("timestamp")


def test_string_stats_distinct_vs_topk(spark, duck):
    o = load_table(spark, SF_SMALL, "orders")
    stats = H.string_value_stats(o, ["o_orderstatus", "o_orderpriority"])
    exp = {r[0] for r in duck.sql(
        "SELECT DISTINCT o_orderstatus FROM orders "
        "WHERE o_orderstatus IS NOT NULL").fetchall()}
    assert stats["o_orderstatus"]["kind"] == "distinct"
    assert set(stats["o_orderstatus"]["values"]) == exp
    # high-cardinality path: force topk with a tiny cap
    top = H.string_value_stats(o, ["o_orderstatus"], max_values=1)
    assert top["o_orderstatus"]["kind"] == "topk"
    assert len(top["o_orderstatus"]["values"]) == 1


def test_harvest_and_persist_roundtrip(spark, tmp_path):
    rd = H.harvest_range_dict(spark, SF_SMALL, tables=("nation", "region"))
    assert rd["nation"]["n_nationkey"]["type"] == "numeric"
    assert rd["region"]["r_name"]["type"] == "string"
    p = os.path.join(tmp_path, "range_dict.json")
    H.write_infos(rd, p)
    assert H.read_infos(p) == rd


def test_filter_column_restriction(spark):
    n = load_table(spark, SF_SMALL, "nation")
    only = H.harvest_table_stats(n, filter_columns={"n_name"})
    assert set(only) == {"n_name"}


# ------------------------------------------------------------- workload

SEED_SQL = ("SELECT COUNT(*) FROM orders o, customer c, nation n "
            "WHERE o.o_custkey = c.c_custkey AND c.c_nationkey = n.n_nationkey "
            "AND o.o_totalprice > 100000 AND n.n_name != 'NATION_3'")


def test_mine_conditions():
    joins, filters = X.mine_conditions(SEED_SQL)
    assert ("customer.c_custkey", "orders.o_custkey") in joins
    assert ("customer.c_nationkey", "nation.n_nationkey") in joins
    assert ("orders", "o_totalprice") in filters
    assert ("nation", "n_name") in filters


#: a FROM clause in explicit ``JOIN … ON`` form (the generator emits
#: comma-FROM only; SQL handed to ``choose_plan`` may use either)
JOIN_ON_SQL = ("SELECT COUNT(*) FROM orders o JOIN customer c "
               "ON o.o_custkey = c.c_custkey JOIN nation n "
               "ON c.c_nationkey = n.n_nationkey")


def test_extract_aliases_join_on_and_comma_from():
    """``JOIN … ON`` relations resolve to their aliases (the comma-only
    split read ``n.n_nationkey`` as a relation), and every comma-FROM seed
    query reads exactly as the comma split reads it."""
    assert X.extract_aliases(JOIN_ON_SQL) == {
        "o": "orders", "c": "customer", "n": "nation"}
    assert X.extract_aliases(
        "SELECT 1 FROM a x LEFT OUTER JOIN b USING (k) "
        "INNER JOIN d z ON coalesce(x.k, b.k) = z.k") == {
            "x": "a", "b": "b", "z": "d"}
    for sql in G.SEED_WORKLOAD:
        comma = {}
        for part in X.FROM_RE.search(sql).group(1).split(","):
            am = X.ALIAS_RE.search(part.strip())
            if am and "(" not in part:
                comma[am.group(2) or am.group(1)] = am.group(1)
        assert X.extract_aliases(sql) == comma, sql


def test_join_graph_and_distributions():
    graph = X.build_join_graph(X.mine_conditions(SEED_SQL)[0])
    assert ("customer", "o_custkey", "c_custkey") in graph["orders"]
    jd, fd = X.count_distributions([SEED_SQL])
    assert jd == {2: 1} and fd == {2: 1}


def test_generated_workload_runs_on_spark_and_duckdb(spark, duck):
    from active_query_optimizer_spark.catalog import register_views

    register_views(spark, SF_SMALL)
    rd = H.harvest_range_dict(
        spark, SF_SMALL,
        tables=("region", "nation", "customer", "supplier", "orders"))
    wl = G.generate_workload(spark, rd, num_sql=8, seed=7).collect()
    assert len(wl) == 8
    for row in wl:
        sql = row["sql"]
        assert sql.startswith("SELECT COUNT(*) FROM")
        got = spark.sql(sql).collect()[0][0]
        exp = duck.sql(sql).fetchone()[0]
        assert got == exp, sql


def test_generation_is_seed_deterministic(spark):
    rd = {"orders": {"o_totalprice": {"type": "numeric",
                                      "min": 1.0, "max": 9.0}}}
    a = [r["sql"] for r in G.generate_workload(spark, rd, 5, seed=1).collect()]
    b = [r["sql"] for r in G.generate_workload(spark, rd, 5, seed=1).collect()]
    c = [r["sql"] for r in G.generate_workload(spark, rd, 5, seed=2).collect()]
    assert a == b
    assert a != c


def test_workload_profile_distribution(spark):
    df = spark.createDataFrame(
        [(0, SEED_SQL), (1, SEED_SQL),
         (2, "SELECT COUNT(*) FROM nation n WHERE n.n_nationkey > 1")],
        "id long, sql string")
    dist = {r["n_joins"]: r["n_queries"]
            for r in X.workload_profile(df).collect()}
    assert dist == {0: 1, 2: 2}


def test_template_mode_workload_runs(spark, duck):
    from active_query_optimizer_spark.catalog import register_views

    register_views(spark, SF_SMALL)
    rd = H.harvest_range_dict(
        spark, SF_SMALL,
        tables=("region", "nation", "customer", "supplier", "orders", "part",
                "lineitem"))
    wl = G.generate_workload_template(spark, rd, num_sql=6, seed=5).collect()
    assert len(wl) == 6
    for row in wl:
        got = spark.sql(row["sql"]).collect()[0][0]
        exp = duck.sql(row["sql"]).fetchone()[0]
        assert got == exp, row["sql"]
    # template mode keeps a seed query's full join-condition set intact
    joins = {tuple(X.mine_conditions(r["sql"])[0]) for r in wl}
    seed_joins = {tuple(X.mine_conditions(s)[0]) for s in G.SEED_WORKLOAD}
    assert joins <= seed_joins


def test_imdb_style_filters(spark, duck):
    from active_query_optimizer_spark.catalog import register_views

    register_views(spark, SF_SMALL)
    rd = H.harvest_range_dict(spark, SF_SMALL,
                              tables=("nation", "region", "part", "customer"))
    seeds = ["SELECT COUNT(*) FROM part p, lineitem l "
             "WHERE l.l_partkey = p.p_partkey",
             "SELECT COUNT(*) FROM customer c, nation n "
             "WHERE c.c_nationkey = n.n_nationkey"]
    wl = G.generate_workload_template(spark, rd, num_sql=20, seed=11,
                                      seed_workload=seeds,
                                      imdb_style=True).collect()
    text = "\n".join(r["sql"] for r in wl)
    # JOB-style op mix present (weights favor !=, LIKE, IN)
    assert " IN (" in text and "LIKE '%" in text
    for row in wl[:6]:
        got = spark.sql(row["sql"]).collect()[0][0]
        exp = duck.sql(row["sql"]).fetchone()[0]
        assert got == exp, row["sql"]


# ------------------------------------------------------------- template

def test_template_fingerprint_ignores_literals():
    a = SEED_SQL
    b = a.replace("100000", "555").replace("NATION_3", "NATION_9")
    assert TPL.fingerprint(a) == TPL.fingerprint(b)
    c = a.replace("AND o.o_totalprice > 100000", "")
    assert TPL.fingerprint(a) != TPL.fingerprint(c)  # filter-col set differs
    assert TPL.fingerprint(a, include_filters=False) == \
        TPL.fingerprint(c, include_filters=False)
    assert TPL.find_matching_template(b, [c]) == 0


# -------------------------------------------------------------- sources

def test_workload_text_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(0, "SELECT 1"), (1, "SELECT 2")],
                               "id long, sql string")
    path = os.path.join(tmp_path, "wl")
    WT.write_workload_text(df, path)
    back = {r["qid"]: r["sql"] for r in
            WT.read_workload_text(spark, path).collect()}
    assert back == {"0": "SELECT 1", "1": "SELECT 2"}


def test_read_plan_bundles(spark, tmp_path):
    p1, p2 = '{"Plan": {"Node Type": "Seq Scan"}}', '{"Plan": {"Node Type": "Sort"}}'
    path = os.path.join(tmp_path, "bundles.txt")
    with open(path, "w") as f:
        f.write(f"q1#####{p1}#####{p2}\n")
        f.write(f"{p1}#####{p2}\n")  # qid-less train-file form
    rows = WT.read_plan_bundles(spark, str(path)).collect()
    assert len(rows) == 4
    byq = {}
    for r in rows:
        byq.setdefault(r["qid"], []).append((r["candidate_idx"], r["plan_json"]))
    assert sorted(byq["q1"]) == [(0, p1), (1, p2)]


def test_join_size_exact_matches_executed_join(spark):
    """The histogram-product cardinality must equal the row count of the
    actually-executed join — the ground-truth contract that makes it a
    valid labeler for cardinality-estimate training."""
    from active_query_optimizer_spark.operators import QUERIES

    got = {r["join_name"]: r["exact_rows"]
           for r in QUERIES["stats_join_size_exact"](spark, SF_SMALL)
           .collect()}
    o = load_table(spark, SF_SMALL, "orders")
    c = load_table(spark, SF_SMALL, "customer")
    li = load_table(spark, SF_SMALL, "lineitem")
    assert got["orders_customer_custkey"] == \
        o.join(c, o.o_custkey == c.c_custkey).count()
    assert got["lineitem_orders_orderkey"] == \
        li.join(o, li.l_orderkey == o.o_orderkey).count()


def test_join_size_cm_sketch_bounds_exact(spark):
    """CountMin inner-product estimate: never below the exact join size
    (collisions only add), and within the expected collision inflation
    at this scale (~|A|·|B|/W extra)."""
    from active_query_optimizer_spark.operators import QUERIES
    from active_query_optimizer_spark.operators.statsops import CM_W

    exact = {r["join_name"]: r["exact_rows"]
             for r in QUERIES["stats_join_size_exact"](spark, SF_SMALL)
             .collect()}["orders_customer_custkey"]
    est = QUERIES["stats_join_size_cm_sketch"](spark, SF_SMALL) \
        .collect()[0]["est_rows"]
    assert est >= exact, "CM sketch underestimated — impossible by design"
    o = load_table(spark, SF_SMALL, "orders").count()
    c = load_table(spark, SF_SMALL, "customer").count()
    slack = 8 * o * c / CM_W        # 8x the expected collision mass
    assert est <= exact + max(slack, 1), (est, exact, slack)


def test_approx_cardinalities_error_bound_and_determinism(spark):
    """HLL-only harvester lane: every estimate within the sketch's error
    envelope of the exact NDV (rsd=0.05 default; 5x rsd is a ~5-sigma
    bound — deterministic sketch, so this is a fixed margin, not a flaky
    statistical test), and bit-identical across runs."""
    from pyspark.sql import functions as F

    from active_query_optimizer_spark.operators import QUERIES

    cust = load_table(spark, SF_SMALL, "customer")
    approx = H.approx_column_cardinalities(cust)
    assert approx  # numeric + string columns all covered, one pass
    exact = cust.agg(*[F.countDistinct(c).alias(c) for c in approx]
                     ).collect()[0].asDict()
    for c, est in approx.items():
        assert abs(est - exact[c]) <= max(2, 0.25 * exact[c]), (
            c, est, exact[c])
    # determinism: HLL++ is hash-based, no RNG
    assert approx == H.approx_column_cardinalities(cust)

    # the registry entry unpivots the same estimates to rows; spot-check
    # it agrees with the harvester function and is run-to-run stable
    reg = {(r["table_name"], r["column"]): r["ndv_approx"] for r in
           QUERIES["stats_column_cardinalities_approx"](
               spark, SF_SMALL).collect()}
    assert reg
    for c, est in approx.items():
        if ("customer", c) in reg:
            assert reg[("customer", c)] == est, c
    reg2 = {(r["table_name"], r["column"]): r["ndv_approx"] for r in
            QUERIES["stats_column_cardinalities_approx"](
                spark, SF_SMALL).collect()}
    assert reg == reg2


def test_length_percentile_sketch_rank_bound_and_determinism(spark):
    """Registry sketch-percentile lane: each approx value must be an
    actual group element whose RANK is within the GK error envelope of
    the target rank (accuracy=10k => exact at harvest-test n), and the
    whole frame is bit-identical across runs."""
    from active_query_optimizer_spark.operators import QUERIES

    rows = QUERIES["stats_length_percentiles_approx"](
        spark, SF_SMALL).collect()
    assert rows
    d = load_table(spark, SF_SMALL, "documents")
    by_lang = {}
    for r in d.select("lang", "n_chars").collect():
        by_lang.setdefault(r["lang"], []).append(r["n_chars"])
    for r in rows:
        vals = sorted(by_lang[r["lang"]])
        n = len(vals)
        assert r["n_docs"] == n
        for p, col in ((0.5, "p50_chars"), (0.9, "p90_chars"),
                       (0.99, "p99_chars")):
            v = r[col]
            assert v in by_lang[r["lang"]], (r["lang"], col, v)
            # rank error <= n/accuracy (+1 element of slack for ties)
            import bisect
            lo = bisect.bisect_left(vals, v)
            hi = bisect.bisect_right(vals, v) - 1
            target = p * (n - 1)
            slack = n / 10_000 + 1
            assert lo - slack <= target <= hi + slack, (
                r["lang"], col, v, lo, hi, target)
    again = QUERIES["stats_length_percentiles_approx"](
        spark, SF_SMALL).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_decile_sketch_matches_exact_anchor_within_rank_error(spark):
    """Production decile path vs the exact ntile(10) anchor
    (``stats_price_deciles``): every GK boundary's rank window must
    intersect the target rank ±(n/accuracy + tie slack), bucket
    populations must cover the whole table and each be within the same
    envelope of n/10, and bucket value ranges must be monotone."""
    import bisect

    from active_query_optimizer_spark.operators import QUERIES
    from active_query_optimizer_spark.operators.statsops import (
        DECILE_SKETCH_ACC)

    rows = sorted(QUERIES["stats_price_deciles_sketch"](
        spark, SF_SMALL).collect(), key=lambda r: r["decile"])
    o = load_table(spark, SF_SMALL, "orders")
    cents = sorted(r[0] for r in o.selectExpr(
        "cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)"
    ).collect())
    n = len(cents)
    slack = n / DECILE_SKETCH_ACC + 1

    assert sum(r["n"] for r in rows) == n
    # bucket ids are a subset of 1..10, strictly increasing with
    # non-overlapping monotone [lo, hi] value ranges
    ids = [r["decile"] for r in rows]
    assert ids == sorted(set(ids)) and ids[0] >= 1 and ids[-1] <= 10
    for a, b in zip(rows, rows[1:]):
        assert a["lo_cents"] <= a["hi_cents"] < b["lo_cents"], (a, b)

    # each bucket's upper boundary (= hi of the bucket, which the GK
    # element defines via the `cents > b` predicate) sits within the
    # rank envelope of its target decile rank; each population within
    # the same envelope of n/10 (+ tie mass at the boundary value)
    cum = 0
    for r in rows[:-1]:
        cum += r["n"]
        b = r["hi_cents"]
        lo_rank = bisect.bisect_left(cents, b)
        hi_rank = bisect.bisect_right(cents, b)
        target = r["decile"] * n / 10
        assert lo_rank - slack <= target <= hi_rank + slack, (
            r["decile"], b, lo_rank, hi_rank, target)
        ties = hi_rank - lo_rank
        assert abs(cum - target) <= slack + ties, (r["decile"], cum, target)


def test_decile_sketch_plan_has_no_global_sort(spark):
    """The whole point of the production path: NO total order. The exact
    anchor's plan range-partitions for ntile (positive control); the
    sketch path must show no single-partition/range exchange, no Sort
    and no Window operator anywhere."""
    from active_query_optimizer_spark.operators import QUERIES

    sketch_plan = (QUERIES["stats_price_deciles_sketch"](spark, SF_SMALL)
                   ._jdf.queryExecution().executedPlan().toString())
    anchor_plan = (QUERIES["stats_price_deciles"](spark, SF_SMALL)
                   ._jdf.queryExecution().executedPlan().toString())
    # positive control: the ntile anchor funnels every RAW row through
    # one sorted partition (the total order the sketch path removes)
    assert "Exchange SinglePartition" in anchor_plan, anchor_plan
    assert "Sort [" in anchor_plan and "Window" in anchor_plan
    for marker in ("rangepartitioning", "Sort [", "Window"):
        assert marker not in sketch_plan, (marker, sketch_plan)
    # the sketch path's only single-partition exchange is the GK summary
    # merge: each feeds a final percentile_approx over per-partition
    # sketch BUFFERS (one row each), never raw rows
    chunks = sketch_plan.split("Exchange SinglePartition")[1:]
    assert chunks, sketch_plan
    for below in chunks:
        first_agg = below.split("Aggregate", 1)[0] + "Aggregate" + \
            below.split("Aggregate", 1)[1].splitlines()[0]
        assert "partial_percentile_approx" in first_agg, (first_agg,
                                                          sketch_plan)


def test_corr_moments_yield_valid_coefficient(spark):
    """The harvested integer moment vectors must reduce to a well-formed
    Pearson coefficient (|r| <= 1) and reproduce numpy's corrcoef on the
    same fixed-point data — the contract that makes the harvest usable
    for independence checks."""
    import math

    import numpy as np

    from active_query_optimizer_spark.operators import QUERIES

    rows = QUERIES["stats_corr_qty_discount"](spark, SF_SMALL).collect()
    assert rows
    li = load_table(spark, SF_SMALL, "lineitem")
    from pyspark.sql import functions as F
    data = li.select("l_returnflag",
                     F.col("l_quantity").cast("long").alias("q"),
                     F.floor(F.col("l_discount") * 100 + 0.5)
                     .cast("long").alias("du")).collect()
    by_flag = {}
    for r in data:
        by_flag.setdefault(r["l_returnflag"], []).append((r["q"], r["du"]))
    for r in rows:
        n, sq, sd = r["n"], r["sum_q"], r["sum_d"]
        sq2, sd2, sqd = r["sum_q2"], r["sum_d2"], r["sum_qd"]
        num = n * sqd - sq * sd
        den = math.sqrt((n * sq2 - sq * sq) * (n * sd2 - sd * sd))
        assert den > 0
        rr = num / den
        assert -1.0 <= rr <= 1.0
        arr = np.array(by_flag[r["l_returnflag"]], dtype=np.float64)
        expect = np.corrcoef(arr[:, 0], arr[:, 1])[0, 1]
        assert abs(rr - expect) < 1e-9, (r["l_returnflag"], rr, expect)
