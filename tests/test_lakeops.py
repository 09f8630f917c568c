"""Targeted tests for the lakehouse table-ops family (operators/lakeops.py,
the CDC extensions in operators/cdcops.py) and graph_bfs_hops — properties
the generic oracle-parity sweep can't express."""

from __future__ import annotations

from pyspark.sql import functions as F

from active_query_optimizer_spark.operators import QUERIES
from active_query_optimizer_spark.operators.cdcops import cdc_frames
from active_query_optimizer_spark.operators.dedup import graph_bfs_hops
from active_query_optimizer_spark.operators.lakeops import ZORDER_BUCKET_DIV

from .conftest import SF_MED, SF_SMALL


def test_dq_report_exercises_both_statuses(spark):
    """Exactly one constraint (the deliberate freshness bar) fails; the
    other five pass with zero violations — the report must prove the
    fail path works, not just emit six greens."""
    rep = {r.check_name: r for r in
           QUERIES["dq_constraint_report"](spark, SF_MED).collect()}
    assert len(rep) == 6
    fails = {n for n, r in rep.items() if r.status == "fail"}
    assert fails == {"orderdate_before_1999"}
    assert rep["orderdate_before_1999"].violations > 0
    for name in rep:
        if name not in fails:
            assert rep[name].violations == 0, (name, rep[name])


def test_dq_fk_anti_join_is_broadcast(spark):
    """The referential-integrity check's anti-join must broadcast the
    customer side — a shuffled anti-join over the fact table is the
    wrong 100 TB plan."""
    df = QUERIES["dq_constraint_report"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan[:2000]


def test_scd2_history_accounts_for_every_key(spark):
    """SCD2 bookkeeping identities: closed + current rows reconstruct
    both snapshot versions exactly — n_history(v1-era) = |v1| and
    n_current = |v2|."""
    snap, _batch, merged = cdc_frames(spark, SF_SMALL)
    n_v1, n_v2 = snap.count(), merged.count()
    hist = QUERIES["scd2_history_build"](spark, SF_SMALL).collect()
    n_current = sum(r.n_rows for r in hist if r.is_current)
    # v1-era rows: every non-insert history row with valid_from=0 — the
    # aggregate output can't see valid_from, but v1-era == everything
    # except the 'inserted' current rows and the 'updated' current rows
    n_v1_era = sum(r.n_rows for r in hist) - sum(
        r.n_rows for r in hist
        if r.is_current and r.change_type in ("updated", "inserted"))
    assert n_v1_era == n_v1
    assert n_current == n_v2


def test_incremental_agg_equals_merge_then_rescan(spark):
    """The materialized-view identity on the Spark side too: the
    delta-maintained aggregate is row-identical to aggregating the
    merged snapshot (the oracle already pins both to DuckDB; this pins
    them to each other without an engine in between)."""
    inc = {r.status: (r.n_rows, r.sum_cents) for r in
           QUERIES["incremental_agg_maintenance"](spark, SF_SMALL).collect()}
    ups = {r.status: (r.n_rows, r.sum_cents) for r in
           QUERIES["upsert_snapshot_apply"](spark, SF_SMALL).collect()}
    assert inc == ups


def test_zorder_buckets_are_narrow_in_both_dimensions(spark):
    """The data-skipping property: inside every Z-range bucket only the
    low 9 bits of each dimension vary, so both the custkey span and the
    epoch-day span are < 512 — while the table's global spans are far
    wider. A single-column sort would give a narrow span in one
    dimension and the full global span in the other."""
    prof = QUERIES["zorder_layout_profile"](spark, SF_MED).collect()
    assert len(prof) > 4  # genuinely multi-bucket at sf0.01
    for r in prof:
        assert r.max_ck - r.min_ck < 512, r
        assert r.max_day - r.min_day < 512, r
    global_ck = max(r.max_ck for r in prof) - min(r.min_ck for r in prof)
    global_day = max(r.max_day for r in prof) - min(r.min_day for r in prof)
    assert global_ck >= 512 or global_day >= 512
    # ZORDER_BUCKET_DIV is the contract the 512-bound derives from
    assert ZORDER_BUCKET_DIV == 2 ** 18


def test_bfs_hop0_equals_seed_count(spark):
    """Hop 0 of graph_bfs_hops is the corpus seed count, seeds in no
    near-dup edge included (the per-hop layers are pinned by the
    oracle)."""
    hops = {r.hops: r.n_docs for r in
            graph_bfs_hops(spark, SF_SMALL).collect()}
    n_seeds = (spark.read.parquet(f"{SF_SMALL}/documents.parquet")
               .filter(F.col("doc_id") % 100 == 0).count())
    assert hops[0] == n_seeds


def test_pareto_front_matches_bruteforce(spark):
    """The sort-based skyline must equal the O(n²) dominance definition:
    kept ⟺ no same-customer order has BOTH strictly higher price and
    strictly later day."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS "
                f"SELECT * FROM '{SF_SMALL}/orders.parquet'")
    rows = con.execute("""
        SELECT o_custkey, o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2))*100 AS BIGINT),
               CAST(epoch(o_orderdate) AS BIGINT) // 86400
        FROM orders""").fetchall()
    by_cust: dict = {}
    for ck, ok, pc, ed in rows:
        by_cust.setdefault(ck, []).append((ok, pc, ed))
    want = set()
    for ck, os_ in by_cust.items():
        for ok, pc, ed in os_:
            if not any(pc2 > pc and ed2 > ed for _, pc2, ed2 in os_):
                want.add((ck, ok))
    got = {(r.o_custkey, r.o_orderkey) for r in
           QUERIES["pareto_front_orders"](spark, SF_SMALL).collect()}
    assert got == want


def test_decay_sum_single_window_operator(spark):
    """The ten LAG terms share one window spec and must collapse into a
    single Window physical operator (one sort), not ten."""
    df = QUERIES["events_decay_weighted_sum"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") - plan.count("WindowGroupLimit") <= 2, \
        plan[:3000]


def test_decay_sum_replica(spark):
    """Python replica of the decay fold on one user's event sequence."""
    from decimal import Decimal

    out = {r.event_id: (r.decay_cents, r.w_sum) for r in
           QUERIES["events_decay_weighted_sum"](spark, SF_SMALL).collect()}
    ev = (spark.read.parquet(f"{SF_SMALL}/events.parquet")
          .select("user_id", "event_id", "value").collect())
    by_user: dict = {}
    for r in ev:
        cents = int(Decimal(str(r.value)).quantize(Decimal("0.01")) * 100)
        by_user.setdefault(r.user_id, []).append((r.event_id, cents))
    for _u, seq in by_user.items():
        seq.sort()
        for i, (eid, _c) in enumerate(seq):
            num = den = 0
            for k in range(10):
                if i - k < 0:
                    break
                wt = 2 ** (9 - k)
                num += seq[i - k][1] * wt
                den += wt
            assert out[eid] == (num, den), (eid, out[eid], (num, den))


def test_percent_rank_bounds_and_extremes(spark):
    """pr ∈ [0,1]; every multi-row language hits both 0 and 1 exactly
    once (unique tie-broken order ⇒ no duplicated extreme ranks)."""
    rows = QUERIES["quality_length_percent_rank"](spark, SF_SMALL).collect()
    by_lang: dict = {}
    for r in rows:
        assert 0.0 <= r.pr <= 1.0
        by_lang.setdefault(r.lang, []).append(r.pr)
    for lang, prs in by_lang.items():
        if len(prs) > 1:
            assert prs.count(0.0) == 1 and prs.count(1.0) == 1, lang


def test_scd2_single_fullouter_join(spark):
    """The history expansion must be one explode over ONE full-outer
    join — a union of filtered projections would execute the join (and
    the whole merge lineage) once per branch."""
    df = QUERIES["scd2_history_build"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FullOuter") == 1, plan[:3000]
    assert "Generate explode" in plan, plan[:3000]


def test_incremental_agg_scans_batch_once(spark):
    """The delta projection is conditional-expression, not three
    filtered branches: the plan reads the orders scan exactly twice
    (base aggregate + batch carve), not four times."""
    df = QUERIES["incremental_agg_maintenance"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") <= 2, plan[:3000]


def test_reservoir_is_take_ordered_not_global_sort(spark):
    """ORDER BY rank LIMIT k must lower to TakeOrderedAndProject (per-
    partition k-heaps merged on the driver), never a materialized global
    sort; and the sample size is exactly k when the table has ≥ k rows."""
    df = QUERIES["stats_reservoir_sample_profile"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    total = sum(r.n_sampled for r in df.collect())
    assert total == 256


def test_time_weighted_segments_identity(spark):
    """Each user with n events contributes exactly n-1 segments — the
    LEAD pairing must drop precisely one (the last) event per user."""
    out = {r.user_id: r.n_segments for r in
           QUERIES["events_time_weighted_value"](spark, SF_SMALL).collect()}
    from active_query_optimizer_spark.catalog import load_table

    per_user = {r.user_id: r.n for r in
                load_table(spark, SF_SMALL, "events")
                .groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
                .collect()}
    for u, n in per_user.items():
        assert out.get(u, 0) == n - 1, (u, n, out.get(u))


def test_basket_pairs_bounded_by_marginals(spark):
    """Pair support can never exceed either brand's own order count, and
    the pair key is canonically ordered (brand_a < brand_b)."""
    rows = QUERIES["basket_brand_pairs"](spark, SF_SMALL).collect()
    assert rows
    from active_query_optimizer_spark.catalog import load_table

    l = load_table(spark, SF_SMALL, "lineitem")
    p = load_table(spark, SF_SMALL, "part")
    marg = {r.p_brand: r.n for r in
            l.join(p, l.l_partkey == p.p_partkey)
            .select("l_orderkey", "p_brand").distinct()
            .groupBy("p_brand").agg(F.count(F.lit(1)).alias("n")).collect()}
    for r in rows:
        assert r.brand_a < r.brand_b
        assert r.n_orders <= min(marg[r.brand_a], marg[r.brand_b])


def test_gini_matches_numpy_replica(spark):
    """Integer Gini fraction equals the float formula computed in numpy
    (within float tolerance), and sits in [0, 1)."""
    import numpy as np

    row = QUERIES["stats_revenue_gini"](spark, SF_SMALL).collect()[0]
    from active_query_optimizer_spark.catalog import load_table

    cents = np.sort(np.array(
        [r.cents for r in
         load_table(spark, SF_SMALL, "orders")
         .groupBy("o_custkey")
         .agg(F.sum(F.expr(
             "cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)"))
             .alias("cents")).collect()], dtype=np.int64))
    n = len(cents)
    i = np.arange(1, n + 1, dtype=np.int64)
    num = int(((2 * i - n - 1) * cents).sum())
    den = int(n * cents.sum())
    assert (row.gini_num, row.gini_den, row.n_customers) == (num, den, n)
    g = row.gini_num / row.gini_den
    assert 0.0 <= g < 1.0


def test_transition_totals_identity(spark):
    """Σ transitions == n_events − n_users (each user stream of length k
    yields exactly k−1 consecutive pairs)."""
    rows = QUERIES["events_transition_matrix"](spark, SF_SMALL).collect()
    total = sum(r.n_transitions for r in rows)
    from active_query_optimizer_spark.catalog import load_table

    ev = load_table(spark, SF_SMALL, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert total == n_events - n_users


def test_rfm_cells_partition_customers(spark):
    """Cells tile the customer set exactly; every axis marginal is an
    NTILE partition (bucket sizes differ by at most 1)."""
    rows = QUERIES["orders_rfm_segments"](spark, SF_SMALL).collect()
    n_cust = (spark.read.parquet(f"{SF_SMALL}/orders.parquet")
              .select("o_custkey").distinct().count())
    assert sum(r.n_customers for r in rows) == n_cust
    for axis in ("r_bucket", "f_bucket", "m_bucket"):
        marg: dict = {}
        for r in rows:
            b = getattr(r, axis)
            assert 1 <= b <= 4
            marg[b] = marg.get(b, 0) + r.n_customers
        sizes = sorted(marg.values())
        assert sizes[-1] - sizes[0] <= 1, (axis, marg)


def test_vocab_stats_identities(spark):
    """n_hapax ≤ n_distinct ≤ n_tokens per source, and Σ n_tokens equals
    the corpus token count."""
    rows = QUERIES["text_vocab_stats"](spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r.n_hapax <= r.n_distinct <= r.n_tokens, r
    from active_query_optimizer_spark.catalog import load_table
    from active_query_optimizer_spark.functions import texttools as tt

    total = (load_table(spark, SF_SMALL, "documents")
             .select(F.size(tt.tokens(F.col("text"))).alias("n"))
             .agg(F.sum("n")).collect()[0][0])
    assert sum(r.n_tokens for r in rows) == total


def test_burst_flag_fires_at_sf001(spark):
    """The screen must catch somebody at the driver's scale factor —
    a flag that never fires proves nothing."""
    rows = QUERIES["events_burst_users"](spark, SF_MED).collect()
    flagged = [r for r in rows if r.is_burst]
    assert flagged, "no burst users flagged at sf0.01"
    for r in rows:
        assert r.max_per_hour <= r.n_events


def test_kmeans_step_partitions_vectors_and_broadcasts_seeds(spark):
    """Every vector lands in exactly one centroid (Σn over cids at any
    dim == |embeddings|, and n is dim-invariant per cid); all cids are
    seed ids. Round-13 plan shape: assignment is MAP-ONLY (seeds ride
    as literals — no broadcast, no join, no cross product) and the only
    exchange is the (cid, dim) update aggregate."""
    df = QUERIES["embedding_kmeans_step"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan, plan[:2000]
    assert "Join" not in plan, plan[:2000]
    n_exchange = plan.count("+- Exchange") + plan.count(":- Exchange")
    assert n_exchange <= 2, plan[:2000]  # load repartition + update agg
    rows = df.collect()
    n_vec = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").count()
    by_cid: dict = {}
    for r in rows:
        assert 0 <= r.cid < 8
        by_cid.setdefault(r.cid, set()).add(r.n)
    assert all(len(v) == 1 for v in by_cid.values())  # n dim-invariant
    assert sum(next(iter(v)) for v in by_cid.values()) == n_vec


def test_yoy_alignment_matches_self_join(spark):
    """The lag-within-month form must equal the naive (yr-1, mon)
    self-join alignment."""
    rows = {(r.yr, r.mon): (r.prev_cents, r.delta_cents) for r in
            QUERIES["orders_yoy_monthly_growth"](spark, SF_SMALL).collect()}
    assert rows
    from active_query_optimizer_spark.catalog import load_table

    monthly = {(r.yr, r.mon): r.cents for r in
               load_table(spark, SF_SMALL, "orders")
               .groupBy(F.year("o_orderdate").cast("bigint").alias("yr"),
                        F.month("o_orderdate").cast("bigint").alias("mon"))
               .agg(F.sum(F.expr(
                   "cast(cast(o_totalprice as decimal(18,2)) * 100"
                   " as bigint)")).cast("bigint").alias("cents")).collect()}
    for (yr, mon), cents in monthly.items():
        if (yr - 1, mon) in monthly:
            assert rows[(yr, mon)] == (monthly[(yr - 1, mon)],
                                       cents - monthly[(yr - 1, mon)])
        else:
            assert (yr, mon) not in rows


def test_kmeans_two_steps_converges_and_matches_numpy_replica(spark):
    """The chained second Lloyd round (round-4 verdict item #4):

    - exact replica: a numpy re-implementation of BOTH integer rounds
      (same quantization, same dist*16+cid champion key, same floor-div
      update) must reproduce the Spark output bit-for-bit;
    - convergence: integer inertia (sum of champion distances) is
      non-increasing round 1 -> round 2, as Lloyd guarantees.
    """
    import numpy as np
    import pandas as pd

    from active_query_optimizer_spark.operators.embedvec import (
        KM_K, KM_Q, KM_TIE)

    emb = pd.read_parquet(f"{SF_SMALL}/embeddings.parquet")
    emb = emb.sort_values("vec_id").reset_index(drop=True)
    qv = np.floor(np.stack(emb["embedding"].to_numpy()).astype(np.float64)
                  * KM_Q + 0.5).astype(np.int64)
    vec_ids = emb["vec_id"].to_numpy()

    def lloyd_round(centroids: dict) -> tuple[dict, dict, int]:
        cids = sorted(centroids)
        cv = np.stack([centroids[c] for c in cids])          # k x dim
        d2 = ((qv[:, None, :] - cv[None, :, :]) ** 2).sum(axis=2)
        key = d2 * KM_TIE + np.array(cids)[None, :]
        champ = key.argmin(axis=1)
        inertia = int(d2[np.arange(len(qv)), champ].sum())
        upd, nxt = {}, {}
        for j, c in enumerate(cids):
            members = qv[champ == j]
            if len(members) == 0:
                continue
            sums = members.sum(axis=0)
            # numpy // floors toward -inf while Spark `div` / DuckDB `//`
            # truncate toward zero; pure-integer trunc-division keeps the
            # replica bit-exact even when |sums| exceeds 2^53 (a float
            # round-trip would not):
            cent = np.sign(sums) * (np.abs(sums) // len(members))
            for dim in range(qv.shape[1]):
                upd[(c, dim)] = (len(members), int(sums[dim]),
                                 int(cent[dim]))
            nxt[c] = cent
        return upd, nxt, inertia

    seeds = {int(v): qv[i] for i, v in enumerate(vec_ids) if v < KM_K}
    upd1, seeds2, inertia1 = lloyd_round(seeds)
    upd2, _, inertia2 = lloyd_round(seeds2)

    assert inertia2 <= inertia1, (inertia1, inertia2)

    rows = QUERIES["embedding_kmeans_two_steps"](spark, SF_SMALL).collect()
    got = {(r.cid, r.dim): (r.n, r.sum_q, r.centroid_q) for r in rows}
    assert got == upd2
