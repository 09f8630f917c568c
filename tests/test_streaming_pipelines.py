"""Tests for the stable/dynamic pipelines (SURVEY §2.F, §3.1, §3.3) and the
Structured Streaming surfaces."""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pytest

from tests.conftest import SF_SMALL

from active_query_optimizer_spark.pipelines.dynamic import (run_deployment,
                                                            run_dynamic)
from active_query_optimizer_spark.pipelines.stable import run_stable
from active_query_optimizer_spark.streaming.incremental import (
    IncrementalTrainer, incremental_retrain_stream)
from active_query_optimizer_spark.streaming.windowed import (
    sessionize_events, windowed_event_counts)


TRAIN_QUERIES = [
    ("q0", "SELECT COUNT(*) FROM customer c, nation n "
           "WHERE c.c_nationkey = n.n_nationkey AND c.c_acctbal > 0"),
    ("q1", "SELECT COUNT(*) FROM orders o, customer c "
           "WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 50000"),
    ("q2", "SELECT COUNT(*) FROM supplier s, nation n, region r "
           "WHERE s.s_nationkey = n.n_nationkey "
           "AND n.n_regionkey = r.r_regionkey"),
]


def test_stable_pipeline_end_to_end(spark, tmp_path):
    from active_query_optimizer_spark.catalog import register_views

    register_views(spark, SF_SMALL)
    out = run_stable(spark, TRAIN_QUERIES, epochs=10,
                     model_dir=str(tmp_path / "model"))
    assert set(out["lero_dict"]) == {"q0", "q1", "q2", "sum"}
    assert out["lero_dict"]["sum"] > 0
    assert 0.0 <= out["ranking_loss"] <= 2.0
    assert os.path.exists(tmp_path / "model" / "weights.npz")
    assert os.path.exists(tmp_path / "model" / "lero_dict.json")
    # each labeled bundle has >= 2 distinct candidates to rank
    assert all(len(cands) >= 2 for _, cands in out["bundles"])


def test_dynamic_pipeline_series(spark):
    from tests.test_plans_model import _synthetic_bundles

    batches = [_synthetic_bundles(8, seed=s) for s in (0, 1, 2)]
    out = run_dynamic(spark, batches, epochs=10)
    assert len(out["latency_series"]) == 2
    assert len(out["ranking_loss_series"]) == 2
    assert all(v > 0 for v in out["latency_series"])


def test_deployment_pipeline_valid_split_series(spark):
    """``Lero/deployment.py:16-46`` parity: 10 (train_i, valid_i) batches →
    a 10-entry latency series — model_0 bootstraps from train_1's first
    bundle and each later model i evaluates on valid_{i+1}."""
    from tests.test_plans_model import _synthetic_bundles

    n = 10
    trains = [_synthetic_bundles(6, seed=s) for s in range(n)]
    valids = [_synthetic_bundles(4, seed=100 + s) for s in range(n)]
    out = run_deployment(spark, trains, valids, epochs=10)
    assert len(out["latency_series"]) == n
    assert len(out["ranking_loss_series"]) == n
    assert all(v > 0 for v in out["latency_series"])
    # mismatched splits are rejected loudly
    with pytest.raises(ValueError):
        run_deployment(spark, trains, valids[:-1])


def test_deployment_pipeline_live_bundles(spark):
    """End-to-end deployment: bundles come from the real explorer
    (hint/conf variants executed and timed on the star schema), not
    synthetic trees — train/valid splits flow through the same series."""
    from active_query_optimizer_spark.catalog import register_views
    from active_query_optimizer_spark.evaluation.metrics import as_bundles
    from active_query_optimizer_spark.plans.explore import (
        HINT_STRATEGIES, LABEL_TIMEOUT_S, label_query)

    register_views(spark, SF_SMALL)
    labeled = [(qid, label_query(spark, sql, HINT_STRATEGIES,
                                 LABEL_TIMEOUT_S))
               for qid, sql in TRAIN_QUERIES[:2]]
    bundles = [b for b in as_bundles(labeled) if len(b[1]) >= 2]
    assert bundles, "explorer produced no multi-candidate bundles"
    out = run_deployment(spark, [bundles, bundles], [bundles, bundles],
                         epochs=5)
    assert len(out["latency_series"]) == 2
    assert all(v > 0 for v in out["latency_series"])


def test_streaming_fingerprint_dedup_matches_batch(spark, tmp_path):
    """Streaming dedup: the dual-lane fingerprint + ``dropDuplicates`` on a
    document stream keeps exactly one row per distinct fingerprint — the
    state-store form of the batch survivors groupBy (the survivor *choice*
    is arrival-order in a stream, so the comparison pins the fingerprint
    set, not survivor ids)."""
    from pyspark.sql import functions as F

    from active_query_optimizer_spark.catalog import load_table
    from active_query_optimizer_spark.functions import texttools as tt

    batch = load_table(spark, SF_SMALL, "documents")
    src = str(tmp_path / "docs")
    batch.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)

    fp = [tt.fingerprint_lane(F.col("text"), 0).alias("fp_a"),
          tt.fingerprint_lane(F.col("text"), 1).alias("fp_b")]
    q = (stream.select("doc_id", *fp)
         .dropDuplicates(["fp_a", "fp_b"])
         .writeStream.format("memory").queryName("dedup_stream")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_dedup"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = spark.sql("SELECT fp_a, fp_b FROM dedup_stream").collect()
    got_fps = {(r["fp_a"], r["fp_b"]) for r in got}
    assert len(got) == len(got_fps), "stream emitted duplicate fingerprints"
    exp_fps = {(r["fp_a"], r["fp_b"])
               for r in batch.select(*fp).distinct().collect()}
    assert got_fps == exp_fps


# ------------------------------------------------------------- streaming

def _start_events_stream(spark, src_dir):
    from active_query_optimizer_spark.catalog import load_table

    batch = load_table(spark, SF_SMALL, "events")
    batch.write.mode("overwrite").parquet(src_dir)
    return spark.readStream.schema(batch.schema).parquet(src_dir), batch


def test_windowed_counts_streaming_matches_batch(spark, tmp_path):
    stream, batch = _start_events_stream(spark, str(tmp_path / "ev"))
    q = (windowed_event_counts(stream)
         .writeStream.format("memory").queryName("win_counts")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ck1"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
           for r in spark.sql("SELECT * FROM win_counts").collect()}
    exp = {(r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
           for r in windowed_event_counts(batch).collect()}
    assert got == exp
    assert len(got) > 0


def test_sessionize_streaming_runs(spark, tmp_path):
    stream, batch = _start_events_stream(spark, str(tmp_path / "ev2"))
    q = (sessionize_events(stream)
         .writeStream.format("memory").queryName("sessions")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ck2"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT COUNT(*) c FROM sessions").collect()[0]["c"]
    exp = sessionize_events(batch).count()
    assert got == exp > 0


def test_incremental_retrain_foreachbatch(spark, tmp_path):
    from tests.test_plans_model import _synthetic_bundles
    from active_query_optimizer_spark.plans.featurize import to_pg_json

    src = tmp_path / "bundles"
    src.mkdir()
    # two files → two micro-batches is not guaranteed; availableNow may
    # coalesce, so assert on model existence + drift metric length bound
    for i, seed in enumerate((3, 4)):
        lines = []
        for qid, cands in _synthetic_bundles(5, seed=seed):
            lines.append("#####".join(
                [f"b{i}_{qid}"] + [to_pg_json(p, t) for p, t in cands]))
        (src / f"batch_{i}.txt").write_text("\n".join(lines) + "\n")

    trainer = IncrementalTrainer(epochs=5)
    stream = spark.readStream.format("text").load(str(src))
    q = incremental_retrain_stream(stream, trainer, str(tmp_path / "ck3"))
    q.awaitTermination(180)
    assert trainer.model is not None
    assert trainer.batches_seen >= 1
    # the trained model scores a plan without error
    from active_query_optimizer_spark.plans.featurize import from_pg_json
    tree, _ = from_pg_json(to_pg_json(
        _synthetic_bundles(1, seed=9)[0][1][0][0], 1.0))
    score = trainer.model.predict([trainer.model.fg.transform_tree(tree)])
    assert score.shape == (1,)


def test_incremental_trainer_skips_unlabeled_candidates(monkeypatch):
    """A bundle line whose plan JSON has no Execution Time is an
    unlabeled candidate: it must not reach training (read as 0 ms it
    would train as its query's fastest plan), and a query left with one
    labeled candidate carries no pair."""
    from tests.test_plans_model import _synthetic_bundles
    from active_query_optimizer_spark.plans.featurize import to_pg_json
    from active_query_optimizer_spark.streaming import incremental as INC

    (_, a_cands), (_, b_cands) = _synthetic_bundles(2, depths=(1, 2, 3))
    rows = ([{"qid": "A", "candidate_idx": i, "plan_json": to_pg_json(p, t)}
             for i, (p, t) in enumerate(a_cands[:2])]
            + [{"qid": "A", "candidate_idx": 2,
                "plan_json": to_pg_json(a_cands[2][0])},
               {"qid": "B", "candidate_idx": 0,
                "plan_json": to_pg_json(*b_cands[0])},
               {"qid": "B", "candidate_idx": 1,
                "plan_json": to_pg_json(b_cands[1][0])}])

    class _Batch:
        sparkSession = None

        def select(self, *cols):
            return self

        def collect(self):
            return rows

    seen = []
    monkeypatch.setattr(INC, "train_pairwise_from_bundles",
                        lambda bundles, **kw: seen.append(bundles) or "m")
    trainer = INC.IncrementalTrainer(epochs=1)
    trainer.process_batch(_Batch(), 0)
    assert len(seen) == 1
    assert [(q, [t for _, t in cands]) for q, cands in seen[0]] == [
        ("A", [t for _, t in a_cands[:2]])]
    assert trainer.model == "m"


#: six join and scan queries: the active loop's live-labeled pool
ACTIVE_POOL = [
    ("p0", "SELECT COUNT(*) FROM customer c, nation n "
           "WHERE c.c_nationkey = n.n_nationkey"),
    ("p1", "SELECT COUNT(*) FROM orders o, customer c "
           "WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 10000"),
    ("p2", "SELECT COUNT(*) FROM supplier s, nation n "
           "WHERE s.s_nationkey = n.n_nationkey"),
    ("p3", "SELECT COUNT(*) FROM nation n, region r "
           "WHERE n.n_regionkey = r.r_regionkey"),
    ("p4", "SELECT COUNT(*) FROM orders o, customer c, nation n "
           "WHERE o.o_custkey = c.c_custkey "
           "AND c.c_nationkey = n.n_nationkey"),
    ("p5", "SELECT COUNT(*) FROM customer c WHERE c.c_acctbal > 0"),
]


def test_active_learning_loop(spark):
    """The reference's core workflow: label seed batch → train → embed pool
    → coreset-select next batch → label → retrain (SURVEY §0 step 6)."""
    from active_query_optimizer_spark.catalog import register_views
    from active_query_optimizer_spark.pipelines.active import run_active_loop

    register_views(spark, SF_SMALL)
    out = run_active_loop(spark, ACTIVE_POOL, seed_batch=2, batch_size=2,
                          rounds=1, epochs=5)
    assert out["model"] is not None
    # seed batch + at least one actively-selected batch got labeled
    assert len(out["history"]) == 2
    assert out["history"][0] == ["p0", "p1"]
    newly = set(out["history"][1])
    assert newly and newly <= {"p2", "p3", "p4", "p5"}
    assert out["labeled_qids"] == {"p0", "p1"} | newly


def test_pipelines_label_every_candidate_under_the_deadline(spark,
                                                           monkeypatch):
    """``run_active_loop`` and ``run_stable`` execute every candidate for
    a label under ``LABEL_TIMEOUT_S``: no labeling path runs a bare,
    uncancellable ``collect()``."""
    from active_query_optimizer_spark.catalog import register_views
    from active_query_optimizer_spark.pipelines.active import run_active_loop
    from active_query_optimizer_spark.plans import explore as EX

    register_views(spark, SF_SMALL)
    timeouts = []
    real = EX._time_execution

    def recording(df, timeout_s):
        timeouts.append(timeout_s)
        return real(df, timeout_s)

    monkeypatch.setattr(EX, "_time_execution", recording)
    out = run_active_loop(spark, ACTIVE_POOL, seed_batch=2, batch_size=2,
                          rounds=1, epochs=2)
    n_active = len(timeouts)
    assert n_active >= sum(len(c) for _, c in out["bundles"]) > 0
    run_stable(spark, TRAIN_QUERIES, epochs=2)
    assert len(timeouts) > n_active
    assert all(t == EX.LABEL_TIMEOUT_S for t in timeouts), set(timeouts)


def test_select_next_batch_embeds_each_pool_plan_once(spark, monkeypatch):
    """``coreset_select`` runs two jobs on the pool embeddings; each pool
    plan goes through the embedding UDF once, and nothing stays cached."""
    from pyspark.sql import functions as F

    from active_query_optimizer_spark.catalog import register_views
    from active_query_optimizer_spark.model.lero import (
        train_pairwise_from_bundles)
    from active_query_optimizer_spark.pipelines import active
    from active_query_optimizer_spark.plans.featurize import from_pg_json

    register_views(spark, SF_SMALL)
    plans = active.pool_default_plans(spark, TRAIN_QUERIES)
    bundles = [(qid, [(from_pg_json(plan_json)[0], t) for t in (1.0, 2.0)])
               for qid, plan_json in plans]
    model = train_pairwise_from_bundles(bundles, epochs=1, seed=3)

    embedded = spark.sparkContext.accumulator(0)
    real = active.plan_embeddings

    def counted(df, model):
        @F.pandas_udf("string")
        def tap(s: pd.Series) -> pd.Series:
            embedded.add(len(s))
            return s

        # nondeterministic, so the optimizer cannot inline a second copy
        tap = tap.asNondeterministic()
        return real(df.withColumn("plan_json", tap("plan_json")), model)

    monkeypatch.setattr(active, "plan_embeddings", counted)
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    picked = active.select_next_batch(spark, model, plans, k=2,
                                      labeled_qids=set(), num_groups=2)
    assert picked and set(picked) <= {q for q, _ in TRAIN_QUERIES}
    assert embedded.value == len(TRAIN_QUERIES)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted


#: twelve single-table pool queries over three tables
_STUB_POOL = [(f"p{k}", f"SELECT COUNT(*) FROM {t} WHERE {p.format(k)}")
              for k, (t, p) in enumerate([
                  ("customer c", "c.c_acctbal > {}"),
                  ("orders o", "o.o_totalprice > {}000"),
                  ("supplier s", "s.s_acctbal > {}")] * 4)]


def _stub_label(spark_, sql, strategies, timeout_s):
    """Stub ``label_query``: two candidates on the default plan, timed by
    a hash of the pool qid."""
    from active_query_optimizer_spark.plans import featurize as FZ
    from active_query_optimizer_spark.plans.explore import Candidate

    qid = {s: q for q, s in _STUB_POOL}[sql]
    plan = FZ.capture_plan(spark_.sql(sql), executed=False)
    ms = float(sum(map(ord, qid)) % 7 + 1)
    return [Candidate("default", sql, "fa", plan, exec_time_ms=ms),
            Candidate("rot1", sql, "fb", plan, exec_time_ms=ms + 1)]


def test_active_loop_plans_each_pool_query_once(spark, monkeypatch):
    """Pool default plans do not depend on the model: a two-round loop
    captures each pool query's plan once, not once per round. Labels are
    stubbed so only the pool planning is counted."""
    from active_query_optimizer_spark.catalog import register_views
    from active_query_optimizer_spark.pipelines import active

    register_views(spark, SF_SMALL)
    captured = []
    real = active.capture_plan

    def counting(df, **kw):
        captured.append(df)
        return real(df, **kw)

    monkeypatch.setattr(active, "label_query", _stub_label)
    monkeypatch.setattr(active, "capture_plan", counting)
    out = active.run_active_loop(spark, _STUB_POOL, seed_batch=2,
                                 batch_size=2, rounds=2, epochs=2)
    assert len(out["history"]) == 3  # both rounds selected a batch
    assert len(captured) == len(_STUB_POOL)


def test_active_loop_labels_batch_size_per_round(spark, monkeypatch):
    """Every round labels exactly ``batch_size`` queries however many LSH
    buckets are occupied (buckets propose up to ``batch_size`` each and
    the round takes them round-robin), and a batch larger than the
    unlabeled pool takes all of it."""
    from active_query_optimizer_spark.catalog import register_views
    from active_query_optimizer_spark.pipelines import active

    register_views(spark, SF_SMALL)
    monkeypatch.setattr(active, "label_query", _stub_label)
    out = active.run_active_loop(spark, _STUB_POOL, seed_batch=2,
                                 batch_size=2, rounds=2, epochs=2)
    assert [len(h) for h in out["history"]] == [2, 2, 2]
    assert len(out["labeled_qids"]) == 6
    rest = active.select_next_batch(
        spark, out["model"], active.pool_default_plans(spark, _STUB_POOL),
        k=20, labeled_qids=out["labeled_qids"])
    assert sorted(rest) == sorted(
        q for q, _ in _STUB_POOL if q not in out["labeled_qids"])


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Bucketing both sides of a join on the key gives a co-located
    SortMergeJoin with NO Exchange — the pre-partitioned-storage pattern
    for repeated big-table joins at 100 TB."""
    from active_query_optimizer_spark.catalog import load_table

    o = load_table(spark, SF_SMALL, "orders")
    c = load_table(spark, SF_SMALL, "customer")
    (o.write.mode("overwrite").bucketBy(8, "o_custkey").sortBy("o_custkey")
      .option("path", str(tmp_path / "o_b")).saveAsTable("orders_b"))
    (c.write.mode("overwrite").bucketBy(8, "c_custkey").sortBy("c_custkey")
      .option("path", str(tmp_path / "c_b")).saveAsTable("customer_b"))
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("orders_b").join(
            spark.table("customer_b"),
            spark.table("orders_b").o_custkey
            == spark.table("customer_b").c_custkey)
        plan = joined._sc._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "simple")
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert joined.count() == o.join(
            c, o.o_custkey == c.c_custkey).count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS customer_b")


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream conversion attribution: clicks joined to purchases by
    user within a bounded event-time lag. Watermarks on both sides + the
    interval condition bound the join state; the identical plan over batch
    frames is the correctness oracle (pair sets must match exactly)."""
    from pyspark.sql import functions as F

    from active_query_optimizer_spark.catalog import load_table
    from active_query_optimizer_spark.streaming.joins import (
        correlate_event_streams)

    ev = load_table(spark, SF_SMALL, "events")
    src = str(tmp_path / "events")
    ev.write.mode("overwrite").parquet(src)
    clicks_b = ev.filter(F.col("event_type") == "click")
    purch_b = ev.filter(F.col("event_type") == "purchase")
    expect = {(r["click_id"], r["purchase_id"])
              for r in correlate_event_streams(clicks_b, purch_b).collect()}
    assert expect, "no attributable pairs in fixture"

    stream = spark.readStream.schema(ev.schema).parquet(src)
    out = correlate_event_streams(
        stream.filter(F.col("event_type") == "click"),
        stream.filter(F.col("event_type") == "purchase"))
    sink = f"ssjoin_{abs(hash(src)) % 10**8}"
    q = (out.writeStream.format("memory").queryName(sink)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["click_id"], r["purchase_id"])
           for r in spark.sql(f"SELECT * FROM {sink}").collect()}
    assert got == expect


def test_stream_dedup_matches_first_touch_keys(spark, tmp_path):
    """Streaming deduplication: dropDuplicates on (user_id, event_type)
    over the event stream keeps exactly one row per key, and the key set
    equals the batch first-touch operator's — the streaming half of the
    events_first_touch anchor (stream keeps arrival-first, batch defines
    event-time-first; the KEY SETS must agree regardless)."""
    from active_query_optimizer_spark.catalog import load_table
    from active_query_optimizer_spark.operators import QUERIES

    batch = load_table(spark, SF_SMALL, "events")
    src = str(tmp_path / "ev_dedup")
    batch.repartition(4).write.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)

    q = (stream.dropDuplicates(["user_id", "event_type"])
         .select("user_id", "event_type")
         .writeStream.format("memory").queryName("deduped")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_dedup"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = [(r["user_id"], r["event_type"])
           for r in spark.sql("SELECT * FROM deduped").collect()]
    assert len(got) == len(set(got)), "stream emitted duplicate keys"
    expect = {(r["user_id"], r["event_type"])
              for r in QUERIES["events_first_touch"](
                  spark, SF_SMALL).collect()}
    assert set(got) == expect and expect


def test_stream_dedup_within_watermark_bounds_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark: the SCALE-correct streaming dedup —
    plain dropDuplicates keeps every key in the state store forever (state
    grows with distinct keys — unbounded on an infinite stream), while the
    within-watermark variant evicts state once the event-time watermark
    passes a key's horizon, so state is bounded by the watermark window's
    key arrival rate. Single-source-file run (one micro-batch, watermark
    starts at 0 ⇒ nothing evicted yet) must therefore agree exactly with
    batch-distinct keys; the value of the operator is the eviction
    contract this test documents, pinned here via the API + plan wiring.
    """
    from active_query_optimizer_spark.catalog import load_table
    from active_query_optimizer_spark.streaming.windowed import (
        ensure_event_time)

    batch = ensure_event_time(load_table(spark, SF_SMALL, "events"))
    src = str(tmp_path / "ev_wm_dedup")
    # ONE file -> ONE deterministic micro-batch under availableNow
    batch.coalesce(1).write.parquet(src)
    stream = ensure_event_time(
        spark.readStream.schema(batch.schema).parquet(src))

    q = (stream
         .withWatermark("ts", "1 hour")
         .dropDuplicatesWithinWatermark(["user_id", "event_type"])
         .select("user_id", "event_type")
         .writeStream.format("memory").queryName("wm_deduped")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_wm_dedup"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = [(r["user_id"], r["event_type"])
           for r in spark.sql("SELECT * FROM wm_deduped").collect()]
    assert len(got) == len(set(got)), "duplicate keys within one batch"
    expect = {(r["user_id"], r["event_type"])
              for r in batch.select("user_id", "event_type")
                            .distinct().collect()}
    assert set(got) == expect and expect
