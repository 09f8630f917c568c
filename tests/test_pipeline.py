"""Tests for distributed scoring/selection (SURVEY §2.F), metrics, and
coreset selection (§2.E)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL

from active_query_optimizer_spark.operators import QUERIES
from active_query_optimizer_spark.plans import featurize as FZ
from active_query_optimizer_spark.model import lero as L
from active_query_optimizer_spark.model import infer as I
from active_query_optimizer_spark.evaluation import metrics as M
from active_query_optimizer_spark.select import coreset as CS


def _bundle_df(spark, model_bundles):
    rows = []
    for qid, cands in model_bundles:
        for i, (plan, t) in enumerate(cands):
            rows.append((qid, i, FZ.to_pg_json(plan, t), float(t)))
    return spark.createDataFrame(
        rows, "qid string, candidate_idx int, plan_json string, exec_time_ms double")


@pytest.fixture(scope="module")
def trained(spark):
    from tests.test_plans_model import _synthetic_bundles

    bundles = _synthetic_bundles(n_queries=20, seed=11)
    model = L.train_pairwise_from_bundles(bundles, epochs=25, seed=11)
    return bundles, model


def test_distributed_scoring_matches_local(spark, trained):
    bundles, model = trained
    df = _bundle_df(spark, bundles)
    scored = I.score_plans(df, model).collect()
    for r in scored[:10]:
        tree, _ = FZ.from_pg_json(r["plan_json"])
        local = model.predict([model.fg.transform_tree(tree)])[0]
        assert r["score"] == pytest.approx(local, rel=1e-6)


def test_choose_best_and_selection_report(spark, trained):
    bundles, model = trained
    df = I.score_plans(_bundle_df(spark, bundles), model)
    chosen = {r["qid"]: r["candidate_idx"] for r in I.choose_best(df).collect()}
    assert len(chosen) == len(bundles)
    # trained model picks the truly-faster candidate almost always
    truth = {qid: int(np.argmin([t for _, t in cands]))
             for qid, cands in bundles}
    acc = sum(chosen[q] == truth[q] for q in truth) / len(truth)
    assert acc >= 0.9
    rep = M.selection_report(df)
    assert rep["sum"] == pytest.approx(
        sum(v for k, v in rep.items() if k != "sum"))


def test_choose_best_argmin_tie_break(spark):
    """Plain argmin, one row per query; equal scores go to the lower
    ``candidate_idx`` (the reference's argmin takes the first minimum,
    ``lero_test.py:97``)."""
    rows = [
        ("qa", 0, "default", 100.0),
        ("qa", 1, "rot1", 90.0),
        ("qa", 2, "merge", 300.0),
        ("qb", 0, "default", 200.0),
        ("qb", 1, "rot1", 90.0),
        ("qc", 0, "rot1", 50.0),
        ("qc", 1, "rot2", 40.0),
        # qd: idx 2 and idx 1 tie on the minimum; idx 2 comes first in
        # the input, so only the index tie-break picks 1
        ("qd", 0, "default", 80.0),
        ("qd", 2, "rot2", 70.0),
        ("qd", 1, "rot1", 70.0),
    ]
    df = spark.createDataFrame(
        rows, "qid string, candidate_idx int, variant string, score double")
    chosen = I.choose_best(df).collect()
    plain = {r["qid"]: r["candidate_idx"] for r in chosen}
    assert len(chosen) == 4
    assert plain == {"qa": 1, "qb": 1, "qc": 1, "qd": 1}


def test_ranking_loss_perfect_and_inverted(spark):
    rows = []
    for q in range(5):
        for i in range(3):
            rows.append((f"q{q}", i, float(i), float(i * 10 + 1)))
    df = spark.createDataFrame(
        rows, "qid string, candidate_idx int, score double, exec_time_ms double")
    assert M.ranking_loss(df) == pytest.approx(0.0)        # perfect order
    inv = df.withColumn("score", -df.score)
    assert M.ranking_loss(inv) == pytest.approx(2.0)       # fully inverted


def _wloss(df):
    """The weighted ranking loss as ``evaluate_bundles`` computes it."""
    return M._weighted_loss(*M._group_spearman(df)[1:])


def test_weighted_ranking_loss_weights_by_pair_count(spark):
    """Candidate-count weighting: a perfectly-ranked 2-candidate group
    (1 comparison) and a fully-inverted 5-candidate group (4 comparisons)
    → weighted rho = (1·1 + (−1)·4)/5 = −0.6, loss 1.6; the unweighted
    mean would say 1.0."""
    rows = [("qa", 0, 0.0, 1.0), ("qa", 1, 1.0, 2.0)]
    rows += [("qb", i, float(-i), float(i * 10 + 1)) for i in range(5)]
    df = spark.createDataFrame(
        rows, "qid string, candidate_idx int, score double, exec_time_ms double")
    assert M.ranking_loss(df) == pytest.approx(1.0)
    assert _wloss(df) == pytest.approx(1.6)


def test_ranking_loss_skips_constant_groups(spark):
    """Reference parity (scipy.stats.spearmanr): a group whose scores —
    or whose truth labels — are all tied carries no ranking information;
    average ranks make that side constant ⇒ NULL corr ⇒ skipped, instead
    of row_number's arbitrary candidate-order permutation."""
    rows = [("q0", 0, 1.0, 1.0), ("q0", 1, 1.0, 2.0),   # constant scores
            ("q1", 0, 1.0, 5.0), ("q1", 1, 2.0, 9.0),   # perfect order
            # all-tied truth (the sf1 all-timeout-penalty bundle shape)
            ("q2", 0, 3.0, 180000.0), ("q2", 1, 1.0, 180000.0),
            ("q2", 2, 2.0, 180000.0)]
    df = spark.createDataFrame(
        rows, "qid string, candidate_idx int, score double, exec_time_ms double")
    # q0 and q2 drop out; only q1 (rho = 1) counts
    assert M.ranking_loss(df) == pytest.approx(0.0)
    assert _wloss(df) == pytest.approx(0.0)


def test_ranking_loss_none_when_all_groups_degenerate(spark):
    """Reference parity (``Lero/lero_test.py:145-147``): when EVERY
    group is degenerate, ``compute_ranking_loss`` returns ``None`` —
    not 1.0, which would read as "worse than random" in a regime that
    actually carries zero ranking signal (the fully penalty-saturated
    sf1 batch shape)."""
    rows = [("q0", 0, 1.0, 180000.0), ("q0", 1, 2.0, 180000.0),
            ("q1", 0, 5.0, 5.0), ("q1", 1, 5.0, 9.0)]
    df = spark.createDataFrame(
        rows, "qid string, candidate_idx int, score double, exec_time_ms double")
    assert M.ranking_loss(df) is None
    assert _wloss(df) is None


def test_spearman_average_ranks_match_scipy(spark):
    """Partial ties on both sides — pin the scipy.stats.spearmanr tie
    semantics (Pearson over average ranks; scipy itself is not in this
    container, so the average ranks are written out by hand)."""
    import numpy as np

    scores = [1.0, 1.0, 2.0, 3.0, 3.0, 4.0]
    truths = [10.0, 20.0, 20.0, 20.0, 30.0, 40.0]
    # average ranks: scores (1,1)->1.5, 2->3, (3,3)->4.5, 4->6;
    #                truths 10->1, (20,20,20)->3, 30->5, 40->6
    rp = np.array([1.5, 1.5, 3.0, 4.5, 4.5, 6.0])
    rt = np.array([1.0, 3.0, 3.0, 3.0, 5.0, 6.0])
    want = float(np.corrcoef(rp, rt)[0, 1])  # == scipy.spearmanr(scores,truths)
    rows = [("q0", i, s, t) for i, (s, t) in enumerate(zip(scores, truths))]
    df = spark.createDataFrame(
        rows, "qid string, candidate_idx int, score double, exec_time_ms double")
    got = M.spearman_by_group(df)["q0"]
    assert got == pytest.approx(want, abs=1e-9)


def _spearman_by_group_ref(df):
    """The window + ``covar_samp`` form the driver-side metrics replaced:
    average ranks as ``rank() + (ties − 1)/2`` over a per-qid window, then
    Pearson as ``try_divide(covar_samp, sd·sd)`` (NULL on a constant side
    or a single candidate). Kept as the reference."""
    from pyspark.sql.window import Window

    w_pred = Window.partitionBy("qid").orderBy("score")
    w_true = Window.partitionBy("qid").orderBy("exec_time_ms")
    half = F.lit(1).cast("double") / F.lit(2)

    def ties(w):
        return F.count(F.lit(1)).over(
            w.rangeBetween(Window.currentRow, Window.currentRow))

    ranked = (df
              .withColumn("__rp", F.rank().over(w_pred).cast("double")
                          + (ties(w_pred) - 1) * half)
              .withColumn("__rt", F.rank().over(w_true).cast("double")
                          + (ties(w_true) - 1) * half))
    return (ranked.groupBy("qid")
            .agg(F.try_divide(
                F.covar_samp("__rp", "__rt"),
                F.stddev_samp("__rp") * F.stddev_samp("__rt"))
                .alias("spearman"),
                (F.count(F.lit(1)) - 1).cast("double").alias("__w")))


def _ranking_losses_ref(df):
    """``(ranking_loss, weighted ranking loss)`` of the reference form."""
    row = (_spearman_by_group_ref(df)
           .where(F.col("spearman").isNotNull() & (F.col("__w") > 0))
           .agg(F.avg("spearman").alias("rho"),
                (F.sum(F.col("spearman") * F.col("__w"))
                 / F.sum("__w")).alias("wrho")).collect()[0])
    return tuple(None if r is None else 1.0 - r
                 for r in (row["rho"], row["wrho"]))


def _metrics_frame(spark, seed):
    """Random candidate frame covering every ranking edge case: ties on
    both sides, constant-score and constant-truth groups, single-candidate
    groups and one NaN score."""
    rng = np.random.default_rng(seed)
    rows = []
    for q in range(40):
        n = int(rng.integers(1, 8))
        kind = q % 5
        scores = rng.integers(0, 4, n).astype(float)  # ties
        truths = rng.integers(0, 5, n) * 10.0
        if kind == 1:
            scores[:] = 2.5                            # constant score
        elif kind == 2:
            truths[:] = 180000.0                       # constant truth
        elif kind == 3:
            scores = rng.normal(size=n)                # no score ties
        rows += [(f"q{q:02d}", i, float(s), float(t))
                 for i, (s, t) in enumerate(zip(scores, truths))]
    rows += [("qnan", 0, 1.0, 10.0), ("qnan", 1, float("nan"), 30.0),
             ("qnan", 2, 2.0, 20.0), ("qone", 0, 3.0, 7.0)]
    return spark.createDataFrame(
        rows, "qid string, candidate_idx int, score double, "
              "exec_time_ms double")


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_ranking_metrics_match_window_reference(spark, seed):
    df = _metrics_frame(spark, seed)
    want = {r["qid"]: r["spearman"]
            for r in _spearman_by_group_ref(df).collect()}
    got = M.spearman_by_group(df)
    assert set(got) == set(want)
    for q in want:
        # the same skip decisions, and the same value where kept
        assert (got[q] is None) == (want[q] is None), q
        if want[q] is not None:
            assert got[q] == pytest.approx(want[q], abs=1e-12), q
    assert any(v is None for v in got.values())
    # NaN ranks above every number, as Spark orders it: qnan is perfect
    assert got["qnan"] == pytest.approx(1.0, abs=1e-12)
    assert got["qone"] is None
    loss, wloss = _ranking_losses_ref(df)
    assert M.ranking_loss(df) == pytest.approx(loss, abs=1e-12)
    assert _wloss(df) == pytest.approx(wloss, abs=1e-12)


def test_ranking_metrics_none_decisions_match_reference(spark):
    """Every group degenerate (constant side or single candidate): both
    forms report ``None``."""
    rows = [("q0", 0, 1.0, 5.0), ("q0", 1, 1.0, 9.0),
            ("q1", 0, 2.0, 7.0), ("q1", 1, 3.0, 7.0),
            ("q2", 0, float("nan"), 1.0)]
    df = spark.createDataFrame(
        rows, "qid string, candidate_idx int, score double, "
              "exec_time_ms double")
    assert _ranking_losses_ref(df) == (None, None)
    assert M.spearman_by_group(df) == {"q0": None, "q1": None, "q2": None}
    assert M.ranking_loss(df) is None
    assert _wloss(df) is None


def test_ranking_metrics_order_independent(spark):
    """The same bits for a frame, its reversed rows and a repartition."""
    df = _metrics_frame(spark, 3)
    rev = spark.createDataFrame(df.collect()[::-1], df.schema)
    forms = [df, rev, df.repartition(7)]
    for fn in (M.spearman_by_group, M.ranking_loss, _wloss):
        got = [repr(fn(d)) for d in forms]
        assert got[0] == got[1] == got[2], fn.__name__


def test_plan_embeddings_udf(spark, trained):
    bundles, model = trained
    df = _bundle_df(spark, bundles[:3])
    emb = I.plan_embeddings(df, model).collect()
    assert all(len(r["embedding"]) == 64 for r in emb)


# -------------------------------------------------------------- coreset

def test_standardize_and_normalize(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [3.0, 4.0]), (2, [5.0, 8.0])],
        "vec_id long, embedding array<double>")
    means, stds = CS.column_stats(df)
    assert means.tolist() == [3.0, 4.0]
    assert stds == pytest.approx(np.sqrt([8 / 3, 32 / 3]))
    rows = {r["vec_id"]: r["embedding"] for r in df.collect()}
    out = {vid: CS.zscore_l2(np.array([v]), means, stds)[0]
           for vid, v in rows.items()}
    # row 1 is exactly the mean → legitimately the zero vector
    for vid, v in out.items():
        assert np.linalg.norm(v) == pytest.approx(0.0 if vid == 1 else 1.0)
    # z-score: mean of dim0 = 3 → row0 negative, row2 positive
    assert out[0][0] < 0 < out[2][0]
    # a constant dimension gets std 1.0, never a division by zero
    const = spark.createDataFrame([(0, [2.0]), (1, [2.0])],
                                  "vec_id long, embedding array<double>")
    assert CS.column_stats(const)[1].tolist() == [1.0]


def test_lsh_binarization_sign_matches_standardized(spark):
    """``lsh_partition`` hashes the dimensions where ``v > mean``; the
    reference hashes the positive dimensions of the z-scored, L2'd vector.
    The two sets agree on every embeddings row."""
    from active_query_optimizer_spark.catalog import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    means, stds = CS.column_stats(emb)
    mat = np.stack([np.array(r["embedding"]) for r in emb.collect()])
    assert ((mat > means) == (CS.zscore_l2(mat, means, stds) > 0)).all()


#: ``coreset_select_embeddings`` at sf0.001: ``(bucket, vec_id)`` rows
#: captured before selection moved to one Python pass
CORESET_PIN_SF0001 = [
    (2, 107), (2, 221), (3, 122), (3, 147), (3, 185), (3, 470), (4, 2),
    (4, 63), (4, 323), (4, 343), (5, 0), (5, 121), (5, 130), (5, 447)]


def test_coreset_select_embeddings_pinned(spark):
    import os

    if os.path.basename(os.path.normpath(SF_SMALL)) != "sf0.001":
        pytest.skip("the pin is for the sf0.001 embeddings table")
    got = [tuple(r) for r in
           QUERIES["coreset_select_embeddings"](spark, SF_SMALL).collect()]
    assert got == CORESET_PIN_SF0001


#: identity stats: ``zscore_l2`` then only L2-normalizes
_ID2 = (np.zeros(2), np.ones(2))


def test_greedy_k_center_spreads(spark):
    # two tight clusters + one outlier; k=2 from a single bucket must take
    # one point from each far region, never two near-duplicates
    vecs = [
        (0, [1.0, 0.0]), (1, [0.999, 0.01]),
        (2, [0.0, 1.0]), (3, [0.01, 0.999]),
    ]
    df = (spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
          .withColumn("bucket", F.lit(0)))
    sel = CS.greedy_k_center(df, labeled=None, k_per_bucket=2,
                             stats=_ID2).collect()
    ids = sorted(r["vec_id"] for r in sel)
    assert len(ids) == 2
    assert not (ids in ([0, 1], [2, 3]))  # not two near-duplicates


def test_coreset_select_deterministic(spark):
    from active_query_optimizer_spark.catalog import load_table

    emb = load_table(spark, SF_SMALL, "embeddings").limit(200)
    a = CS.coreset_select(emb, k_per_bucket=3, num_groups=4).collect()
    b = CS.coreset_select(emb, k_per_bucket=3, num_groups=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) > 0


def test_greedy_respects_labeled_matrix(spark):
    # labeled point sits exactly on cluster A → greedy must pick from B first
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id long, embedding array<double>").withColumn("bucket", F.lit(0))
    labeled = np.array([[1.0, 0.0]])
    sel = CS.greedy_k_center(df, labeled, k_per_bucket=1,
                             stats=_ID2).collect()
    assert sel[0]["vec_id"] == 1


@pytest.fixture(scope="module")
def random_vectors(spark):
    rng = np.random.default_rng(7)
    rows = [(i, v.tolist()) for i, v in enumerate(rng.normal(size=(2000, 64)))]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


@pytest.mark.parametrize("seed", [1, 4, 42])
def test_lsh_partition_matches_minhashlsh(spark, random_vectors, seed):
    """The SQL bucket equals ``pyspark.ml.feature.MinHashLSH``'s first
    hash mod ``num_groups`` — the form it replaced, kept as the reference:
    binarize ``v > mean``, fit MinHashLSH (8 tables) and read hash 1 of
    table 1. ``num_groups`` above ``HASH_PRIME`` compares the raw hash."""
    from pyspark.ml.feature import MinHashLSH
    from pyspark.ml.functions import array_to_vector, vector_to_array

    df = random_vectors
    means, _ = CS.column_stats(df)
    means_sql = ", ".join(f"{float(m)!r}D" for m in means)
    binarized = F.expr(f"zip_with(embedding, array({means_sql}), "
                       "(v, m) -> IF(v > m, 1.0D, 0.0D))")
    with_bin = df.withColumn("__bin", array_to_vector(binarized))
    mh = MinHashLSH(inputCol="__bin", outputCol="__hashes",
                    numHashTables=8, seed=seed)
    first_hash = F.element_at(
        vector_to_array(F.element_at(F.col("__hashes"), 1)), 1).cast("long")
    want = {r["vec_id"]: r["h"] for r in mh.fit(with_bin).transform(with_bin)
            .select("vec_id", first_hash.alias("h")).collect()}
    assert len(want) == 2000
    for groups in (4, 8, 16, 2 ** 31 - 1):
        got = {r["vec_id"]: r["bucket"] for r in
               CS.lsh_partition(df, means, num_groups=groups, seed=seed)
               .select("vec_id", "bucket").collect()}
        assert got == {i: h % groups for i, h in want.items()}, groups


@pytest.mark.parametrize("pool", [
    [[1.0, 2.0]],                                  # one row
    [[1.0, 2.0], [1.0, 2.0]],                      # identical rows
    [[0.0, 4.0], [4.0, 0.0], [2.0, 2.0]],          # a row equal to the mean
], ids=["one_row", "identical", "mean_row"])
def test_coreset_select_degenerate_pools(spark, pool):
    """A row with no dimension above the pool mean has an empty index set:
    it gets the min-hash ``HASH_PRIME`` (MinHashLSH raised "Must have at
    least 1 non zero entry") and selection still returns rows."""
    df = spark.createDataFrame(list(enumerate(pool)),
                               "vec_id long, embedding array<double>")
    means, _ = CS.column_stats(df)
    buckets = CS.lsh_partition(df, means, num_groups=8).collect()
    assert CS.HASH_PRIME % 8 in {r["bucket"] for r in buckets}
    sel = CS.coreset_select(df, k_per_bucket=len(pool),
                            num_groups=8).collect()
    assert sorted(r["vec_id"] for r in sel) == list(range(len(pool)))


def test_coreset_labeled_standardized_like_pool(spark):
    """A raw labeled vector equal to a pool vector must block that point,
    in a pool whose mean is far from 0. Standardized with the pool's stats
    it has similarity 1 to its twin; L2-normalized alone (or not at all)
    it points along the all-ones direction, where its twin (b) has the
    lowest similarity of the pool and would be picked first."""
    a, b, c = [102.0, 99.0], [99.0, 101.0], [100.0, 101.0]
    df = spark.createDataFrame([(0, a), (1, b), (2, c)],
                               "vec_id long, embedding array<double>")
    sel = CS.coreset_select(df, k_per_bucket=1, labeled=np.array([b]),
                            num_groups=1).collect()
    assert [r["vec_id"] for r in sel] == [0]


def test_curation_pipeline_end_to_end(spark, tmp_path):
    """The composed curation pipeline: monotone survivor funnel, no
    contaminated or duplicate content in the publish, valid split layout,
    and the published table reads back partition-prunable."""
    from pyspark.sql import functions as F

    from active_query_optimizer_spark.operators.curation import \
        DECONTAM_BENCH_MOD
    from active_query_optimizer_spark.functions import texttools as tt
    from active_query_optimizer_spark.pipelines.curate import run_curation

    from tests.conftest import SF_SMALL

    out = str(tmp_path / "published")
    counts = run_curation(spark, SF_SMALL, out)

    stages = ["ingested", "quality_repetition", "pii_clean",
              "dedup_survivors", "decontaminated", "published"]
    assert list(counts) == stages
    vals = [counts[s] for s in stages]
    assert all(a >= b for a, b in zip(vals, vals[1:])), counts
    assert vals[-1] > 0

    back = spark.read.parquet(out)
    assert back.count() == counts["published"]
    # benchmark slice excluded; content fingerprints unique; splits valid
    rows = back.select(
        "doc_id", "split",
        tt.content_fingerprint_hi(F.col("text")).alias("a"),
        tt.content_fingerprint_lo(F.col("text")).alias("b")).collect()
    assert all(r["doc_id"] % DECONTAM_BENCH_MOD != 0 for r in rows)
    fps = [(r["a"], r["b"]) for r in rows]
    assert len(fps) == len(set(fps)), "duplicate content published"
    assert {r["split"] for r in rows} <= {"train", "valid", "test"}
    plan = (back.filter(F.col("split") == "train")
            ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters" in plan


def test_is_saturated_flag_beats_magnitude():
    """Spark-free: a bundle is saturated when every candidate carries the
    timeout-penalty label. The explicit ``timed_out`` flag decides (round-12
    advice #2: a REAL measurement that finished inside the
    cancellation-escalation window can land above the penalty threshold);
    legacy rows cached before the flag existed are inferred by magnitude."""
    from active_query_optimizer_spark.evaluation import results as R
    from active_query_optimizer_spark.plans.explore import (
        Candidate, LABEL_TIMEOUT_PENALTY, LABEL_TIMEOUT_S)

    pen_ms = LABEL_TIMEOUT_PENALTY * LABEL_TIMEOUT_S * 1000.0
    # legacy rows (no flag): magnitude inference
    sat = [Candidate("default", "s", "f1", None, exec_time_ms=pen_ms),
           Candidate("rot1", "s", "f2", None, exec_time_ms=pen_ms)]
    assert R._is_saturated(sat)
    assert not R._is_saturated(
        sat[:1] + [Candidate("rot1", "s", "f3", None, exec_time_ms=1.0)])
    # the flag beats magnitude: a real label above the threshold
    real_slow = [Candidate("default", "s", "f4", None,
                           exec_time_ms=pen_ms + 123.0, timed_out=False),
                 Candidate("rot1", "s", "f5", None,
                           exec_time_ms=pen_ms, timed_out=True)]
    assert not R._is_saturated(real_slow)
    assert R._is_saturated(
        [Candidate("default", "s", "f6", None, exec_time_ms=pen_ms,
                   timed_out=True),
         # flag unknown (legacy row) at the penalty magnitude: inferred
         Candidate("rot1", "s", "f7", None, exec_time_ms=pen_ms)])


def test_committed_results_record_the_recipe():
    """Drift check without Spark: both committed artifacts were produced by
    the training recipe that ``evaluation/results.py`` fixes as constants
    (latency pretrain x 20, then the ``latency_delta`` pairwise pass)."""
    import json
    import os

    from active_query_optimizer_spark.evaluation import results as R

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    recipe = {"epochs": R.PRETRAIN_EPOCHS, "mode": R.PRETRAIN_MODE}
    assert recipe == {"epochs": 20, "mode": "latency"}
    assert R.PAIR_WEIGHTING == "latency_delta"
    for name in ("RESULTS.json", "RESULTS_SF1.json"):
        with open(os.path.join(repo, name)) as fh:
            res = json.load(fh)
        assert res["pretrain"] == recipe, name
        assert res["pair_weighting"] == R.PAIR_WEIGHTING, name
        assert res["workload_bias"]["oversample"] == R.OVERSAMPLE, name


@pytest.mark.parametrize("name", ["RESULTS", "RESULTS_SF1"])
def test_committed_results_render_byte_for_byte(name, tmp_path):
    """Spark-free: ``write_results_md`` over each committed JSON reproduces
    the committed ``.md`` byte for byte, and its ``.json`` sibling equals
    the committed JSON. RESULTS_SF1 cannot be regenerated (its sf1 data is
    not kept), so this is what keeps a renderer edit from breaking it."""
    import json
    import os

    from active_query_optimizer_spark.evaluation.results import (
        write_results_md)

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, f"{name}.json"), "rb") as fh:
        committed_json = fh.read()
    write_results_md(json.loads(committed_json), str(tmp_path / f"{name}.md"))
    with open(os.path.join(repo, f"{name}.md"), "rb") as fh:
        assert (tmp_path / f"{name}.md").read_bytes() == fh.read()
    assert (tmp_path / f"{name}.json").read_bytes() == committed_json


def test_optimizer_results_regenerate_sf001(spark, tmp_path):
    """RESULTS.md regeneration at sf0.001 with the shipped training recipe:
    the end-to-end artifact pipeline (generate -> explore/label -> latency
    pretrain + weighted pairwise train -> select -> deployment series)
    must produce a coherent report — totals bracketed by the oracle
    best/worst, loss in range, artifact + JSON sibling written. Also
    exercises the round-6 additions: the label cache (a cold run misses
    everything, a warm rerun hits everything and reproduces the labels
    bit-for-bit) and the cross-split error bar."""
    from active_query_optimizer_spark.evaluation.results import (
        optimizer_results, write_results_md)

    cache = str(tmp_path / "label_cache")
    res = optimizer_results(spark, SF_SMALL, num_queries=6, epochs=8,
                            seed=11, deployment_batches=2,
                            cache_dir=cache, folds=2)
    assert res["pretrain"] == {"epochs": 20, "mode": "latency"}
    assert res["pair_weighting"] == "latency_delta"
    t = res["totals_sec"]
    assert res["n_test"] >= 1 and res["n_train"] >= 1
    assert t["best_possible"] <= t["chosen"] <= t["worst_case"]
    assert t["best_possible"] <= t["default"] <= t["worst_case"]
    assert 0.0 <= res["ranking_loss"] <= 2.0
    for q in res["per_query"]:
        assert q["best_ms"] <= q["chosen_ms"] <= q["worst_ms"]
        assert q["n_candidates"] >= 2
    # one reference-shaped deployment batch per requested batch, each
    # with a positive chosen-plan latency
    assert len(res["deployment_latency_series"]) == 2
    assert len(res["deployment_loss_series"]) == 2
    assert all(v > 0 for v in res["deployment_latency_series"])

    # label cache: cold run missed everything...
    assert res["label_cache"]["enabled"] is True
    assert res["label_cache"]["hits"] == 0
    assert res["label_cache"]["misses"] >= res["n_labeled"]
    # cross-split error bar present and coherent
    cs = res["cross_split"]
    assert cs["k"] == 2 and len(cs["folds"]) == 2
    assert cs["loss_spread"] >= 0 and 0 <= cs["loss_mean"] <= 2.0
    for f in cs["folds"]:
        ft = f["totals_sec"]
        assert ft["best"] <= ft["chosen"]

    out = str(tmp_path / "RESULTS.md")
    write_results_md(res, out)
    text = open(out).read()
    assert "learned ranker's choice" in text
    assert str(t["chosen"]) in text
    assert "Cross-split error bar" in text
    # cross-fold runs lead with the bias-stable decision metrics
    # (round-12 verdict item #5)
    assert "Headline decision metrics" in text
    assert text.index("Headline decision metrics") < text.index(
        "Held-out totals")
    assert "from the committed label cache" in text
    import json as _json
    blob = _json.load(open(str(tmp_path / "RESULTS.json")))
    assert blob["totals_sec"] == t

    # ...and a warm rerun hits everything: identical labels -> an
    # identical artifact (the incremental-growth property)
    res2 = optimizer_results(spark, SF_SMALL, num_queries=6, epochs=8,
                             seed=11, deployment_batches=2,
                             cache_dir=cache, folds=2)
    assert res2["label_cache"]["hits"] > 0
    assert res2["label_cache"]["misses"] == 0
    assert res2["totals_sec"] == t
    assert res2["per_query"] == res["per_query"]
    assert ({k: v for k, v in res2.items() if k != "label_cache"}
            == {k: v for k, v in res.items() if k != "label_cache"})


def test_optimizer_results_is_one_fold_loop(monkeypatch):
    """Spark-free: labeling, the split evaluation and the deployment
    series are stubbed. ``optimizer_results`` evaluates each of the
    ``folds`` contiguous held-out blocks once, and the headline held-out
    split (rows, totals, losses, train/test sizes) is the last fold."""
    from active_query_optimizer_spark.evaluation import results as R
    from active_query_optimizer_spark.plans.explore import Candidate

    bundles = [(f"q{i}", [
        Candidate("default", f"SELECT {i}", f"d{i}", None,
                  exec_time_ms=10.0 + i),
        Candidate("rot1", f"SELECT {i}", f"r{i}", None,
                  exec_time_ms=5.0 + 2 * i)]) for i in range(8)]
    monkeypatch.setattr(
        R, "label_generated_workload",
        lambda spark, sf_dir, num_queries, seed, **kw: (
            bundles, (0, 0), spark))
    calls = []

    def fake_split_eval(spark, train, test, epochs, seed, penalty_ms):
        calls.append(([q for q, _ in train], [q for q, _ in test]))
        rows = [{"qid": q, "n_candidates": 2, "n_tables": 1,
                 "default_ms": cs[0].exec_time_ms,
                 "chosen_ms": cs[len(calls) % 2].exec_time_ms,
                 "chosen_variant": cs[len(calls) % 2].variant,
                 "best_ms": min(c.exec_time_ms for c in cs),
                 "worst_ms": max(c.exec_time_ms for c in cs)}
                for q, cs in test]
        return {"loss": 0.1 * len(calls), "wloss": 0.2 * len(calls),
                "rows": rows,
                "totals": {k: round(sum(r[f"{k}_ms"] for r in rows) / 1e3, 4)
                           for k in ("default", "chosen", "best")}}

    monkeypatch.setattr(R, "_split_eval", fake_split_eval)
    monkeypatch.setattr(
        R, "run_deployment",
        lambda spark, trains, valids, **kw: {
            "latency_series": [1.0] * len(trains),
            "ranking_loss_series": [0.5] * len(trains)})

    with pytest.raises(ValueError):
        R.optimizer_results(None, "sf", num_queries=8, folds=1)
    assert calls == []

    res = R.optimizer_results(None, "sf", num_queries=8, folds=3)
    q = [f"q{i}" for i in range(8)]
    # fold j holds out the j-th block; the last block takes the remainder
    assert calls == [(q[2:], q[:2]), (q[:2] + q[4:], q[2:4]),
                     (q[:4], q[4:])]
    last = res["cross_split"]["folds"][-1]
    assert res["cross_split"]["k"] == 3
    assert [r["qid"] for r in res["per_query"]] == q[4:]
    assert res["n_train"] == 4 and res["n_test"] == last["n_test"] == 4
    assert res["ranking_loss"] == last["ranking_loss"] == 0.3
    assert res["ranking_loss_weighted"] == last["ranking_loss_weighted"]
    assert res["totals_sec"]["chosen"] == last["totals_sec"]["chosen"]
    assert res["totals_sec"]["best_possible"] == last["totals_sec"]["best"]
    assert res["saturated_bundles"] == {"labeled": 0, "held_out": 0}
    assert sum(s["n_queries"] for s in res["by_shape"].values()) == 4


def test_repetition_top_token_run_scan_matches_explode(spark):
    """Round-13 internals change: quality_repetition_rules computes the
    most-frequent-token count as a run-length scan over the SORTED token
    array (map-only) — must equal the explode → (doc, tok) count → max
    formulation it replaced, and the plan must have no join and no
    aggregate exchange (the load repartition is the only exchange)."""
    from pyspark.sql import functions as F

    from active_query_optimizer_spark.catalog import load_table
    from active_query_optimizer_spark.functions import texttools as tt

    df = QUERIES["quality_repetition_rules"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan[:2000]
    n_exchange = plan.count("+- Exchange") + plan.count(":- Exchange")
    assert n_exchange <= 1, plan[:2000]

    got = {r["doc_id"]: r["top_token_frac"] for r in df.collect()}
    d = load_table(spark, SF_SMALL, "documents")
    toks = tt.tokens(F.col("text"))
    ref = (d.select("doc_id", F.explode(toks).alias("tok"))
           .groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
           .groupBy("doc_id").agg(F.max("c").alias("top_cnt"))
           .join(d.select("doc_id", F.size(toks).alias("n_tok")), "doc_id")
           .select("doc_id", (F.col("top_cnt").cast("double")
                              / F.col("n_tok")).alias("f")))
    want = {r["doc_id"]: r["f"] for r in ref.collect()}
    assert got == want


def test_plan_selection_argmin_agg_matches_window(spark):
    """Round-13 internals change: the argmin runs as min(struct) with
    map-side partial aggregation — must pick exactly the row the old
    ROW_NUMBER()-over-(price, linenumber) window picked, with no window
    exchange-plus-full-sort in the plan."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from active_query_optimizer_spark.catalog import load_table

    df = QUERIES["plan_selection_argmin"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan[:2000]

    got = {(r["l_orderkey"], r["chosen_line"], r["chosen_price"])
           for r in df.collect()}
    li = load_table(spark, SF_SMALL, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy("l_extendedprice",
                                                 "l_linenumber")
    want = {(r["l_orderkey"], r["chosen_line"], r["chosen_price"])
            for r in (li.withColumn("rn", F.row_number().over(w))
                      .where(F.col("rn") == 1)
                      .select("l_orderkey",
                              F.col("l_linenumber").alias("chosen_line"),
                              F.col("l_extendedprice")
                              .alias("chosen_price"))).collect()}
    assert got == want
