"""Catalyst-extension injection (SURVEY §4.1 north star): the compiled
``SparkSessionExtensionsProvider`` must change *physical plans* through the
config-gated injected rule, and the Python learned-choice path must steer
it. Runs in a subprocess: extensions only load at session creation, and the
shared test session must stay extension-free."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from active_query_optimizer_spark.plans.extension import extension_jar

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r"""
import sys
sys.path.insert(0, %(repo)r)
from pyspark.sql import SparkSession
from active_query_optimizer_spark.plans import extension as XT
from active_query_optimizer_spark.plans.explore import realized_join_strategies
from active_query_optimizer_spark.catalog import register_views

spark = (XT.configure_builder(SparkSession.builder.master("local[4]"))
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "4")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
assert XT.is_extension_loaded(spark)
register_views(spark, %(sf)r)

def joins(sql):
    df = spark.sql(sql)
    df.collect()
    return realized_join_strategies(df)

hinted = ("SELECT /*+ MERGE(n) */ COUNT(*) FROM customer c "
          "JOIN nation n ON c.c_nationkey = n.n_nationkey")
plain = ("SELECT COUNT(*) FROM customer c "
         "JOIN nation n ON c.c_nationkey = n.n_nationkey")

# mode off: the user's MERGE hint wins -> sort-merge join
spark.conf.set(XT.MODE_KEY, "off")
assert joins(hinted) == ("SortMergeJoin",), "off/hinted"
# strip-hints: injected rule clears the hint -> Catalyst broadcasts nation
spark.conf.set(XT.MODE_KEY, "strip-hints")
assert joins(hinted) == ("BroadcastHashJoin",), "strip/hinted"
# force-broadcast beats a disabled auto-broadcast threshold
spark.conf.set(XT.MODE_KEY, "off")
spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
assert joins(plain) == ("SortMergeJoin",), "off/plain"
spark.conf.set(XT.MODE_KEY, "force-broadcast")
assert joins(plain) == ("BroadcastHashJoin",), "force/plain"
# the full strategy space is steerable (same set as the hint explorer)
spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
spark.conf.set(XT.MODE_KEY, "force-merge")
assert joins(plain) == ("SortMergeJoin",), "force-merge/plain"
spark.conf.set(XT.MODE_KEY, "force-shuffle-hash")
assert joins(plain) == ("ShuffledHashJoin",), "force-shuffle-hash/plain"
spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

# learned choice through the extension: mode candidates are plan-distinct,
# a fitted ranker picks one, and run_optimized executes under its conf
from active_query_optimizer_spark.pipelines.optimize import (
    choose_plan, run_optimized)
from active_query_optimizer_spark.plans.explore import plan_forms

def ext_candidates(sql, prefix):
    # the extension's forms of sql whose variant starts with prefix,
    # planned and deduplicated on their own
    return plan_forms(spark, [f for f in XT.extension_forms(spark, sql)
                              if f[0].startswith(prefix)])

spark.conf.set(XT.MODE_KEY, "off")
cands = ext_candidates(plain, "ext:")
assert len(cands) >= 2, [c.variant for c in cands]
assert len({c.fingerprint for c in cands}) == len(cands)

from active_query_optimizer_spark.model.lero import LeroModel
from active_query_optimizer_spark.plans.featurize import FeatureGenerator
fg = FeatureGenerator()
fg.fit([c.plan for c in cands])
model = LeroModel(fg)
model.fit([fg.transform_tree(c.plan) for c in cands],
          [float(i + 1) for i in range(len(cands))], epochs=5)
best, scored = choose_plan(spark, plain, model)
assert len(scored) >= len(cands)  # per-join deviations join the space
assert {c.fingerprint for c in cands} <= {c.fingerprint for c, _ in scored}
rows = run_optimized(spark, plain, model)
assert rows[0][0] > 0
# the mode override did not leak into the session
assert spark.conf.get(XT.MODE_KEY) == "off"

# per-join steering: two joins in ONE query realized with two DIFFERENT
# forced strategies — the reference's per-join-operator granularity
# (Lero candidate bundles pick Hash/Merge/NL per node, feature.py:12)
two = ("SELECT COUNT(*) FROM orders o "
       "JOIN customer c ON o.o_custkey = c.c_custkey "
       "JOIN nation n ON c.c_nationkey = n.n_nationkey")
assert XT.count_joins(spark, two) == 2
assert set(joins(two)) == {"SortMergeJoin"}, "baseline should be all-SMJ"
spark.conf.set(XT.MODES_KEY, "0:broadcast,1:shuffle-hash")
strat = sorted(joins(two))
spark.conf.unset(XT.MODES_KEY)
assert strat == ["BroadcastHashJoin", "ShuffledHashJoin"], strat

# the learned ranker scores the enlarged per-join space end-to-end
mode_cands2 = ext_candidates(two, "ext:")
pj = ext_candidates(two, "ext-join:")
assert pj and all(c.variant.startswith("ext-join:") for c in pj)
all_plans = [c.plan for c in mode_cands2 + pj]
from active_query_optimizer_spark.plans.featurize import FeatureGenerator as FG2
fg2 = FG2()
fg2.fit(all_plans)
m2 = LeroModel(fg2)
m2.fit([fg2.transform_tree(p) for p in all_plans],
       [float(i + 1) for i in range(len(all_plans))], epochs=5)
best2, scored2 = choose_plan(spark, two, m2)
assert any(c.variant.startswith("ext-join:") for c, _ in scored2), (
    [c.variant for c, _ in scored2])
assert run_optimized(spark, two, m2)[0][0] > 0
assert spark.conf.get(XT.MODES_KEY, None) in (None, "")

# unified candidate space: with the extension loaded, choose_plan scores
# hint variants AND extension modes together (deduped by fingerprint)
_, all_scored = choose_plan(spark, plain, model)
variants = {c.variant for c, _ in all_scored}
assert any(v.startswith("ext:") for v in variants), variants
assert len({c.fingerprint for c, _ in all_scored}) == len(all_scored)
print("EXTENSION-OK")
"""


@pytest.mark.skipif(extension_jar() is None,
                    reason="extension jar not built (jvmext/build.sh)")
def test_injected_rule_changes_physical_plan():
    script = _SCRIPT % {"repo": REPO, "sf": "/root/testdata/sf0.001"}
    proc = subprocess.run([sys.executable, "-c", script],
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert "EXTENSION-OK" in proc.stdout


def test_jar_not_stale_vs_java_source():
    """The compiled jar is committed (tests must run without a JDK), which
    means it can silently drift from the Java source after an edit — this
    guard fails the suite when the source is newer than the jar (round-2
    advice). Fix: re-run jvmext/build.sh."""
    import os

    jar = extension_jar()
    if jar is None:
        pytest.skip("extension jar not built")
    src_dir = os.path.join(REPO, "jvmext", "src")
    newest_src = max(
        os.path.getmtime(os.path.join(dp, f))
        for dp, _, fns in os.walk(src_dir) for f in fns if f.endswith(".java"))
    # 5 s slack: git checkout order can put the source a few ms after the
    # jar even when both were committed together — only a real edit gap
    # (minutes) should fail the guard.
    assert os.path.getmtime(jar) >= newest_src - 5.0, (
        "jvmext java source is newer than the committed jar — "
        "re-run jvmext/build.sh")
