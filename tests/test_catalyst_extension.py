"""Catalyst-extension injection (SURVEY §4.1 north star): the compiled
``SparkSessionExtensionsProvider`` must change *physical plans* through the
config-gated injected rule, and the Python learned-choice path must steer
it. Runs in a subprocess: extensions only load at session creation, and the
shared test session must stay extension-free."""

from __future__ import annotations

import os
import re
import shutil
import subprocess
import sys
import zipfile

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

# no spec: the user's MERGE hint wins -> sort-merge join
assert joins(hinted) == ("SortMergeJoin",), "no spec/hinted"
# the per-join spec overrides the user's hint -> broadcast
spark.conf.set(XT.MODES_KEY, "0:broadcast")
assert joins(hinted) == ("BroadcastHashJoin",), "0:broadcast/hinted"
spark.conf.unset(XT.MODES_KEY)
# the full strategy space is steerable (same set as the hint explorer),
# with auto-broadcast disabled and at a threshold that would broadcast
for threshold in ("-1", "10485760"):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    for spec, want in (("0:broadcast", "BroadcastHashJoin"),
                       ("0:merge", "SortMergeJoin"),
                       ("0:shuffle-hash", "ShuffledHashJoin")):
        spark.conf.set(XT.MODES_KEY, spec)
        assert joins(plain) == (want,), (threshold, spec)
    spark.conf.unset(XT.MODES_KEY)
    # malformed and unknown entries are ignored, never fail a query
    unsteered = (joins(hinted), joins(plain))
    spark.conf.set(XT.MODES_KEY, "x:broadcast, 0:bogus,,:merge")
    assert (joins(hinted), joins(plain)) == unsteered, (threshold, unsteered)
    spark.conf.unset(XT.MODES_KEY)
assert joins(plain) == ("BroadcastHashJoin",), "unsteered/10MB"
spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
assert joins(plain) == ("SortMergeJoin",), "unsteered/plain"

# learned choice through the extension: per-join candidates are
# plan-distinct, a fitted ranker picks one, and run_optimized executes
# under its conf
from active_query_optimizer_spark.pipelines.optimize import (
    choose_plan, run_optimized)
from active_query_optimizer_spark.plans.explore import (
    HINT_STRATEGIES, plan_forms)

def ext_candidates(sql):
    # the extension's forms of sql, planned and deduplicated on their own
    return plan_forms(spark, XT.extension_forms(spark, sql))

cands = ext_candidates(plain)
assert len(cands) >= 2, [c.variant for c in cands]
assert all(c.variant.startswith("ext-join:") for c in cands)
assert len({c.fingerprint for c in cands}) == len(cands)

from active_query_optimizer_spark.model.lero import LeroModel
from active_query_optimizer_spark.plans.featurize import FeatureGenerator
fg = FeatureGenerator()
fg.fit([c.plan for c in cands])
model = LeroModel(fg)
model.fit([fg.transform_tree(c.plan) for c in cands],
          [float(i + 1) for i in range(len(cands))], epochs=5)
best, scored = choose_plan(spark, plain, model)
assert len(scored) >= len(cands)  # hint forms join the space
assert {c.fingerprint for c in cands} <= {c.fingerprint for c, _ in scored}
rows = run_optimized(spark, plain, model)
assert rows[0][0] > 0
# the steering override did not leak into the session
assert spark.conf.get(XT.MODES_KEY, None) in (None, "")

# per-join steering: two joins in ONE query realized with two DIFFERENT
# forced strategies — the reference's per-join-operator granularity
# (Lero candidate bundles pick Hash/Merge/NL per node, feature.py:12)
# (comma-FROM: the hint explorer reads its aliases from that form only)
two = ("SELECT COUNT(*) FROM orders o, customer c, nation n "
       "WHERE o.o_custkey = c.c_custkey AND c.c_nationkey = n.n_nationkey")
assert XT.count_joins(spark, two) == 2
assert set(joins(two)) == {"SortMergeJoin"}, "baseline should be all-SMJ"
spark.conf.set(XT.MODES_KEY, "0:broadcast,1:shuffle-hash")
strat = sorted(joins(two))
spark.conf.unset(XT.MODES_KEY)
assert strat == ["BroadcastHashJoin", "ShuffledHashJoin"], strat
# one single-deviation form per (join index, strategy), in that order
assert XT.extension_forms(spark, two) == [
    (f"ext-join:{i}:{s}", two, {XT.MODES_KEY: f"{i}:{s}"})
    for i in (0, 1) for s in ("broadcast", "merge", "shuffle-hash")]

# the learned ranker scores the per-join space end-to-end
pj = ext_candidates(two)
assert pj and all(c.variant.startswith("ext-join:") for c in pj)
all_plans = [c.plan for c in pj]
fg2 = FeatureGenerator()
fg2.fit(all_plans)
m2 = LeroModel(fg2)
m2.fit([fg2.transform_tree(p) for p in all_plans],
       [float(i + 1) for i in range(len(all_plans))], epochs=5)
best2, scored2 = choose_plan(spark, two, m2)
assert run_optimized(spark, two, m2)[0][0] > 0
assert spark.conf.get(XT.MODES_KEY, None) in (None, "")

# unified candidate space: with the extension loaded, choose_plan scores
# hint variants AND per-join forms together (deduped by fingerprint)
variants = [c.variant for c, _ in scored2]
assert set(variants) & {s.lower() for s in HINT_STRATEGIES}, variants
assert any(v.startswith("ext-join:") for v in variants), variants
assert not any(v.startswith("ext:") for v in variants), variants
assert len({c.fingerprint for c, _ in scored2}) == len(scored2)
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


def test_jar_classes_match_java_source(tmp_path):
    """Every class in the committed jar is byte-equal to a fresh compile of
    ``jvmext/src`` with ``build.sh``'s flags and classpath. A clone gives
    the source and the jar the same checkout mtime, so only content can
    tell a stale jar. Needs the jar's javac: skipped when ``javac`` is
    absent or its version differs from the manifest's ``Created-By``.
    Fix: re-run jvmext/build.sh."""
    import pyspark

    jar = extension_jar()
    if jar is None:
        pytest.skip("extension jar not built")
    javac = shutil.which("javac")
    if javac is None:
        pytest.skip("javac not on PATH")
    out = subprocess.run([javac, "-version"], capture_output=True, text=True)
    version = (out.stdout + out.stderr).split()[-1]
    with zipfile.ZipFile(jar) as zf:
        created_by = re.search(r"^Created-By: (\S+)",
                               zf.read("META-INF/MANIFEST.MF").decode(), re.M)
        committed = {n: zf.read(n) for n in zf.namelist()
                     if n.endswith(".class")}
    if created_by is None or created_by.group(1) != version:
        pytest.skip(f"javac {version} did not build the jar")
    src_dir = os.path.join(REPO, "jvmext", "src")
    sources = [os.path.join(dp, f) for dp, _, fns in os.walk(src_dir)
               for f in fns if f.endswith(".java")]
    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    subprocess.run([javac, "-proc:none", "-encoding", "UTF-8", "-cp", jars,
                    "-d", str(tmp_path), *sources], check=True)
    fresh = {}
    for dp, _, fns in os.walk(tmp_path):
        for f in fns:
            with open(os.path.join(dp, f), "rb") as fh:
                fresh[os.path.relpath(fh.name, tmp_path)] = fh.read()
    assert sorted(committed) == sorted(fresh), (
        "jar classes differ from jvmext/src — re-run jvmext/build.sh")
    stale = [n for n in committed if committed[n] != fresh[n]]
    assert not stale, (
        f"{stale} differ from jvmext/src — re-run jvmext/build.sh")


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
