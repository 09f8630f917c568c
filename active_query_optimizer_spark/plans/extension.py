"""Plan steering through an injected Catalyst extension.

The reference's baseline description names "Catalyst optimizer extensions"
as the Spark-native steering mechanism; hint rewriting (``plans/explore``)
is the portable fallback. This module is the extension path: a compiled
``SparkSessionExtensionsProvider`` (``jvmext/src/org/aqo/spark/
LearnedJoinExtensions.java``) injects a config-gated optimizer rule, and
the Python side steers it per query through one conf,
``spark.learned.join.modes = "idx:strategy,..."``: join ``idx`` (Join nodes
numbered bottom-up) gets a ``broadcast`` / ``merge`` / ``shuffle-hash``
hint on its build (right) side, without touching the SQL; unlisted joins
are left as Catalyst planned them.

The extension must be loaded at session creation
(``spark.sql.extensions=org.aqo.spark.LearnedJoinExtensions`` with the jar
on the driver classpath — ``configure_builder`` does both); steering is
then a per-query conf change, no session restart. This is the same
decision→knob flow as Lero steering PostgreSQL through its GUCs.
``extension_forms`` lists a query's per-join forms; ``pipelines.optimize.
choose_plan`` plans them with the hint explorer's forms and ranks them all.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .explore import Form

EXTENSION_CLASS = "org.aqo.spark.LearnedJoinExtensions"
#: the rule's only steering conf: "idx:strategy,..." — indices number Join
#: nodes bottom-up (transformUp order), matching the reference's
#: per-join-operator candidate granularity (Lero/feature.py:12 encodes
#: Hash/Merge/Nested-Loop per node).
MODES_KEY = "spark.learned.join.modes"
PER_JOIN_STRATEGIES = ("broadcast", "merge", "shuffle-hash")


def extension_jar() -> str | None:
    """Path of the compiled extension jar, or None if not built."""
    jar = os.path.join(os.path.dirname(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))),
        "jvmext", "aqo-spark-extension.jar")
    return jar if os.path.exists(jar) else None


def configure_builder(builder: SparkSession.Builder,
                      jar: str | None = None) -> SparkSession.Builder:
    """Add the extension class + jar to a SparkSession builder (must run
    before ``getOrCreate`` — extensions only load at session creation)."""
    jar = jar or extension_jar()
    if jar is None:
        raise FileNotFoundError(
            "extension jar not built — run jvmext/build.sh")
    return (builder
            .config("spark.sql.extensions", EXTENSION_CLASS)
            .config("spark.jars", jar)
            .config("spark.driver.extraClassPath", jar))


def is_extension_loaded(spark: SparkSession) -> bool:
    """True when the injected rule is active in this session."""
    try:
        return EXTENSION_CLASS in (
            spark.conf.get("spark.sql.extensions", "") or "")
    except Exception:
        return False


def count_joins(spark: SparkSession, sql: str) -> int:
    """Number of Join nodes in the optimized logical plan — the index
    space ``spark.learned.join.modes`` steers over."""
    jplan = spark.sql(sql)._jdf.queryExecution().optimizedPlan()

    def walk(n) -> int:
        hits = 1 if n.nodeName() == "Join" else 0
        for i in range(n.children().size()):
            hits += walk(n.children().apply(i))
        return hits

    return walk(jplan)


def extension_forms(spark: SparkSession, sql: str) -> list[Form]:
    """The extension's planning forms of ``sql`` (none when the extension
    is not loaded in this session): one per (join index, strategy) single
    deviation — the per-join granularity of the reference's candidate
    bundles (strategy chosen per join operator). Single deviations keep the
    space linear (n_joins × 3) while still letting the ranker pick e.g.
    broadcast for join 0 and merge for join 1 across *separate* candidates;
    ``explore.plan_forms`` plans them and drops assignments Catalyst maps
    to an already-kept plan."""
    if not is_extension_loaded(spark):
        return []
    return [(f"ext-join:{i}:{s}", sql, {MODES_KEY: f"{i}:{s}"})
            for i in range(count_joins(spark, sql))
            for s in PER_JOIN_STRATEGIES]
