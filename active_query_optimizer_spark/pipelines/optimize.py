"""Learned plan choice at query time — the system's user-facing payoff.

The reference's test path scores each query's candidate plans and executes
the argmin (``Lero/lero_test.py:82-112``); this module is that loop as an
API: given SQL and a trained ranker, plan the explorer's forms
(``plans/explore``) and, when the Catalyst extension is loaded, its
per-join forms (``plans/extension``) in one pass, featurize each
*un-executed* physical plan (estimates, no timing), score with the
tree-conv net, and return/execute the winner.

Planning cost is one Catalyst plan compilation per form + one tiny net
forward (a median 0.24 s for the explorer's forms at sf0.1, comparable to
running the default plan); unlike the labeling path, nothing here
executes more than the chosen plan.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Row, SparkSession

from ..model.lero import LeroModel
from ..plans.explore import (HINT_STRATEGIES, Candidate, _conf_overrides,
                             plan_forms, variant_forms)
from ..plans.extension import extension_forms


def choose_plan(spark: SparkSession, sql: str, model: LeroModel
                ) -> tuple[Candidate, list[tuple[Candidate, float]]]:
    """Score every distinct variant of ``sql``; return the predicted
    cheapest (deterministic tie-break on variant order) plus all scored
    candidates.

    The candidate space is hints + rotations + conf knobs — and, when the
    compiled Catalyst extension is loaded in this session, the injected
    rule's per-join-index strategy deviations (``plans/extension.py``, the
    reference's per-join-operator granularity), all planned in one pass and
    deduplicated by plan fingerprint: one ranker, every steering
    mechanism."""
    cands = plan_forms(spark, variant_forms(sql, HINT_STRATEGIES)
                       + extension_forms(spark, sql))
    if not cands:
        raise ValueError("query produced no plannable variants")
    assert model.fg is not None
    trees = [model.fg.transform_tree(c.plan) for c in cands]
    scores = model.predict(trees)
    order = int(np.argmin(scores))
    return cands[order], list(zip(cands, [float(s) for s in scores]))


def run_optimized(spark: SparkSession, sql: str, model: LeroModel
                  ) -> list[Row]:
    """Run ``sql`` as the learned-best candidate and return its rows. The
    action runs inside the candidate's session-conf overrides: Spark plans
    a query at its action, so a DataFrame handed back from inside them
    would run under the restored session conf, as Spark's default plan."""
    best, _ = choose_plan(spark, sql, model)
    with _conf_overrides(spark, best.conf):
        return spark.sql(best.sql).collect()
