"""Produce RESULTS.md / RESULTS.json — the end-to-end learned-optimizer
headline (chosen-plan vs Spark-default latency + ranking loss) at
``$SPARK_GRAFT_SF_DIR`` (default sf0.1).

Usage: ``python tools/make_results.py [num_queries] [epochs]``
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from active_query_optimizer_spark.evaluation.results import (  # noqa: E402
    optimizer_results, write_results_md)
from active_query_optimizer_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    num_queries = int(sys.argv[1]) if len(sys.argv) > 1 else 24
    epochs = int(sys.argv[2]) if len(sys.argv) > 2 else 30
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # committed label cache (round-6 protocol decision — see
    # plans/labelcache.py): growth runs only label the NEW queries;
    # SPARK_GRAFT_NO_LABEL_CACHE=1 forces a from-scratch run
    cache_dir = (None if os.environ.get("SPARK_GRAFT_NO_LABEL_CACHE")
                 else os.path.join(repo, ".label_cache"))
    folds = int(os.environ.get("SPARK_GRAFT_CROSS_FOLDS", "3"))
    # per-candidate labeling deadline: 30 s suits sf0.1; a 10x data
    # rehearsal must scale it or every label saturates at the timeout
    # penalty and the bundle carries no ranking signal (observed at sf1)
    from active_query_optimizer_spark.evaluation.results import (
        LABEL_TIMEOUT_S)
    label_timeout = float(os.environ.get("SPARK_GRAFT_LABEL_TIMEOUT_S",
                                         str(LABEL_TIMEOUT_S)))
    # pointwise pretrain as pairwise initialization (round-9 verdict
    # item #6 — latency-magnitude signal for heavy-tailed workloads).
    # Default on (latency x 20) after the round-10 A/B at sf0.1/288:
    # loss mean 0.1572 -> 0.1469 with spread 0.024 -> 0.0145 and fold-1
    # regret -25%; rank2/exp_rank did not beat it, and no objective
    # changes the fold-0 q64 pick (see RESULTS.md). Set
    # SPARK_GRAFT_PRETRAIN_EPOCHS=0 for the historical cold-start path.
    pretrain_epochs = int(os.environ.get("SPARK_GRAFT_PRETRAIN_EPOCHS", "20"))
    pretrain_mode = os.environ.get("SPARK_GRAFT_PRETRAIN_MODE", "latency")
    # de-saturation controls for deadline-scaled rehearsals (round-10
    # verdict #2): probe the default plan before paying for full variant
    # labeling, drop zero-signal all-penalty bundles, and over-generate
    # to cover the skips. Off by default — the sf0.1 headline keeps its
    # historical protocol.
    probe_env = os.environ.get("SPARK_GRAFT_PROBE_DEFAULT_S")
    probe_default_s = float(probe_env) if probe_env else None
    skip_saturated = os.environ.get("SPARK_GRAFT_SKIP_SATURATED") == "1"
    oversample = float(os.environ.get("SPARK_GRAFT_OVERSAMPLE", "2"))
    # consequence-weighted pairwise objective. Default on after the
    # round-11 A/B at sf0.1/288 (FEATURES_AB.md): total cross-fold
    # regret 18.83 -> 3.08 s (-84%, every fold improved; the q64 pick
    # that dominated fold 0 since round 8 is fixed), loss mean flat
    # (0.1469 -> 0.1457). Trade-off accepted and documented: unweighted
    # Spearman spread widens (0.0145 -> 0.0667) because near-tie pairs
    # are deliberately down-weighted. SPARK_GRAFT_PAIR_WEIGHTING=none
    # restores the reference's equal-weight objective.
    pair_weighting = os.environ.get("SPARK_GRAFT_PAIR_WEIGHTING",
                                    "latency_delta")
    spark = get_spark("aqo-results")
    spark.sparkContext.setLogLevel("ERROR")
    res = optimizer_results(spark, sf_dir, num_queries=num_queries,
                            epochs=epochs, cache_dir=cache_dir,
                            cross_folds=folds,
                            label_timeout_s=label_timeout,
                            pretrain_epochs=pretrain_epochs,
                            pretrain_mode=pretrain_mode,
                            probe_default_s=probe_default_s,
                            skip_saturated=skip_saturated,
                            oversample=oversample,
                            pair_weighting=pair_weighting)
    # SPARK_GRAFT_RESULTS_OUT lets a scale rehearsal (e.g. the sf1 run)
    # write its own artifact instead of clobbering the headline RESULTS.md
    out = os.environ.get("SPARK_GRAFT_RESULTS_OUT",
                         os.path.join(repo, "RESULTS.md"))
    write_results_md(res, out)
    print(f"wrote {out}: totals={res['totals_sec']} "
          f"loss={res['ranking_loss']} cache={res['label_cache']} "
          f"cross={res['cross_split'] and res['cross_split']['loss_mean']}")


if __name__ == "__main__":
    main()
