"""Produce RESULTS.md / RESULTS.json — the end-to-end learned-optimizer
headline (chosen-plan vs Spark-default latency + ranking loss) at
``$SPARK_GRAFT_SF_DIR`` (default sf0.1).

The training recipe (latency pretrain x 20, then the ``latency_delta``
pairwise pass) and the evaluation (3 rotated held-out folds in
generation order, the last one reported as the headline held-out split)
are fixed in ``evaluation/results.py``.

Usage: ``python tools/make_results.py [num_queries] [epochs]``
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from active_query_optimizer_spark.evaluation.results import (  # noqa: E402
    LABEL_TIMEOUT_S, optimizer_results, write_results_md)
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
    # per-candidate labeling deadline: 30 s suits sf0.1; a 10x data
    # rehearsal must scale it or every label saturates at the timeout
    # penalty and the bundle carries no ranking signal (observed at sf1)
    label_timeout = float(os.environ.get("SPARK_GRAFT_LABEL_TIMEOUT_S",
                                         str(LABEL_TIMEOUT_S)))
    # de-saturation controls for deadline-scaled rehearsals (round-10
    # verdict #2): probe the default plan before paying for full variant
    # labeling and drop zero-signal all-penalty bundles. Off by default —
    # the sf0.1 headline keeps its historical protocol.
    probe_env = os.environ.get("SPARK_GRAFT_PROBE_DEFAULT_S")
    probe_default_s = float(probe_env) if probe_env else None
    skip_saturated = os.environ.get("SPARK_GRAFT_SKIP_SATURATED") == "1"
    spark = get_spark("aqo-results")
    spark.sparkContext.setLogLevel("ERROR")
    res = optimizer_results(spark, sf_dir, num_queries=num_queries,
                            epochs=epochs, cache_dir=cache_dir,
                            label_timeout_s=label_timeout,
                            probe_default_s=probe_default_s,
                            skip_saturated=skip_saturated)
    # SPARK_GRAFT_RESULTS_OUT lets a scale rehearsal (e.g. the sf1 run)
    # write its own artifact instead of clobbering the headline RESULTS.md
    out = os.environ.get("SPARK_GRAFT_RESULTS_OUT",
                         os.path.join(repo, "RESULTS.md"))
    write_results_md(res, out)
    print(f"wrote {out}: totals={res['totals_sec']} "
          f"loss={res['ranking_loss']} cache={res['label_cache']} "
          f"cross={res['cross_split']['loss_mean']}")


if __name__ == "__main__":
    main()
