"""Produce RESULTS.md / RESULTS.json — the end-to-end learned-optimizer
headline (chosen-plan vs Spark-default latency + ranking loss) at
``$SPARK_GRAFT_SF_DIR`` (default sf0.1).

The training recipe (latency pretrain x 20, then the ``latency_delta``
pairwise pass), the labeling deadline (``LABEL_TIMEOUT_S``) and the
evaluation (3 rotated held-out folds in generation order, the last one
reported as the headline held-out split) are fixed in
``evaluation/results.py``.

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
    spark = get_spark("aqo-results")
    spark.sparkContext.setLogLevel("ERROR")
    res = optimizer_results(spark, sf_dir, num_queries=num_queries,
                            epochs=epochs, cache_dir=cache_dir)
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
