"""Active-learning coreset selection (reference ``coreset.py``)."""

from .coreset import (  # noqa: F401
    column_stats,
    coreset_select,
    greedy_k_center,
    lsh_partition,
    zscore_l2,
)
