"""Evaluation metrics for the plan ranker (reference ``Lero/lero_test.py``)."""

from .metrics import (evaluate_bundles, ranking_loss,  # noqa: F401
                      selection_report, spearman_by_group)
