"""Evaluation metrics for the plan ranker (reference ``Lero/lero_test.py``)."""
