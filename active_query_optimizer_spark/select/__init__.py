"""Active-learning coreset selection (reference ``coreset.py``)."""
