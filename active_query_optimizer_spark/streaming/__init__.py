"""Structured Streaming surfaces: watermarked event-time aggregation and
the incremental-retrain loop as ``foreachBatch``."""
