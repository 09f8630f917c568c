"""Structured Streaming surfaces: watermarked event-time aggregation and
the stream-stream interval join, both run by registered queries."""
