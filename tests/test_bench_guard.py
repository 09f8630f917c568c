"""BENCH_COMMITTED drift guard (round-5 verdict item #7).

``bench.py`` self-diagnoses machine load by comparing the live run
against ``BENCH_COMMITTED.json`` — a committed quiet-machine snapshot of
the SAME headline set. Until now the refresh protocol ("copy
BENCH_DETAIL.json -> BENCH_COMMITTED.json from a quiet run whenever
HEADLINE changes") lived in a comment; this test makes the drift
CI-visible: if the committed snapshot's query set no longer matches the
current HEADLINE list, the load-ratio diagnostics silently degrade to
the stale intersection, and the fix is a quiet best-of-3 re-run.

A red here between a HEADLINE edit and the snapshot refresh is the
forcing function working, not a regression.
"""

from __future__ import annotations

import json
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_bench_committed_matches_current_headline():
    import bench

    committed = json.loads((REPO / "BENCH_COMMITTED.json").read_text())
    committed_set = set(committed["queries"])
    headline_set = set(bench.HEADLINE)
    assert committed_set == headline_set, (
        "BENCH_COMMITTED.json is stale vs bench.HEADLINE — refresh it from "
        "a quiet best-of-3 run (BENCH_DETAIL.json -> BENCH_COMMITTED.json). "
        f"missing={sorted(headline_set - committed_set)} "
        f"extra={sorted(committed_set - headline_set)}")


def test_bench_headline_is_registered_and_duplicate_free():
    import bench

    from active_query_optimizer_spark.operators import QUERIES

    assert len(bench.HEADLINE) == len(set(bench.HEADLINE)), "duplicates"
    unknown = [n for n in bench.HEADLINE if n not in QUERIES]
    assert not unknown, f"HEADLINE entries not in the registry: {unknown}"


def test_time_query_starts_every_run_from_an_empty_cache(spark, monkeypatch):
    """``bench.time_query`` clears the cache before every run, so no run
    reads a frame that it or an earlier query left persisted. Both
    queries persist frames (setsim's records, the near-dup pair family),
    so without the clear the second run starts with them cached."""
    import bench

    from active_query_optimizer_spark.operators import QUERIES

    from .conftest import SF_SMALL

    jsc = spark.sparkContext._jsc
    for name in ("setsim_join_prefix", "dedup_minhash_clusters"):
        at_start: list[int] = []

        def probe(spark, sf_dir, fn=QUERIES[name]):
            at_start.append(jsc.getPersistentRDDs().size())
            return fn(spark, sf_dir)

        monkeypatch.setitem(QUERIES, name, probe)
        runs = bench.time_query(spark, name, SF_SMALL, runs=2)
        assert at_start == [0, 0], name
        assert all(r["cpu_s"] > 0 for r in runs), (name, runs)
        assert runs[0]["rows"] == runs[1]["rows"], (name, runs)
