"""Label-cache unit tests (``plans/labelcache`` — round-5 verdict #2).

The end-to-end cold/warm behavior is pinned in
``test_pipeline.py::test_optimizer_results_regenerate_sf001``; these
tests pin the key/serialization contracts that make a stale label
impossible: key sensitivity to every input including the code
fingerprint, exact Candidate round-trip, and the hit path never
touching the cluster.
"""

from __future__ import annotations

import gzip
import json
import os

import pytest

from active_query_optimizer_spark.plans.explore import Candidate
from active_query_optimizer_spark.plans.featurize import PlanNode
from active_query_optimizer_spark.plans import labelcache as LC


def _cand() -> Candidate:
    plan = PlanNode(op="Hash Join", rows=10.0, width=2.0, children=[
        PlanNode(op="Seq Scan", relation="orders", rows=100.0, width=3.0),
        PlanNode(op="Seq Scan", relation="customer", rows=50.0, width=2.0),
    ])
    return Candidate(variant="shuffle_hash", sql="SELECT 1",
                     fingerprint="fp1", plan=plan, exec_time_ms=123.5,
                     conf={"spark.sql.adaptive.enabled": "false"},
                     realized_joins=("ShuffledHashJoin",),
                     hint_realized=True, timed_out=False)


def test_bundle_key_sensitive_to_every_input(monkeypatch):
    base = LC.bundle_key("SELECT 1", ("A", "B"), 30.0, "/data/sf0.1")
    assert LC.bundle_key("SELECT 1", ("A", "B"), 30.0, "/data/sf0.1") == base
    assert LC.bundle_key("SELECT 2", ("A", "B"), 30.0, "/data/sf0.1") != base
    assert LC.bundle_key("SELECT 1", ("A",), 30.0, "/data/sf0.1") != base
    assert LC.bundle_key("SELECT 1", ("A", "B"), 60.0, "/data/sf0.1") != base
    assert LC.bundle_key("SELECT 1", ("A", "B"), 30.0, "/data/sf1") != base
    # code-fingerprint invalidation: any labeling-code change re-keys
    monkeypatch.setattr(LC, "code_fingerprint", lambda: "deadbeef")
    assert LC.bundle_key("SELECT 1", ("A", "B"), 30.0, "/data/sf0.1") != base


def test_candidate_roundtrip_exact():
    c = _cand()
    [back] = LC._decode(LC._encode([c]))
    assert back.variant == c.variant and back.sql == c.sql
    assert back.fingerprint == c.fingerprint
    assert back.exec_time_ms == c.exec_time_ms
    assert back.conf == c.conf
    assert back.realized_joins == c.realized_joins
    assert back.hint_realized is True
    assert back.timed_out is False
    assert back.plan.preorder_ops() == c.plan.preorder_ops()
    assert back.plan.children[0].relation == "orders"
    assert back.plan.rows == 10.0 and back.plan.width == 2.0
    # a pre-round-12 bundle row (no timed_out key) decodes to None —
    # the "unknown, fall back to magnitude inference" sentinel
    legacy = LC._encode([c])
    del legacy[0]["timed_out"]
    [lb] = LC._decode(legacy)
    assert lb.timed_out is None


def test_catalog_is_fingerprinted():
    # round-6 advice: a catalog-semantics change (register_views /
    # load_table) must invalidate every cached label
    assert "catalog.py" in LC._FINGERPRINT_FILES


def test_bundle_key_sensitive_to_data_regeneration(tmp_path):
    """Regenerated parquet at the SAME path must re-key (round-6 advice:
    the key was path-only, so new data silently reused old labels).
    data_fingerprint is memoized per process (round-8 advice), so this
    test clears the memo after each rewrite — mid-run regeneration is
    out of contract for the real pipeline."""
    sf = tmp_path / "sf"
    sf.mkdir()
    f = sf / "orders.parquet"
    f.write_bytes(b"v1-bytes")
    base = LC.bundle_key("SELECT 1", ("A",), 30.0, str(sf))
    assert LC.bundle_key("SELECT 1", ("A",), 30.0, str(sf)) == base
    f.write_bytes(b"v2-bytes-longer")  # size change
    LC.data_fingerprint.cache_clear()
    assert LC.bundle_key("SELECT 1", ("A",), 30.0, str(sf)) != base
    # same size, different content: the head/tail sample must re-key
    f.write_bytes(b"v3-bytes-longer")
    LC.data_fingerprint.cache_clear()
    assert LC.bundle_key("SELECT 1", ("A",), 30.0, str(sf)) != base
    # mtime-free (round-8 advice): a touch alone must NOT re-key — the
    # committed cache stays valid across checkouts/byte-identical regen
    f.write_bytes(b"v1-bytes")
    LC.data_fingerprint.cache_clear()
    pinned = LC.bundle_key("SELECT 1", ("A",), 30.0, str(sf))
    assert pinned == base
    os.utime(f, ns=(1, 1))
    LC.data_fingerprint.cache_clear()
    assert LC.bundle_key("SELECT 1", ("A",), 30.0, str(sf)) == pinned
    # partitioned-table layout: a new file in a subdirectory re-keys too
    part = sf / "events.parquet" / "day=1"
    part.mkdir(parents=True)
    (part / "part-0.parquet").write_bytes(b"x")
    LC.data_fingerprint.cache_clear()
    assert LC.bundle_key("SELECT 1", ("A",), 30.0, str(sf)) != pinned


def test_data_fingerprint_samples_file_tail(tmp_path):
    """A change past the head sample (e.g. only the parquet footer
    statistics differ) must still re-key."""
    sf = tmp_path / "sf"
    sf.mkdir()
    big = b"\x00" * (3 * LC._SAMPLE_BYTES)
    f = sf / "lineitem.parquet"
    f.write_bytes(big)
    LC.data_fingerprint.cache_clear()
    base = LC.data_fingerprint(str(sf))
    f.write_bytes(big[:-4] + b"diff")  # same size, tail-only change
    LC.data_fingerprint.cache_clear()
    assert LC.data_fingerprint(str(sf)) != base
    # memoization: without cache_clear a further rewrite is invisible —
    # that IS the contract (per-process memo; data can't change mid-run)
    memo = LC.data_fingerprint(str(sf))
    f.write_bytes(big)
    assert LC.data_fingerprint(str(sf)) == memo
    LC.data_fingerprint.cache_clear()


def test_data_fingerprint_samples_interior(tmp_path):
    """Round-9 advice: a same-size regeneration that differs ONLY in
    mid-file bytes (outside both the head and tail samples) must re-key
    under the round-10 fingerprint."""
    sf = tmp_path / "sf"
    sf.mkdir()
    big = bytearray(6 * LC._SAMPLE_BYTES)
    f = sf / "lineitem.parquet"
    f.write_bytes(bytes(big))
    LC.data_fingerprint.cache_clear()
    base = LC.data_fingerprint(str(sf))
    big[3 * LC._SAMPLE_BYTES] = 0xFF  # dead middle, same size/head/tail
    f.write_bytes(bytes(big))
    LC.data_fingerprint.cache_clear()
    assert LC.data_fingerprint(str(sf)) != base
    LC.data_fingerprint.cache_clear()

def test_poisoned_marker_retries_then_expires(tmp_path, monkeypatch):
    """A zombie-poisoned query keeps a cross-run retry budget instead of
    being excluded forever (round-6 advice)."""
    cache = str(tmp_path)
    key = LC.bundle_key("SELECT 1", ("A",), 30.0, "/data/sf0.1")

    assert LC.record_poisoned(cache, key, error="zombie") == 1
    marker = LC.read_bundle(cache, key)
    assert marker == {"poisoned": True, "attempts": 1, "error": "zombie"}

    # under budget: the cache treats it as a miss and relabels live
    calls = []
    monkeypatch.setattr(
        LC, "label_query",
        lambda spark, sql, strategies, timeout_s: calls.append(sql) or
        [_cand()])
    out, hit = LC.cached_label_query(None, "SELECT 1", ("A",), 30.0,
                                     "/data/sf0.1", cache)
    assert calls == ["SELECT 1"] and len(out) == 1
    assert hit is False  # round-8 advice: an under-budget marker that
    # relabels live is a MISS for hit accounting
    # ...and a successful retry REPLACES the marker with a real bundle
    assert isinstance(LC.read_bundle(cache, key), list)

    # budget exhausted: permanent skip, no cluster touch (spark=None)
    for _ in range(LC.MAX_POISON_ATTEMPTS):
        LC.record_poisoned(cache, key, error="zombie again")
    calls.clear()
    out, hit = LC.cached_label_query(None, "SELECT 1", ("A",), 30.0,
                                     "/data/sf0.1", cache)
    assert out == [] and calls == []
    assert hit is True  # exhausted marker = cached outcome


def test_stored_empty_bundle_is_a_hit(tmp_path, monkeypatch):
    """``write_bundle`` stores ``[]`` for a query with no plannable form;
    a rerun must serve it from the cache, not relabel it."""
    cache = str(tmp_path)
    args = ("SELECT 1", ("A",), 30.0, "/data/sf0.1")
    LC.write_bundle(cache, LC.bundle_key(*args), [])

    def relabel(*a):
        raise AssertionError("label_query ran on a cached empty bundle")

    monkeypatch.setattr(LC, "label_query", relabel)
    for _ in range(2):
        assert LC.cached_label_query(None, *args, cache) == ([], True)


def test_revive_spark_internals_still_exist():
    """_revive_spark (evaluation/results.py) reaches into private PySpark
    internals; pin the 4.x layout so an upgrade fails loudly here instead
    of silently handing back a dead JVM (round-6 advice)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    for obj, attr in ((SparkContext, "_gateway"), (SparkContext, "_jvm"),
                      (SparkContext, "_lock"),
                      (SparkContext, "_active_spark_context"),
                      (SparkSession, "_instantiatedSession"),
                      (SparkSession, "_activeSession")):
        assert hasattr(obj, attr), f"{obj.__name__}.{attr} moved"


def test_cross_folds_clamped_to_bundle_count(capsys):
    from active_query_optimizer_spark.evaluation.results import _clamp_folds

    assert _clamp_folds(3, 24) == 3        # normal: untouched
    assert _clamp_folds(8, 3) == 3         # oversized: every fold >=1 test
    assert "clamping" in capsys.readouterr().err
    # with the clamp, block size is always >= 1
    assert 3 // _clamp_folds(8, 3) >= 1


def test_hit_path_never_touches_the_cluster(tmp_path):
    """A present cache file must satisfy the call without a SparkSession
    (spark=None would explode on any live-labeling path)."""
    cache = str(tmp_path)
    key = LC.bundle_key("SELECT 1", ("A",), 30.0, "/data/sf0.1")
    with gzip.open(os.path.join(cache, f"{key}.json.gz"), "wt") as fh:
        json.dump(LC._encode([_cand()]), fh)
    out, hit = LC.cached_label_query(None, "SELECT 1", ("A",), 30.0,
                                     "/data/sf0.1", cache)
    assert len(out) == 1 and out[0].exec_time_ms == 123.5
    assert hit is True


def test_probe_marker_roundtrip(tmp_path):
    """Probe markers (round-10 verdict #2) persist the default-plan
    admission outcome per (key, probe budget); a different budget
    re-probes rather than trusting a stale decision."""
    cache = str(tmp_path)
    key = "k" * 32
    assert LC.read_probe(cache, key, 45.0) is None
    LC.record_probe(cache, key, 45.0, False)
    m = LC.read_probe(cache, key, 45.0)
    assert m is not None and m["passed"] is False
    assert LC.read_probe(cache, key, 90.0) is None  # budget mismatch
    LC.record_probe(cache, key, 45.0, True, ms=123.0)
    m = LC.read_probe(cache, key, 45.0)
    assert m["passed"] is True and m["ms"] == 123.0


def test_probe_admits_cached_paths_no_cluster(tmp_path, monkeypatch):
    """Every cached admission decision must resolve without a
    SparkSession: a stored bundle bypasses the probe entirely (and is
    decompressed exactly once), and a stored probe
    marker answers pass/fail directly."""
    reads = []
    real_read = LC.read_bundle

    def counting_read(cache_dir, key):
        reads.append(key)
        return real_read(cache_dir, key)

    def no_probe(*a):
        raise AssertionError("a cached decision must not probe")

    monkeypatch.setattr(LC, "read_bundle", counting_read)
    monkeypatch.setattr(LC, "probe_default", no_probe)
    cache = str(tmp_path)
    key = LC.bundle_key("SELECT 1", ("A",), 30.0, "/data/sf0.1")
    with gzip.open(os.path.join(cache, f"{key}.json.gz"), "wt") as fh:
        json.dump(LC._encode([_cand()]), fh)
    out, hit = LC.cached_label_query(None, "SELECT 1", ("A",), 30.0,
                                     "/data/sf0.1", cache, 15.0)
    assert hit is True and len(out) == 1
    assert reads == [key]  # one decompress + parse of the stored bundle
    key2 = LC.bundle_key("SELECT 2", ("A",), 30.0, "/data/sf0.1")
    LC.record_probe(cache, key2, 15.0, False)
    out, hit = LC.cached_label_query(None, "SELECT 2", ("A",), 30.0,
                                     "/data/sf0.1", cache, 15.0)
    assert out is None and hit is False
    key3 = LC.bundle_key("SELECT 3", ("A",), 30.0, "/data/sf0.1")
    LC.record_probe(cache, key3, 15.0, True, ms=1.0)
    monkeypatch.setattr(LC, "label_query", lambda *a: [_cand()])
    out, hit = LC.cached_label_query(None, "SELECT 3", ("A",), 30.0,
                                     "/data/sf0.1", cache, 15.0)
    assert hit is False and len(out) == 1


def test_cached_label_query_outcomes_no_cluster(tmp_path, monkeypatch):
    """The one labeling call owns every cache outcome: hit, under-budget
    poison (relabels), exhausted poison (skip), probe reject from a
    stored and from a fresh probe, and a zombie (poison marker with the
    SQL recorded, error propagated)."""
    from active_query_optimizer_spark.plans.explore import (
        ZombieExecutionError)

    cache = str(tmp_path)
    args = (("A",), 30.0, "/data/sf0.1")
    labeled = []

    def fake_label(spark, sql, strategies, timeout_s):
        labeled.append(sql)
        if sql == "ZOMBIE":
            raise ZombieExecutionError("stuck")
        return [_cand()]

    probed = []

    def fake_probe(spark, sql, probe_s):
        probed.append(sql)
        if sql == "PZOMBIE":
            raise ZombieExecutionError("stuck default")
        return None  # every other fresh probe times out

    monkeypatch.setattr(LC, "label_query", fake_label)
    monkeypatch.setattr(LC, "probe_default", fake_probe)
    key = lambda sql: LC.bundle_key(sql, *args)  # noqa: E731

    # hit: a stored candidate list, no labeling, no probe
    LC.write_bundle(cache, key("HIT"), [_cand()])
    out, hit = LC.cached_label_query(None, "HIT", *args, cache, 15.0)
    assert hit is True and len(out) == 1 and labeled == probed == []

    # under-budget poison: relabels live without probing, a miss
    LC.record_poisoned(cache, key("RETRY"), error="z", sql="RETRY")
    out, hit = LC.cached_label_query(None, "RETRY", *args, cache, 15.0)
    assert hit is False and len(out) == 1
    assert labeled == ["RETRY"] and probed == []
    assert isinstance(LC.read_bundle(cache, key("RETRY")), list)

    # exhausted poison: the plan-collapse skip, counted as a hit
    for _ in range(LC.MAX_POISON_ATTEMPTS):
        LC.record_poisoned(cache, key("DEAD"), sql="DEAD")
    out, hit = LC.cached_label_query(None, "DEAD", *args, cache, 15.0)
    assert out == [] and hit is True and labeled == ["RETRY"]

    # probe reject, stored marker: no probe run, no labeling
    LC.record_probe(cache, key("SLOW"), 15.0, False, sql="SLOW")
    out, hit = LC.cached_label_query(None, "SLOW", *args, cache, 15.0)
    assert out is None and hit is False and probed == []

    # probe reject, fresh: probes once and records the marker with its SQL
    out, hit = LC.cached_label_query(None, "FRESH", *args, cache, 15.0)
    assert out is None and hit is False and probed == ["FRESH"]
    m = LC.read_probe(cache, key("FRESH"), 15.0)
    assert m["passed"] is False and m["sql"] == "FRESH"
    assert labeled == ["RETRY"]

    # zombie: poison marker written with the SQL, the error propagates
    with pytest.raises(ZombieExecutionError) as err:
        LC.cached_label_query(None, "ZOMBIE", *args, cache, None)
    assert err.value.admitted is True
    raw = LC.read_bundle(cache, key("ZOMBIE"))
    assert raw == {"poisoned": True, "attempts": 1, "error": "stuck",
                   "sql": "ZOMBIE"}
    # a zombie in the probe itself: poisoned too, but never admitted
    with pytest.raises(ZombieExecutionError) as err:
        LC.cached_label_query(None, "PZOMBIE", *args, cache, 15.0)
    assert err.value.admitted is False
    assert LC.read_bundle(cache, key("PZOMBIE"))["attempts"] == 1
    assert LC.read_probe(cache, key("PZOMBIE"), 15.0) is None

    # no cache: probe (when asked) and label live, no file I/O
    before = sorted(os.listdir(cache))
    out, hit = LC.cached_label_query(None, "LIVE", *args, None, None)
    assert hit is False and len(out) == 1 and labeled[-1] == "LIVE"
    assert LC.cached_label_query(None, "LIVE", *args, None, 15.0) == (
        None, False) and probed[-1] == "LIVE"
    assert sorted(os.listdir(cache)) == before


def test_probe_marker_stores_sql_and_clears_on_bundle_write(tmp_path,
                                                            monkeypatch):
    """Round-12 advice: (a) probe markers record their SQL so a cache
    re-key can migrate them instead of dropping paid-for admission
    decisions; (b) once the full bundle is written the marker is deleted
    — ``read_bundle`` owns admission from then on."""
    cache = str(tmp_path)
    sql = "SELECT 4"
    key = LC.bundle_key(sql, ("A",), 30.0, "/data/sf0.1")
    LC.record_probe(cache, key, 15.0, True, ms=2.0, sql=sql)
    m = LC.read_probe(cache, key, 15.0)
    assert m is not None and m["sql"] == sql
    # miss path labels live (stubbed) and must clear the marker
    monkeypatch.setattr(LC, "label_query",
                        lambda *a, **k: [_cand()])
    out, hit = LC.cached_label_query(None, sql, ("A",), 30.0,
                                     "/data/sf0.1", cache)
    assert hit is False and len(out) == 1
    assert LC.read_probe(cache, key, 15.0) is None
    assert not os.path.exists(os.path.join(cache, f"{key}-probe.json.gz"))
    # clear_probe is a no-op (False) when no marker exists
    assert LC.clear_probe(cache, key) is False


def test_poison_marker_keeps_sql_across_attempts(tmp_path):
    """``record_poisoned`` persists the SQL (for re-keying) and keeps it
    when a later attempt omits it."""
    cache = str(tmp_path)
    LC.record_poisoned(cache, "k1", error="zombie", sql="SELECT 5")
    raw = LC.read_bundle(cache, "k1")
    assert raw["sql"] == "SELECT 5" and raw["attempts"] == 1
    LC.record_poisoned(cache, "k1", error="zombie again")
    raw = LC.read_bundle(cache, "k1")
    assert raw["sql"] == "SELECT 5" and raw["attempts"] == 2


def test_code_fingerprint_of_matches_live_fingerprint():
    """``code_fingerprint_of`` over the CURRENT on-disk sources must
    equal the live memoized fingerprint — the property the
    ``--legacy-code-rev`` cache migration rests on (recomputing a
    historical fingerprint from ``git show`` blobs)."""
    pkg_root = os.path.dirname(os.path.abspath(LC.__file__)).rsplit(
        os.sep + "plans", 1)[0]
    sources = {}
    for rel in LC._FINGERPRINT_FILES:
        with open(os.path.join(pkg_root, rel), "rb") as fh:
            sources[rel] = fh.read()
    assert LC.code_fingerprint_of(sources) == LC.code_fingerprint()


def test_bundle_key_at_code_matches_current_and_diverges():
    """Explicit-fingerprint keys equal bundle_key at the live fingerprint
    and diverge under any other fingerprint (provenance-by-key-match)."""
    cur = LC.code_fingerprint()
    k = LC.bundle_key("SELECT 1", ("A",), 30.0, "/data/sf0.1")
    assert LC.bundle_key_at_code("SELECT 1", ("A",), 30.0, "/data/sf0.1",
                                 cur) == k
    assert LC.bundle_key_at_code("SELECT 1", ("A",), 30.0, "/data/sf0.1",
                                 "deadbeefdeadbeef") != k
