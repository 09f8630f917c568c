"""Safety contract of tools/rekey_label_cache.py (round-9 advice,
medium): the committed label cache mixes bundles measured under
different (sf_dir, timeout) configurations, so a bare invocation must
never MOVE anything — every committed file must already be recognized as
current under one of the known configurations, and orphans (old-schema
keys) must be left in place unless provenance is stated explicitly."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


@pytest.mark.skipif(not (REPO / ".label_cache").is_dir(),
                    reason="no committed label cache")
def test_bare_dry_run_moves_nothing():
    out = subprocess.run(
        [sys.executable, "tools/rekey_label_cache.py", "--dry-run",
         "--force-code-ok"],
        cwd=REPO, capture_output=True, text=True, timeout=600,
        env={**os.environ, "PYTHONPATH": str(REPO)})
    # exit 0 (no orphans) or 2 (orphans listed, left in place) are both
    # non-destructive; anything else is a tool failure
    assert out.returncode in (0, 2), out.stderr[-2000:]
    summary = [ln for ln in out.stdout.splitlines()
               if ln.startswith("re-keyed ")]
    assert summary, out.stdout[-2000:]
    # without --orphans-from, nothing may move (the committed cache's
    # retired probe markers are counted as droppable — documented tool
    # behavior)
    assert "re-keyed 0," in summary[0], summary[0]


def _old_key(sql: str, sf) -> str:
    """The key ``sql`` had under a retired code fingerprint: an orphan
    the tool moves only when ``--orphans-from`` names its provenance."""
    from active_query_optimizer_spark.plans import labelcache as LC
    from active_query_optimizer_spark.plans.explore import HINT_STRATEGIES

    return LC.bundle_key_at_code(sql, HINT_STRATEGIES, 30.0, str(sf),
                                 "0" * 16)


def _load_tool():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "rekey_tool", REPO / "tools" / "rekey_label_cache.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_markers_with_sql_migrate_and_sqlless_are_preserved(tmp_path):
    """Round-12 advice: poison markers are paid-for state. A marker
    recorded with its SQL re-keys exactly like a bundle; a legacy SQL-less
    marker is left IN PLACE — never deleted. A probe marker of the retired
    default-plan admission is not a label: a real run drops it."""
    from active_query_optimizer_spark.plans import labelcache as LC
    from active_query_optimizer_spark.plans.explore import HINT_STRATEGIES

    rk = _load_tool()
    cache = tmp_path / "cache"
    cache.mkdir()
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "t.parquet").write_bytes(bytes(range(256)))
    sql1, sql2, sql3 = ("SELECT 1 FROM t", "SELECT 2 FROM t",
                        "SELECT 3 FROM t")

    def put(key: str, payload) -> None:
        import gzip
        import json

        with gzip.open(cache / f"{key}.json.gz", "wt") as fh:
            json.dump(payload, fh)

    leg = lambda s: _old_key(s, sf)  # noqa: E731
    cur = lambda s: LC.bundle_key(  # noqa: E731
        s, HINT_STRATEGIES, 30.0, str(sf))
    # a bundle, a probe marker, a SQL-less poison marker and a poison
    # marker with its SQL — all keyed under a retired code fingerprint
    # except the SQL-less one
    put(leg(sql1), [{"variant": "default", "sql": sql1,
                     "fingerprint": "f", "plan_json": "{}",
                     "exec_time_ms": 1.0, "conf": {},
                     "realized_joins": [], "hint_realized": None}])
    put(leg(sql2) + "-probe", {"probe": True, "probe_s": 45.0,
                               "passed": False, "ms": None, "sql": sql2})
    put("deadbeef", {"poisoned": True, "attempts": 1, "error": "z"})
    put(leg(sql3), {"poisoned": True, "attempts": 1, "error": "z",
                    "sql": sql3})

    args = ["--cache-dir", str(cache), "--orphans-from", f"{sf}:30",
            "--force-code-ok"]
    rk.main(args)
    after_first = sorted(os.listdir(cache))
    rk.main(args)  # a second pass finds everything current
    assert sorted(os.listdir(cache)) == after_first

    assert (cache / f"{cur(sql1)}.json.gz").exists()
    assert not (cache / f"{leg(sql1)}.json.gz").exists()
    # the probe marker is dropped, not migrated
    assert not (cache / f"{leg(sql2)}-probe.json.gz").exists()
    assert not (cache / f"{cur(sql2)}-probe.json.gz").exists()
    assert not (cache / f"{cur(sql2)}.json.gz").exists()
    # poison marker migrated intact
    raw = LC.read_bundle(str(cache), cur(sql3))
    assert raw["poisoned"] is True and raw["sql"] == sql3
    assert not (cache / f"{leg(sql3)}.json.gz").exists()
    # the SQL-less legacy marker is preserved in place
    assert LC.read_bundle(str(cache), "deadbeef") == {
        "poisoned": True, "attempts": 1, "error": "z"}
    assert len(after_first) == 3


def test_empty_list_is_a_marker_orphan_not_deleted(tmp_path):
    """``[]`` is an empty bundle (a query with no plannable form) and
    carries no SQL: the tool must leave it in place with the SQL-less
    markers, not delete it via the 'no SQL to re-key' branch."""
    rk = _load_tool()
    cache = tmp_path / "cache"
    cache.mkdir()
    import gzip
    import json

    with gzip.open(cache / "oldkey.json.gz", "wt") as fh:
        json.dump([], fh)
    rk.main(["--cache-dir", str(cache), "--force-code-ok"])
    assert (cache / "oldkey.json.gz").exists()


def test_bundle_replaces_poison_marker_at_target(tmp_path):
    """Round-13 advice item #2: when a SQL-bearing poison marker migrates
    to the current key before the genuine candidate-list bundle for the
    same (sql, config) is processed, the bundle must replace the marker
    at the target — not be stranded at the old key."""
    from active_query_optimizer_spark.plans import labelcache as LC
    from active_query_optimizer_spark.plans.explore import HINT_STRATEGIES

    rk = _load_tool()
    cache = tmp_path / "cache"
    cache.mkdir()
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "t.parquet").write_bytes(bytes(range(256)))
    sql = "SELECT 4 FROM t"
    leg = _old_key(sql, sf)
    cur = LC.bundle_key(sql, HINT_STRATEGIES, 30.0, str(sf))
    import gzip
    import json

    bundle = [{"variant": "default", "sql": sql, "fingerprint": "f",
               "plan_json": "{}", "exec_time_ms": 1.0, "conf": {},
               "realized_joins": [], "hint_realized": None}]

    def put(key: str, payload) -> None:
        with gzip.open(cache / f"{key}.json.gz", "wt") as fh:
            json.dump(payload, fh)

    # the poison marker already sits at the CURRENT key (as if it
    # migrated earlier in the pass); the real bundle is still at its
    # old key
    put(cur, {"poisoned": True, "attempts": 1, "error": "z", "sql": sql})
    put(leg, bundle)
    rk.main(["--cache-dir", str(cache), "--orphans-from", f"{sf}:30",
             "--force-code-ok"])
    assert not (cache / f"{leg}.json.gz").exists()
    raw = LC.read_bundle(str(cache), cur)
    assert isinstance(raw, list) and raw[0]["sql"] == sql


def test_flag_parsing_rejects_missing_value():
    """Round-13 advice item #3: a flag without its value must error
    cleanly (argparse), not raise IndexError."""
    rk = _load_tool()
    with pytest.raises(SystemExit) as exc:
        rk.main(["--cache-dir"])
    assert exc.value.code == 2


def test_marker_migration_is_idempotent_and_dry_run_safe(tmp_path):
    """A --dry-run over a marker-bearing cache must not touch a file."""
    rk = _load_tool()
    cache = tmp_path / "cache"
    cache.mkdir()
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "t.parquet").write_bytes(bytes(range(256)))
    sql = "SELECT 9 FROM t"
    key = _old_key(sql, sf)
    import gzip
    import json

    with gzip.open(cache / f"{key}.json.gz", "wt") as fh:
        json.dump({"poisoned": True, "attempts": 1, "error": "z",
                   "sql": sql}, fh)
    before = sorted(os.listdir(cache))
    rk.main(["--cache-dir", str(cache), "--orphans-from", f"{sf}:30",
             "--force-code-ok", "--dry-run"])
    assert sorted(os.listdir(cache)) == before
