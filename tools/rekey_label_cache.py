"""Re-key the committed label cache after a bundle_key schema change.

The round-8 key change (data/catalog fingerprints) and the round-9 one
(mtime-free content sample) both invalidate every committed cache file's
NAME while leaving the labels themselves perfectly valid — a label is a
measurement of (sql, strategies, timeout, data, labeling code), and this
tool refuses to run unless the labeling code is bit-identical to what
the cache was measured under (the four ``_FINGERPRINT_FILES`` must be
unchanged in git since the cache files' last commit; pass
``--force-code-ok`` only if you have verified that out of band).

For every stored candidate-list bundle, the query SQL is recovered from
its ``default`` variant (``plan_variants`` always emits one) and the
bundle is re-written under the CURRENT ``bundle_key``. Poison markers
recorded with their SQL (round 12 on) re-key the same way. Legacy
SQL-less poison markers are left IN PLACE (unreachable under the new
fingerprint, but each records a paid-for cancellation escalation —
round-12 advice: never delete them wholesale). Any other dict is not a
label, and a real run drops it: the ``-probe`` admission markers of the
retired sf1 rehearsal are such files. Old-key files are
removed so the cache directory stays one-file-per-bundle.

The committed cache mixes bundles measured under DIFFERENT
(sf_dir, timeout) configurations — sf0.1/30 s plus the sf1 rehearsal's
30 s and 90 s runs — so a blanket re-key under one configuration would
silently move labels onto keys claiming a different dataset/deadline
(round-9 advice, medium). This tool therefore:

* treats any file whose name already equals ``bundle_key`` under ANY
  known configuration (``_KNOWN_CONFIGS`` + ``--known SF_DIR:TIMEOUT``)
  as current and never touches it;
* auto-migrates bundles keyed under a HISTORICAL code fingerprint when
  ``--legacy-code-rev REV`` names the git revision whose labeling
  sources the cache was measured under (use with ``--force-code-ok``
  after verifying the diff since REV does not alter label semantics —
  e.g. a purely additive helper): the old fingerprint is recomputed
  from ``git show REV:path`` and a key match under it establishes which
  (sf_dir, timeout) the bundle was measured under, and the bundle moves
  to the current key for that SAME configuration;
* only moves ORPHANS (files matching neither key) when
  ``--orphans-from SF_DIR:TIMEOUT`` states their measurement provenance
  explicitly; without that flag orphans are listed and left in place;
* never overwrites an existing candidate-list bundle at the target key
  (a valid same-SQL bundle under the new key wins over the orphan being
  moved) — but a migrating candidate-list bundle DOES replace a poison
  marker occupying its target (a marker that migrated earlier in the
  same pass must not strand the real measurements at the old key);
* lists an empty bundle (``[]``, the stored outcome of a query with no
  plannable form, which ``read_bundle`` serves as a hit) with the
  SQL-less markers and leaves it in place: it carries no SQL to re-key.

Usage::

    python tools/rekey_label_cache.py [--dry-run] \
        [--known SF_DIR:TIMEOUT ...] [--orphans-from SF_DIR:TIMEOUT] \
        [--legacy-code-rev REV --force-code-ok] [--cache-dir DIR]

A second pass after a fingerprint change reports every migrated file
as already current.
"""

from __future__ import annotations

import argparse
import glob
import gzip
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from active_query_optimizer_spark.evaluation.results import (  # noqa: E402
    LABEL_TIMEOUT_S)
from active_query_optimizer_spark.plans import labelcache as LC  # noqa: E402
from active_query_optimizer_spark.plans.explore import (  # noqa: E402
    HINT_STRATEGIES)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def code_unchanged_since(cache_dir: str) -> bool:
    """True iff none of the fingerprinted source files changed after the
    cache directory's last committed change."""
    last = subprocess.run(
        ["git", "log", "-1", "--format=%H", "--", cache_dir],
        cwd=REPO, capture_output=True, text=True).stdout.strip()
    if not last:
        return False
    pkg = "active_query_optimizer_spark"
    paths = [os.path.join(pkg, rel) for rel in LC._FINGERPRINT_FILES]
    diff = subprocess.run(
        ["git", "log", "--oneline", f"{last}..HEAD", "--", *paths],
        cwd=REPO, capture_output=True, text=True).stdout.strip()
    return diff == ""


#: every (sf_dir, timeout) configuration labels have been measured under
#: (git history: sf0.1 at the 30 s default; the sf1 rehearsal at 30 s and
#: at the scale-calibrated 90 s). Extend via --known when a new
#: configuration is introduced.
_KNOWN_CONFIGS: list[tuple[str, float]] = [
    ("/root/testdata/sf0.1", LABEL_TIMEOUT_S),
    (os.path.join(REPO, "testdata_sf1"), LABEL_TIMEOUT_S),
    (os.path.join(REPO, "testdata_sf1"), 90.0),
]


def _parse_config(arg: str) -> tuple[str, float]:
    sf_dir, _, timeout = arg.rpartition(":")
    if not sf_dir:
        sys.exit(f"bad config {arg!r}: expected SF_DIR:TIMEOUT")
    return os.path.normpath(sf_dir), float(timeout)


def main(argv: list[str] | None = None) -> None:
    parser = argparse.ArgumentParser(
        description="Re-key committed label-cache bundles after a "
                    "bundle_key schema change (see module docstring).")
    parser.add_argument("--dry-run", action="store_true")
    parser.add_argument("--force-code-ok", action="store_true")
    parser.add_argument("--cache-dir",
                        default=os.path.join(REPO, ".label_cache"))
    parser.add_argument("--known", action="append", default=[],
                        metavar="SF_DIR:TIMEOUT")
    parser.add_argument("--orphans-from", metavar="SF_DIR:TIMEOUT")
    parser.add_argument("--legacy-code-rev", metavar="REV")
    opts = parser.parse_args(sys.argv[1:] if argv is None else argv)
    dry = opts.dry_run
    force = opts.force_code_ok
    cache_dir = opts.cache_dir
    configs = list(_KNOWN_CONFIGS)
    configs.extend(_parse_config(a) for a in opts.known)
    orphans_from: tuple[str, float] | None = None
    if opts.orphans_from:
        orphans_from = _parse_config(opts.orphans_from)
        configs.append(orphans_from)
    legacy_code_fp: str | None = None
    if opts.legacy_code_rev:
        rev = opts.legacy_code_rev
        pkg = "active_query_optimizer_spark"
        sources = {}
        for rel in LC._FINGERPRINT_FILES:
            blob = subprocess.run(
                ["git", "show", f"{rev}:{pkg}/{rel}"],
                cwd=REPO, capture_output=True)
            if blob.returncode != 0:
                sys.exit(f"cannot read {pkg}/{rel} at {rev}")
            sources[rel] = blob.stdout
        legacy_code_fp = LC.code_fingerprint_of(sources)
        print(f"legacy code fingerprint at {rev}: {legacy_code_fp} "
              f"(current: {LC.code_fingerprint()})")
    # data_fingerprint only works for directories that still exist (the
    # sf1 rehearsal dir is gitignored and regenerable — if it was
    # regenerated since the labels were measured, its bundles show up as
    # orphans here, which is the safe direction: we refuse to move them)
    configs = [(os.path.normpath(d), t) for d, t in configs
               if os.path.isdir(d)]
    if not force and not code_unchanged_since(cache_dir):
        sys.exit("REFUSING: a fingerprinted labeling-source file changed "
                 "since the cache was committed — the stored labels were "
                 "measured under different code; relabel instead.")

    moved = skipped_current = dropped = 0
    orphans: list[str] = []
    marker_orphans: list[str] = []

    def provenance(sql: str, old_key: str):
        """Classify ``old_key`` for ``sql``: ``"current"`` (already the
        live key under a known configuration), a ``(sf_dir, timeout)``
        pair (keyed under the ``--legacy-code-rev`` code fingerprint —
        the key match itself establishes the measurement provenance), or
        ``None`` (unknown)."""
        if any(LC.bundle_key(sql, HINT_STRATEGIES, t, d) == old_key
               for d, t in configs):
            return "current"
        if legacy_code_fp is None:
            return None
        # keyed under the verified historical code fingerprint
        return next(
            ((d, t) for d, t in configs
             if LC.bundle_key_at_code(sql, HINT_STRATEGIES, t, d,
                                      legacy_code_fp) == old_key), None)

    for path in sorted(glob.glob(os.path.join(cache_dir, "*.json.gz"))):
        old_key = os.path.basename(path)[: -len(".json.gz")]
        with gzip.open(path, "rt") as fh:
            raw = json.load(fh)
        if isinstance(raw, dict) and raw.get("poisoned"):
            # poison markers are paid-for state (each attempt a full
            # cancellation escalation) — round-12 advice: never drop them
            # wholesale. Markers recorded with their SQL re-key exactly
            # like bundles; legacy SQL-less ones are left in place
            # (unreachable under the new fingerprint, but preserved).
            sql = raw.get("sql")
            if sql is None:
                marker_orphans.append(old_key)
                continue
            prov = provenance(sql, old_key)
            if prov == "current":
                skipped_current += 1
                continue
            if prov is None and orphans_from is None:
                marker_orphans.append(old_key)
                continue
            d, t = prov if prov is not None else orphans_from
            new_key = LC.bundle_key(sql, HINT_STRATEGIES, t, d)
            target = os.path.join(cache_dir, f"{new_key}.json.gz")
            if os.path.exists(target):
                # a fresher marker already lives at the new key
                print(f"drop (target marker exists): {old_key}")
                dropped += 1
                if not dry:
                    os.remove(path)
                continue
            if not dry:
                LC._atomic_write(cache_dir, new_key, raw)
                os.remove(path)
            moved += 1
            continue
        if isinstance(raw, list) and not raw:
            # an empty bundle is a labeled outcome (no plannable form)
            # with no SQL to re-key: leave it in place like the SQL-less
            # markers above rather than dropping it as SQL-less
            marker_orphans.append(old_key)
            continue
        if not isinstance(raw, list):
            # not a label: a retired probe marker or an unknown payload
            print(f"drop (not a bundle or poison marker): {old_key}")
            dropped += 1
            if not dry:
                os.remove(path)
            continue
        sql = next((c["sql"] for c in raw if c["variant"] == "default"),
                   None)
        if sql is None:
            print(f"drop (no default variant): {old_key}")
            dropped += 1
            if not dry:
                os.remove(path)
            continue
        prov = provenance(sql, old_key)
        if prov == "current":
            skipped_current += 1
            continue
        if prov is None and orphans_from is None:
            # unknown schema: provenance must be explicit
            orphans.append(old_key)
            continue
        d, t = prov if prov is not None else orphans_from
        new_key = LC.bundle_key(sql, HINT_STRATEGIES, t, d)
        target = os.path.join(cache_dir, f"{new_key}.json.gz")
        if os.path.exists(target):
            with gzip.open(target, "rt") as fh:
                existing = json.load(fh)
            if isinstance(existing, dict):
                # a poison marker claimed the key first — possibly
                # migrated earlier THIS pass. A candidate-list bundle is
                # real measurement; it wins.
                print(f"replace (marker at target yields to bundle): "
                      f"{old_key}")
                if not dry:
                    LC._atomic_write(cache_dir, new_key, raw)
                    os.remove(path)
                moved += 1
                continue
            print(f"skip (target exists, keeping current): {old_key}")
            orphans.append(old_key)
            continue
        if not dry:
            LC._atomic_write(cache_dir, new_key, raw)
            os.remove(path)
        moved += 1
    print(f"re-keyed {moved}, already-current {skipped_current}, "
          f"dropped {dropped}, orphans-left {len(orphans)}, "
          f"marker-orphans-left {len(marker_orphans)}"
          f"{' (dry run)' if dry else ''}")
    if marker_orphans:
        print("marker orphans (poison markers and empty bundles "
              "left IN PLACE — SQL-less payloads or unknown provenance; "
              "they are unreachable under the current fingerprint but "
              "preserved):")
        for k in marker_orphans:
            print(f"  {k}")
    if orphans and orphans_from is None:
        print("orphans (pass --orphans-from SF_DIR:TIMEOUT with their "
              "measurement provenance to move them):")
        for k in orphans:
            print(f"  {k}")
        sys.exit(2)


if __name__ == "__main__":
    main()
