"""Label cache for the optimizer-results pipeline (round-5 verdict #2).

Labeling is the artifact run's long pole: every candidate variant of every
generated query executes once at sf0.1 (~3h for 224 queries in round 5),
and growing the workload re-labeled everything from scratch. This module
makes growth incremental: a labeled bundle is persisted under a key of

    (sql text, strategy tuple, timeout, sf_dir, code fingerprint)

where the code fingerprint hashes the four modules whose behavior the
labels embed — ``plans/explore.py`` (variant construction, timing,
realized-plan capture), ``plans/featurize.py`` (plan serialization),
``session.py`` (the session confs execution runs under) and
``catalog.py`` (the view/load semantics every cached SQL executed
against — round-6 advice: a catalog change must not reuse stale labels).
Any edit to those files invalidates every cached label, so a stale label
can never survive an operator/labeling change; a workload-generator
change shows up in the SQL text itself. ``sf_dir`` is additionally keyed
by a DATA fingerprint (relative name + size + a head/tail content sample
of every parquet file under it), so regenerated data at the same path
relabels rather than silently reusing labels measured against different
rows. Deliberately mtime-free (round-8 advice): a fresh checkout or a
byte-identical regeneration keeps the committed cache valid — the
content sample (first+last 64 KiB, which covers the parquet footer
statistics any real regeneration perturbs) plus size is what detects
changed data. Both fingerprints are memoized per process; mid-run data
regeneration is out of contract (tests use ``cache_clear()``).

A ``ZombieExecutionError`` during labeling is recorded as a POISONED
marker (``{"poisoned": true, "attempts": n, "error": ...}``), not an
empty bundle: reruns retry the query up to ``MAX_POISON_ATTEMPTS`` times
(a transient machine condition should not exclude a query from every
future measurement round), and only a repeat offender is skipped
permanently. An empty bundle is the stored outcome of a query with no
plannable form, which reruns serve as a hit. Every generated query is
labeled through ``cached_label_query``, under the one labeling deadline.
The ``*-probe.json.gz`` files in the committed cache are default-plan
admission markers from the sf1 rehearsal (round 10); that admission is
retired, nothing reads them, and a real ``tools/rekey_label_cache.py``
run drops them.

MEASUREMENT-PROTOCOL NOTE (the deliberate decision the round-5 verdict
asked for): with the cache on, a grown workload's totals mix measurement
sessions — queries labeled in different runs on the same machine. Labels
were already documented as single-run measurements on a shared machine
("treat small per-query deltas as noise"); the cache widens that to
cross-session noise in exchange for incremental growth. RESULTS.md
states when its labels were cache-mixed. Tests never use the cache
(``cache_dir=None`` default keeps the live pipeline pinned).

Storage: one gzipped JSON file per bundle under ``.label_cache/`` at the
repo root (committed — that is what makes the NEXT round's growth
incremental). Plans round-trip through the reference bundle JSON
(``to_pg_json``/``from_pg_json``); ``total_cost`` is not preserved, which
is fine for this pipeline — the latency pretrain and the pairwise pass
consume (plan, wall-ms) only.
"""

from __future__ import annotations

import functools
import gzip
import hashlib
import json
import os
from typing import TYPE_CHECKING

from .explore import Candidate, ZombieExecutionError, label_query
from .featurize import from_pg_json, to_pg_json

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import SparkSession

#: modules whose source the labels' semantics depend on
_FINGERPRINT_FILES = ("plans/explore.py", "plans/featurize.py", "session.py",
                      "catalog.py")

#: a poisoned query is retried this many times across runs before it is
#: skipped for good (a zombie variant is usually a pathological plan, but
#: round-6 advice: it can also be a transient machine condition)
MAX_POISON_ATTEMPTS = 2


#: head/tail bytes sampled per parquet file for the data fingerprint —
#: the tail covers the parquet footer (row counts, column statistics,
#: encodings), which any real data regeneration perturbs
_SAMPLE_BYTES = 65536

#: interior sample points per file (round-9 advice: head+tail alone left
#: mid-file data pages of a multi-row-group file outside the sample — a
#: same-size regeneration differing only there reused stale labels).
#: 4 KiB at each of 8 evenly-spaced interior offsets closes that blind
#: spot at ~32 KiB extra read per file.
_MID_SAMPLES = 8
_MID_SAMPLE_BYTES = 4096


@functools.lru_cache(maxsize=1)
def code_fingerprint() -> str:
    """Hash of the labeling-relevant source files (see module docstring).
    Memoized: source files cannot change mid-run by design (round-8
    advice — ``bundle_key`` is called per query and re-reading four files
    each time was pure overhead)."""
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    h = hashlib.sha256()
    for rel in _FINGERPRINT_FILES:
        with open(os.path.join(pkg_root, rel), "rb") as fh:
            h.update(fh.read())
        h.update(b"\0")
    return h.hexdigest()[:16]


def _walk_parquet(root: str):
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                yield os.path.join(dirpath, f)


@functools.lru_cache(maxsize=None)
def data_fingerprint(sf_dir: str) -> str:
    """Hash of (relative path, size, head + 8 evenly-spaced interior
    samples + tail) for every parquet file under ``sf_dir``, recursively
    (partitioned tables are directories). Any data regeneration at the
    same path changes this and relabels; deliberately mtime-free so a
    committed cache survives fresh checkouts and byte-identical
    regenerations (round-8 advice). The interior samples close the
    round-9 blind spot (a same-size regeneration differing only in
    mid-file data pages). Memoized per (normalized) path: the dataset
    cannot change mid-run by design — tests that rewrite fixture data
    call ``cache_clear()``."""
    root = os.path.normpath(sf_dir)
    entries = []
    for full in _walk_parquet(root):
        st = os.stat(full)
        ch = hashlib.sha256()
        with open(full, "rb") as fh:
            ch.update(fh.read(_SAMPLE_BYTES))
            if st.st_size > 2 * _SAMPLE_BYTES:
                interior = st.st_size - 2 * _SAMPLE_BYTES
                for k in range(_MID_SAMPLES):
                    off = _SAMPLE_BYTES + (interior * k) // _MID_SAMPLES
                    fh.seek(off)
                    ch.update(fh.read(_MID_SAMPLE_BYTES))
                fh.seek(-_SAMPLE_BYTES, os.SEEK_END)
            ch.update(fh.read(_SAMPLE_BYTES))
        entries.append((os.path.relpath(full, root),
                        st.st_size, ch.hexdigest()[:16]))
    entries.sort()
    return hashlib.sha256(json.dumps(entries).encode()).hexdigest()[:16]


def _key_from(sql: str, strategies: tuple[str, ...],
              timeout_s: float, sf_dir: str, data_fp: str,
              code_fp: str | None = None) -> str:
    payload = json.dumps(
        [sql, list(strategies), timeout_s, os.path.normpath(sf_dir),
         code_fp if code_fp is not None else code_fingerprint(), data_fp],
        sort_keys=True)
    return hashlib.sha256(payload.encode()).hexdigest()[:32]


def bundle_key(sql: str, strategies: tuple[str, ...],
               timeout_s: float, sf_dir: str) -> str:
    """Content key for one labeled bundle (includes the code fingerprint
    and the data fingerprint of ``sf_dir``)."""
    return _key_from(sql, strategies, timeout_s, sf_dir,
                     data_fingerprint(sf_dir))


def bundle_key_at_code(sql: str, strategies: tuple[str, ...],
                       timeout_s: float, sf_dir: str,
                       code_fp: str) -> str:
    """``bundle_key`` under an EXPLICIT code fingerprint — migration use
    only (``tools/rekey_label_cache.py --legacy-code-rev``): when a
    fingerprinted source file changes in a way verified not to alter
    label semantics (e.g. a purely additive helper), the old fingerprint
    recomputed from git establishes each stored bundle's provenance."""
    return _key_from(sql, strategies, timeout_s, sf_dir,
                     data_fingerprint(sf_dir), code_fp)


def code_fingerprint_of(sources: dict[str, bytes]) -> str:
    """The fingerprint that ``code_fingerprint`` would produce for the
    given ``{relpath: content}`` mapping of ``_FINGERPRINT_FILES`` —
    lets migration tooling recompute a historical fingerprint from
    ``git show REV:path`` blobs without checking the revision out."""
    h = hashlib.sha256()
    for rel in _FINGERPRINT_FILES:
        h.update(sources[rel])
        h.update(b"\0")
    return h.hexdigest()[:16]


def _encode(cands: list[Candidate]) -> list[dict]:
    return [{
        "variant": c.variant,
        "sql": c.sql,
        "fingerprint": c.fingerprint,
        "plan_json": to_pg_json(c.plan),
        "exec_time_ms": c.exec_time_ms,
        "conf": c.conf,
        "realized_joins": list(c.realized_joins),
        "hint_realized": c.hint_realized,
        "timed_out": c.timed_out,
    } for c in cands]


def _decode(rows: list[dict]) -> list[Candidate]:
    out = []
    for r in rows:
        plan, _ = from_pg_json(r["plan_json"])
        out.append(Candidate(
            variant=r["variant"], sql=r["sql"],
            fingerprint=r["fingerprint"], plan=plan,
            exec_time_ms=r["exec_time_ms"], conf=dict(r["conf"]),
            realized_joins=tuple(r["realized_joins"]),
            hint_realized=r["hint_realized"],
            # None on bundles cached before the flag existed (round 12)
            timed_out=r.get("timed_out")))
    return out


def _atomic_write(cache_dir: str, key: str, payload) -> None:
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f"{key}.json.gz")
    tmp = f"{path}.tmp.{os.getpid()}"
    with gzip.open(tmp, "wt") as fh:
        json.dump(payload, fh)
    os.replace(tmp, path)


def write_bundle(cache_dir: str, key: str, cands: list[Candidate]) -> None:
    """Persist one labeled bundle atomically (tmp + rename), so a killed
    run keeps every bundle it finished — the incremental-growth property.
    An empty/short list is a valid bundle: it marks a genuinely
    unrankable (plan-collapse) query so reruns skip it instantly. A
    POISONED query is different — record it with ``record_poisoned`` so
    it keeps a retry budget."""
    _atomic_write(cache_dir, key, _encode(cands))


def record_poisoned(cache_dir: str, key: str, error: str = "",
                    sql: str | None = None) -> int:
    """Mark ``key`` poisoned (a zombie variant survived cancellation),
    incrementing its cross-run attempt count; returns the new count.
    Reruns retry the query until ``MAX_POISON_ATTEMPTS`` is spent.
    ``sql`` (kept from the prior marker when the caller omits it) makes
    the marker re-keyable across verified-benign labeling-code changes."""
    attempts = 1
    prior = read_bundle(cache_dir, key)
    if isinstance(prior, dict) and prior.get("poisoned"):
        attempts = int(prior.get("attempts", 1)) + 1
        if sql is None:
            sql = prior.get("sql")
    payload: dict = {"poisoned": True, "attempts": attempts, "error": error}
    if sql is not None:
        payload["sql"] = sql
    _atomic_write(cache_dir, key, payload)
    return attempts


def read_bundle(cache_dir: str, key: str):
    """Raw cache read: ``None`` (miss), a poison-marker dict, or the
    encoded candidate list (empty for a query with no plannable form)."""
    path = os.path.join(cache_dir, f"{key}.json.gz")
    if not os.path.exists(path):
        return None
    with gzip.open(path, "rt") as fh:
        return json.load(fh)


def cached_label_query(spark: "SparkSession", sql: str,
                       strategies: tuple[str, ...],
                       timeout_s: float, sf_dir: str,
                       cache_dir: str | None,
                       ) -> tuple[list[Candidate], bool]:
    """Label one generated query through the cache: the only place the
    labeling path computes a bundle key or reads/writes a cache file.

    In order: the stored bundle is read once — a candidate list is a hit
    (decoded without touching the cluster; an empty list is the stored
    no-plannable-form outcome), an EXHAUSTED poison marker
    returns ``[]`` as a hit (the plan-collapse skip), an under-budget
    marker relabels live. Anything else labels live under ``timeout_s``
    and the bundle is written. A ``ZombieExecutionError`` records a
    poison marker (with the SQL) and propagates.

    Returns ``(candidates, hit)``. ``hit`` is True only when the result
    came from the cache: an under-budget marker that relabels live is a
    miss, so RESULTS.md cannot overstate how many bundles came from the
    cache. With ``cache_dir=None`` the query is labeled live with no file
    I/O."""
    key = None
    if cache_dir is not None:
        key = bundle_key(sql, strategies, timeout_s, sf_dir)
        raw = read_bundle(cache_dir, key)
        if isinstance(raw, list):
            return _decode(raw), True
        if (isinstance(raw, dict) and raw.get("poisoned")
                and int(raw.get("attempts", 1)) >= MAX_POISON_ATTEMPTS):
            return [], True
    try:
        cands = label_query(spark, sql, strategies, timeout_s)
    except ZombieExecutionError as e:
        if cache_dir is not None:
            record_poisoned(cache_dir, key, error=str(e), sql=sql)
        raise
    if cache_dir is not None:
        write_bundle(cache_dir, key, cands)
    return cands, False


__all__ = ["cached_label_query", "write_bundle", "read_bundle",
           "record_poisoned", "bundle_key", "code_fingerprint",
           "data_fingerprint", "MAX_POISON_ATTEMPTS"]
