"""Simulate the driver: vanilla session, hostile timezone, run entry() +
queries()[name] vs oracle_sql()[name] via DuckDB at sf0.01 (override with
SPARK_GRAFT_SIM_SF_DIR, e.g. sf0.1 for a stronger sweep — data-dependent
divergence can hide at small SF).

Usage: python tools/driver_sim.py [<query> ...]   (no names = every query)

Exits non-zero when any checked query fails.
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

from active_query_optimizer_spark.catalog import TABLES
from tests.oracle_util import mismatch

sf = os.environ.get("SPARK_GRAFT_SIM_SF_DIR", "/root/testdata/sf0.01")


def check(spark, con, qs, osql, name, sf):
    """Returns ``(ok, status)`` for one query against its oracle."""
    sp = qs[name](spark, sf).toPandas()
    if name not in osql:
        # the real driver canonicalizes rows-only output too, with a plain
        # pandas sort whose hash path chokes on non-scalar cells (round-2
        # red row: array<float> → "unhashable type: 'list'"); flag any
        # list/array-valued cell here before the driver sees it
        nonscalar = [c for c in sp.columns if len(sp) and any(
            isinstance(v, (list, tuple)) or (hasattr(v, "tolist") and not
            isinstance(v, (str, bytes, bytearray))) for v in sp[c].head(20))]
        if nonscalar:
            print(f"  FAIL[rows-only non-scalar cols {nonscalar}] {name}")
            return False, f"FAIL:rows-only-nonscalar:{nonscalar}"
        print(f"  {name}: rows-only ({len(sp)})")
        return True, f"rows-only:{len(sp)}"
    du = con.execute(osql[name]).fetchdf()
    why = mismatch(sp, du)
    ok = why is None
    if not ok:
        why = why.splitlines()[0]
    print(("  OK  " if ok else f"  FAIL[{why}]") + f" {name}")
    return ok, f"ok:{len(sp)}" if ok else f"FAIL:{why}"


def main() -> None:
    spark = (SparkSession.builder.master("local[8]")
             .appName("driver-sim")
             .config("spark.sql.session.timeZone", "America/New_York")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as E
    print("entry rows:", E.entry(spark).collect())
    qs, osql = E.queries(), E.oracle_sql()
    print(f"{len(qs)} queries, {len(osql)} oracles")
    names = sys.argv[1:] or sorted(qs)
    unknown = [n for n in names if n not in qs]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    bad = []
    status = {}
    for name in names:
        ok, status[name] = check(spark, con, qs, osql, name, sf)
        if not ok:
            bad.append(name)
    print("FAILURES:", bad if bad else "none")
    # machine-readable sweep record (SWEEP_r{N}.json): one status per query,
    # keyed by the sweep's scale factor, merged into an existing file so the
    # sf0.01 and sf0.1 sweeps land side by side
    out_path = os.environ.get("SPARK_GRAFT_SWEEP_OUT")
    if out_path:
        import json
        sweep = {}
        if os.path.exists(out_path):
            with open(out_path) as fh:
                sweep = json.load(fh)
        key = os.path.basename(sf.rstrip("/"))
        sweep[key] = {"queries": status, "n": len(status),
                      "failures": bad}
        with open(out_path, "w") as fh:
            json.dump(sweep, fh, indent=1, sort_keys=True)
        print(f"sweep written: {out_path} [{key}]")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
