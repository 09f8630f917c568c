"""Dump the full labeled-bundle anatomy for specific generated query ids
(the q82 discipline, SCALE.md round-12: anatomy BEFORE any model/feature
fix — classify a mis-pick as feature-blindness vs preference-
generalization vs label noise from the stored evidence alone).

The workload is regenerated deterministically (same harvest + generator
+ seed as ``tools/make_results.py``) to recover each id's SQL, then the
bundle is recovered from the committed ``.label_cache`` by matching the
default variant's SQL text (labels are immutable measurements; no
relabeling happens here). For every candidate the tool prints the label,
the realized join strategies, and the captured plan tree with actual
cardinalities (``numOutputRows``) — plus the largest intermediate, the
discriminator in both the q64 and q82 anatomies.

Usage::

    SPARK_GRAFT_SF_DIR=/root/repo/testdata_sf1 \
        python tools/anatomize_bundle.py 208 180 [--num-sql 240]
"""

from __future__ import annotations

import argparse
import glob
import gzip
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from active_query_optimizer_spark.catalog import register_views  # noqa: E402
from active_query_optimizer_spark.plans import labelcache as LC  # noqa: E402
from active_query_optimizer_spark.session import get_spark  # noqa: E402
from active_query_optimizer_spark.stats.harvester import (  # noqa: E402
    harvest_range_dict)
from active_query_optimizer_spark.workload.generate import (  # noqa: E402
    generate_workload)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_cache_by_sql(cache_dir: str) -> dict[str, list]:
    """Every cached bundle, keyed by its default variant's SQL text."""
    out: dict[str, list] = {}
    for path in glob.glob(os.path.join(cache_dir, "*.json.gz")):
        with gzip.open(path, "rt") as fh:
            raw = json.load(fh)
        if not isinstance(raw, list) or not raw:
            continue  # poison marker / empty bundle
        cands = LC._decode(raw)
        default = next((c for c in cands if c.variant == "default"), None)
        if default is not None:
            out[default.sql] = cands
    return out


def _render(node, depth: int = 0, out: list[str] | None = None,
            peak: list[float] | None = None) -> tuple[list[str], float]:
    out = [] if out is None else out
    peak = [0.0] if peak is None else peak
    rel = f" [{node.relation}]" if node.relation else ""
    out.append(f"{'  ' * depth}{node.op}{rel} rows={node.rows:,.0f}")
    if not node.relation:  # scans aren't intermediates
        peak[0] = max(peak[0], node.rows)
    for c in node.children:
        _render(c, depth + 1, out, peak)
    return out, peak[0]


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("ids", nargs="+", type=int)
    parser.add_argument("--num-sql", type=int, default=240)
    parser.add_argument("--seed", type=int, default=7)
    opts = parser.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR",
                            os.path.join(REPO, "testdata_sf1"))

    by_sql = load_cache_by_sql(os.path.join(REPO, ".label_cache"))
    print(f"cache: {len(by_sql)} distinct SQL bundles", file=sys.stderr)

    spark = get_spark("aqo-anatomize")
    spark.sparkContext.setLogLevel("ERROR")
    register_views(spark, sf_dir)
    rd = harvest_range_dict(spark, sf_dir)
    wl = {r["id"]: r["sql"]
          for r in generate_workload(spark, rd, num_sql=opts.num_sql,
                                     seed=opts.seed).collect()}

    for qid in opts.ids:
        print(f"\n{'=' * 72}\nq{qid}")
        sql = wl.get(qid)
        if sql is None:
            print(f"  id {qid} not in the generated {opts.num_sql}-query "
                  "workload")
            continue
        print(f"SQL: {sql}")
        cands = by_sql.get(sql)
        if cands is None:
            print("  NO CACHED BUNDLE for this SQL (probe-skipped or "
                  "never labeled)")
            continue
        for c in sorted(cands, key=lambda c: float(c.exec_time_ms)):
            lines, peak = _render(c.plan)
            realized = ",".join(c.realized_joins) \
                or "(pre-exec: no realized joins — timeout label)"
            print(f"\n-- {c.variant}: {float(c.exec_time_ms):,.1f} ms | "
                  f"peak intermediate {peak:,.0f} rows | joins: {realized}")
            for ln in lines:
                print(f"   {ln}")


if __name__ == "__main__":
    main()
