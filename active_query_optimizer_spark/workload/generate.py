"""Seeded synthetic SQL workload generator.

Rebuilds the reference's generators (free-form STATS mode
``create_sql.py:95-251``; whole-template mode ``generate_stats_sql.py:
86-223``) over the star schema: sample a *connected* join subgraph via BFS
from a random start table (``create_sql.py:274-323``), form join-key
equivalence classes with union-find (``create_sql.py:137-162``), attach at
most one filter per equivalence class, numeric operators ``= != > < >= <=``
drawn with the reference's weights ``[1,7,7,7,7,7]`` and values uniform in
the harvested [min,max]; string filters ``=``/``!=`` against a harvested
value list; emit ``SELECT COUNT(*) FROM … WHERE …``.

Determinism under Spark re-execution (SURVEY.md §7.3f): each query's RNG is
seeded from ``(workload_seed, row_id)`` — never from partition-local state —
so a recomputed partition regenerates identical SQL.

Scale: generation is ``spark.range(n)`` → ``mapInPandas`` (embarrassingly
parallel, no shuffle); the join graph and range_dict ride along as broadcast
(they are KB-sized). 20k or 20M queries is the same plan.
"""

from __future__ import annotations

import random
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from .extract import (build_join_graph, count_distributions, extract_aliases,
                      mine_conditions)

# Seed workload over the driver's star schema — the analog of the
# reference's seed benchmark files (``data/test/stats_test_sql.txt``): the
# generator mines its join graph and count distributions from these.
SEED_WORKLOAD: list[str] = [
    "SELECT COUNT(*) FROM orders o, customer c WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 50000",
    "SELECT COUNT(*) FROM customer c, nation n WHERE c.c_nationkey = n.n_nationkey AND n.n_name != 'NATION_1'",
    "SELECT COUNT(*) FROM nation n, region r WHERE n.n_regionkey = r.r_regionkey",
    "SELECT COUNT(*) FROM supplier s, nation n WHERE s.s_nationkey = n.n_nationkey AND s.s_acctbal >= 0",
    "SELECT COUNT(*) FROM lineitem l, orders o WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity < 30",
    "SELECT COUNT(*) FROM lineitem l, part p WHERE l.l_partkey = p.p_partkey AND p.p_size <= 25",
    "SELECT COUNT(*) FROM lineitem l, supplier s WHERE l.l_suppkey = s.s_suppkey",
    "SELECT COUNT(*) FROM orders o, customer c, nation n WHERE o.o_custkey = c.c_custkey AND c.c_nationkey = n.n_nationkey AND o.o_totalprice > 100000",
    "SELECT COUNT(*) FROM lineitem l, orders o, customer c WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey AND c.c_acctbal > 0 AND l.l_discount < 0.05",
    "SELECT COUNT(*) FROM lineitem l, orders o, customer c, nation n, region r WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey AND c.c_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey",
]

NUMERIC_OPS = ["=", "!=", ">", "<", ">=", "<="]
NUMERIC_OP_WEIGHTS = [1, 7, 7, 7, 7, 7]  # create_sql.py:213
STRING_OPS = ["=", "!="]


def _bfs_connected_joins(rng: random.Random,
                         graph: dict[str, list[tuple[str, str, str]]],
                         n_joins: int) -> list[tuple[str, str, str, str]]:
    """Connected join-edge sample: BFS frontier from a random start table,
    picking random incident edges (reference ``create_sql.py:274-323``).
    Returns ``(t1, c1, t2, c2)`` edges; len ≤ n_joins (graph may be small).
    """
    tables = sorted(graph)
    start = rng.choice(tables)
    in_query = {start}
    edges: list[tuple[str, str, str, str]] = []
    for _ in range(n_joins):
        candidates = [
            (t, c_this, other, c_other)
            for t in sorted(in_query)
            for (other, c_this, c_other) in graph.get(t, [])
            if other not in in_query
        ]
        if not candidates:
            break
        t1, c1, t2, c2 = candidates[rng.randrange(len(candidates))]
        in_query.add(t2)
        edges.append((t1, c1, t2, c2))
    return edges


def _union_find_classes(edges: list[tuple[str, str, str, str]]
                        ) -> list[set[str]]:
    """Join-key equivalence classes over ``table.column`` keys (reference
    ``create_sql.py:137-162``): transitively-equal join keys share a class;
    the generator attaches ≤1 filter per class."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for t1, c1, t2, c2 in edges:
        a, b = find(f"{t1}.{c1}"), find(f"{t2}.{c2}")
        if a != b:
            parent[a] = b
    classes: dict[str, set[str]] = {}
    for k in parent:
        classes.setdefault(find(k), set()).add(k)
    return list(classes.values())


def _sample_filter(rng: random.Random, table: str, alias: str,
                   col: str, stats: dict) -> str | None:
    """One filter predicate against harvested stats (reference
    ``create_sql.py:204-238``)."""
    if stats.get("type") == "timestamp":
        # epoch-seconds bounds → portable string literal (the reference's
        # seed queries use '...'::timestamp casts, stats_test_sql.txt:2;
        # both Spark and DuckDB cast the string to the column's type)
        import datetime as _dt
        op = rng.choices(NUMERIC_OPS, weights=NUMERIC_OP_WEIGHTS, k=1)[0]
        val = rng.randint(int(stats["min"]), int(stats["max"]))
        lit = _dt.datetime.fromtimestamp(val, _dt.timezone.utc
                                         ).strftime("%Y-%m-%d %H:%M:%S")
        return f"{alias}.{col} {op} '{lit}'"
    if stats.get("type") == "numeric":
        op = rng.choices(NUMERIC_OPS, weights=NUMERIC_OP_WEIGHTS, k=1)[0]
        lo, hi = stats["min"], stats["max"]
        if isinstance(lo, float) or isinstance(hi, float):
            val = round(rng.uniform(float(lo), float(hi)), 4)
            return f"{alias}.{col} {op} {val}"
        val = rng.randint(int(lo), int(hi))
        return f"{alias}.{col} {op} {val}"
    if stats.get("type") == "string" and stats.get("values"):
        op = rng.choice(STRING_OPS)
        val = str(rng.choice(stats["values"])).replace("'", "''")
        return f"{alias}.{col} {op} '{val}'"
    return None


def generate_one(rng: random.Random,
                 graph: dict[str, list[tuple[str, str, str]]],
                 range_dict: dict[str, dict[str, dict]],
                 joins_pop: list[int], filters_pop: list[int]) -> str:
    """One ``SELECT COUNT(*)`` query (reference ``create_sql.py:95-251``)."""
    n_joins = max(1, rng.choice(joins_pop))
    edges = _bfs_connected_joins(rng, graph, n_joins)
    tables = sorted({t for t1, _, t2, _ in edges for t in (t1, t2)}) or ["orders"]
    alias_of = {t: t[0] + str(i) for i, t in enumerate(tables)}

    conds = [f"{alias_of[t1]}.{c1} = {alias_of[t2]}.{c2}"
             for t1, c1, t2, c2 in edges]

    join_key_classes = _union_find_classes(edges)
    filtered_classes: set[int] = set()
    n_filters = rng.choice(filters_pop)
    candidates = [(t, c) for t in tables
                  for c in sorted(range_dict.get(t, {}))]
    rng.shuffle(candidates)
    for t, c in candidates:
        if n_filters <= 0:
            break
        key = f"{t}.{c}"
        cls_idx = next((i for i, cls in enumerate(join_key_classes)
                        if key in cls), None)
        if cls_idx is not None:
            if cls_idx in filtered_classes:
                continue  # ≤1 filter per join-key equivalence class
            filtered_classes.add(cls_idx)
        pred = _sample_filter(rng, t, alias_of[t], c, range_dict[t][c])
        if pred:
            conds.append(pred)
            n_filters -= 1

    from_clause = ", ".join(f"{t} {alias_of[t]}" for t in tables)
    where = " AND ".join(conds) if conds else "1 = 1"
    return f"SELECT COUNT(*) FROM {from_clause} WHERE {where}"


IMDB_OPS = ["=", "!=", "LIKE", "IN"]
IMDB_OP_WEIGHTS = [1, 13, 13, 13]  # generate_imdb_sql.py:260-271


def _sample_imdb_filter(rng: random.Random, alias: str, col: str,
                        stats: dict) -> str | None:
    """JOB-style string filter (reference ``generate_imdb_sql.py:196-332``):
    ops ``=/!=/LIKE/IN`` with weights [1,13,13,13]; ``IN`` draws 2–7
    values; ``LIKE`` wraps the first two characters of a sampled value."""
    values = stats.get("values") or []
    if stats.get("type") != "string" or not values:
        return _sample_filter(rng, None, alias, col, stats)
    op = rng.choices(IMDB_OPS, weights=IMDB_OP_WEIGHTS, k=1)[0]
    esc = lambda v: str(v).replace("'", "''")  # noqa: E731
    if op in ("=", "!="):
        return f"{alias}.{col} {op} '{esc(rng.choice(values))}'"
    if op == "LIKE":
        prefix = esc(str(rng.choice(values))[:2])
        neg = "NOT LIKE" if rng.random() < 0.2 else "LIKE"
        return f"{alias}.{col} {neg} '%{prefix}%'"
    n = rng.randint(2, min(7, len(values)))
    vals = ", ".join(f"'{esc(v)}'" for v in rng.sample(list(values), n))
    return f"{alias}.{col} IN ({vals})"


def generate_one_template(rng: random.Random,
                          templates: list[tuple[list[str], list[tuple[str, str]]]],
                          range_dict: dict[str, dict[str, dict]],
                          imdb_style: bool = False) -> str:
    """Whole-template mode (reference ``generate_stats_sql.py:86-223``):
    pick one seed query's *complete* join-condition set as an atomic
    template, then sample 2–6 filters (weights [1,3,3,2,1] —
    ``generate_imdb_sql.py:336-404``)."""
    aliased_conds, table_aliases = templates[rng.randrange(len(templates))]
    n_filters = rng.choices([2, 3, 4, 5, 6], weights=[1, 3, 3, 2, 1], k=1)[0]
    conds = list(aliased_conds)
    candidates = [(t, a, c) for t, a in table_aliases
                  for c in sorted(range_dict.get(t, {}))]
    rng.shuffle(candidates)
    for t, a, c in candidates:
        if n_filters <= 0:
            break
        stats = range_dict[t][c]
        pred = (_sample_imdb_filter(rng, a, c, stats) if imdb_style
                else _sample_filter(rng, t, a, c, stats))
        if pred:
            conds.append(pred)
            n_filters -= 1
    from_clause = ", ".join(f"{t} {a}" for t, a in table_aliases)
    return (f"SELECT COUNT(*) FROM {from_clause} "
            f"WHERE {' AND '.join(conds)}")


def _templates_from_seeds(seeds: list[str]):
    """Each seed's alias-qualified join conditions + FROM list — the
    'sorted full join-condition set as an atomic template' unit
    (``generate_stats_sql.py:24-84``)."""
    out = []
    for sql in seeds:
        aliases = extract_aliases(sql)
        joins, _ = mine_conditions(sql)
        if not joins:
            continue
        rev = {}
        for a, t in aliases.items():
            rev.setdefault(t, a)
        conds = []
        ok = True
        for lhs, rhs in joins:
            t1, c1 = lhs.split(".")
            t2, c2 = rhs.split(".")
            if t1 not in rev or t2 not in rev:
                ok = False
                break
            conds.append(f"{rev[t1]}.{c1} = {rev[t2]}.{c2}")
        if ok:
            out.append((sorted(conds), sorted(rev.items())))
    return out


def generate_workload_template(spark: SparkSession,
                               range_dict: dict[str, dict[str, dict]],
                               num_sql: int = 20000, seed: int = 42,
                               seed_workload: list[str] | None = None,
                               imdb_style: bool = False) -> DataFrame:
    """Template-mode workload DataFrame (the reference's 40k-query
    ``generate_stats_sql`` / 20k-query ``generate_imdb_sql`` modes)."""
    seeds = seed_workload if seed_workload is not None else SEED_WORKLOAD
    templates = _templates_from_seeds(seeds)
    if not templates:
        raise ValueError("no join templates mineable from seed workload")
    sc = spark.sparkContext
    b_templates = sc.broadcast(templates)
    b_ranges = sc.broadcast(range_dict)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sqls = []
            for row_id in pdf["id"]:
                rng = random.Random(seed * 0x9E3779B1 + int(row_id))
                sqls.append(generate_one_template(
                    rng, b_templates.value, b_ranges.value, imdb_style))
            yield pd.DataFrame({"id": pdf["id"], "sql": sqls})

    return spark.range(num_sql).mapInPandas(gen, "id long, sql string")


def generate_workload(spark: SparkSession,
                      range_dict: dict[str, dict[str, dict]],
                      num_sql: int = 20000, seed: int = 42,
                      seed_workload: list[str] | None = None) -> DataFrame:
    """Workload DataFrame ``[id: long, sql: string]`` — distributed, seeded,
    re-execution-deterministic."""
    seeds = seed_workload if seed_workload is not None else SEED_WORKLOAD
    all_joins: list[tuple[str, str]] = []
    for s in seeds:
        all_joins.extend(mine_conditions(s)[0])
    graph = build_join_graph(sorted(set(all_joins)))
    joins_dist, filters_dist = count_distributions(seeds)
    joins_pop = sorted(joins_dist.elements())
    filters_pop = sorted(filters_dist.elements()) or [1]

    sc = spark.sparkContext
    b_graph = sc.broadcast(graph)
    b_ranges = sc.broadcast(range_dict)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sqls = []
            for row_id in pdf["id"]:
                # per-row integer seed (tuple seeds are rejected; mix so
                # nearby (seed,id) pairs diverge)
                rng = random.Random(seed * 0x9E3779B1 + int(row_id))
                sqls.append(generate_one(rng, b_graph.value, b_ranges.value,
                                         joins_pop, filters_pop))
            yield pd.DataFrame({"id": pdf["id"], "sql": sqls})

    return spark.range(num_sql).mapInPandas(gen, "id long, sql string")

