"""Condition mining over a SQL workload.

Rebuilds the reference's workload analysis (``create_sql.py:12-92``
free-form condition mining, ``pg.py:189-315`` alias extraction + conjunct
classification) with the same regex-first approach the reference uses (it
mines join conditions with ``\\w+\\.\\w+ = \\w+\\.\\w+``) — no SQL parser
dependency.

Two execution shapes:
- pure-Python helpers (``mine_conditions``, ``build_join_graph``) for
  driver-side use on small seed workloads (the reference's seeds are
  113–146 queries);
- ``workload_profile`` for a workload *DataFrame* (20k–40k+ generated
  queries): conditions are mined inside executors via built-in regex
  functions + explode, and the #joins/#filters distributions come back as
  grouped counts — no ``collect()`` of query text. At 100 TB-scale
  workloads (millions of queries) this is the only shape that survives.
"""

from __future__ import annotations

import re
from collections import Counter, defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# reference mines join conditions with exactly this shape (create_sql.py:24)
JOIN_COND_RE = re.compile(
    r"([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*=\s*([A-Za-z_]\w*)\.([A-Za-z_]\w*)")
# alias.column <op> literal  — filter conjuncts (create_sql.py:40-68)
FILTER_RE = re.compile(
    r"([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*"
    r"(>=|<=|<>|!=|=|>|<|\bLIKE\b|\bNOT\s+LIKE\b|\bIN\b|\bBETWEEN\b)\s*"
    r"(?!\s*[A-Za-z_]\w*\.)", re.IGNORECASE)
FROM_RE = re.compile(
    r"\bFROM\s+(.*?)\s*(?:\bWHERE\b|\bGROUP\b|\bORDER\b|\bLIMIT\b|;|$)",
    re.IGNORECASE | re.DOTALL)
ALIAS_RE = re.compile(r"([A-Za-z_]\w*)(?:\s+(?:AS\s+)?([A-Za-z_]\w*))?\s*$",
                      re.IGNORECASE)
# ``[INNER|CROSS|LEFT|RIGHT|FULL [OUTER]] JOIN`` between FROM relations, and
# the ``ON``/``USING`` condition that follows a joined relation
JOIN_SEP_RE = re.compile(
    r"\b(?:(?:INNER|CROSS|(?:LEFT|RIGHT|FULL)(?:\s+OUTER)?)\s+)?JOIN\b",
    re.IGNORECASE)
JOIN_COND_TAIL_RE = re.compile(r"\b(?:ON|USING)\b.*",
                               re.IGNORECASE | re.DOTALL)


def extract_aliases(sql: str) -> dict[str, str]:
    """``{alias: table}`` from a FROM clause of comma-separated and/or
    ``JOIN … ON``/``USING`` relations (reference ``pg.py:189-258`` walks
    sqlparse tokens; comma-FROM is the only form its workloads contain)."""
    m = FROM_RE.search(sql)
    if not m:
        return {}
    out: dict[str, str] = {}
    # cut each joined relation's condition before splitting on commas: an
    # ON condition may itself hold commas (function arguments, IN lists)
    parts = [p for rel in JOIN_SEP_RE.split(m.group(1))
             for p in JOIN_COND_TAIL_RE.sub("", rel).split(",")]
    for part in parts:
        part = part.strip()
        if not part or "(" in part:
            continue
        am = ALIAS_RE.search(part)
        if am:
            table = am.group(1)
            alias = am.group(2) or table
            out[alias] = table
    return out


def mine_conditions(sql: str) -> tuple[list[tuple[str, str]], list[tuple[str, str]]]:
    """(join_conditions, filter_columns) of one query, alias-resolved to
    table names. Join condition = cross-relation column equality; anything
    else referencing ``alias.column`` is a filter (reference
    ``pg.py:274-315`` classifies conjuncts the same way).

    Returns join conds as sorted ``("t1.c1", "t2.c2")`` pairs and filters as
    ``(table, column)`` pairs.
    """
    aliases = extract_aliases(sql)

    def resolve(alias: str, col: str) -> str:
        return f"{aliases.get(alias, alias)}.{col}"

    where = sql.split("WHERE", 1)[1] if "WHERE" in sql.upper() else ""
    # normalize the case split (reference SQL is uppercase-keyword)
    idx = sql.upper().find("WHERE")
    where = sql[idx + 5:] if idx >= 0 else ""

    joins: list[tuple[str, str]] = []
    join_spans: list[tuple[int, int]] = []
    for m in JOIN_COND_RE.finditer(where):
        a1, c1, a2, c2 = m.groups()
        lhs, rhs = resolve(a1, c1), resolve(a2, c2)
        if lhs.split(".")[0] != rhs.split(".")[0] or a1 != a2:
            joins.append(tuple(sorted((lhs, rhs))))
            join_spans.append(m.span())

    filters: list[tuple[str, str]] = []
    for m in FILTER_RE.finditer(where):
        if any(s <= m.start() < e for s, e in join_spans):
            continue
        alias, col = m.group(1), m.group(2)
        table = aliases.get(alias, alias)
        filters.append((table, col))
    return sorted(set(joins)), sorted(set(filters))


def build_join_graph(join_conds: list[tuple[str, str]]
                     ) -> dict[str, list[tuple[str, str, str]]]:
    """Adjacency over tables: ``{table: [(other, this_col, other_col)]}``
    (reference ``create_sql.py:253-272``). Graphs are tiny (≤ ~20 nodes) —
    driver-side by design."""
    graph: dict[str, list[tuple[str, str, str]]] = defaultdict(list)
    for lhs, rhs in join_conds:
        t1, c1 = lhs.split(".")
        t2, c2 = rhs.split(".")
        if t1 == t2:
            continue
        if (t2, c1, c2) not in graph[t1]:
            graph[t1].append((t2, c1, c2))
        if (t1, c2, c1) not in graph[t2]:
            graph[t2].append((t1, c2, c1))
    return dict(graph)


def count_distributions(sqls: list[str]) -> tuple[Counter, Counter]:
    """Empirical (#join-conditions, #filters) distributions of a seed
    workload (reference ``create_sql.py:70-92``) — the generator samples
    from these."""
    joins_dist: Counter = Counter()
    filters_dist: Counter = Counter()
    for sql in sqls:
        joins, filters = mine_conditions(sql)
        joins_dist[len(joins)] += 1
        filters_dist[len(filters)] += 1
    return joins_dist, filters_dist


def workload_profile(workload: DataFrame, sql_col: str = "sql") -> DataFrame:
    """Distributed profile of a workload DataFrame: per-query join count,
    mined with JVM-side regex (no Python UDF), returned as a
    ``(n_joins, n_queries)`` distribution. The scale path for the
    reference's driver-side loops."""
    pat = r"[A-Za-z_]\w*\.[A-Za-z_]\w*\s*=\s*[A-Za-z_]\w*\.[A-Za-z_]\w*"
    return (
        workload
        .withColumn("n_joins",
                    F.size(F.regexp_extract_all(F.col(sql_col), F.lit(pat),
                                                F.lit(0))))
        .groupBy("n_joins")
        .agg(F.count(F.lit(1)).alias("n_queries"))
        .orderBy("n_joins")
    )
