"""Structural query-template fingerprinting.

Rebuilds ``sql_template.py:5-194`` (``extract_query_components`` /
``compare_queries`` / ``find_matching_template``): two queries match a
template when their table set, join-condition set and filter-column set are
structurally equal (literal values are ignored). The reference compares
component dicts pairwise in O(n·m); we canonicalize each query to a single
fingerprint string so matching becomes a hash join — the shape that
distributes (SURVEY.md §2.C last row suggests exactly this:
``sha2`` of sorted components).
"""

from __future__ import annotations

import hashlib

from .extract import mine_conditions


def components(sql: str) -> dict[str, tuple]:
    """Structural components of one query (tables, join conds, filter cols)
    — literal-free, alias-resolved."""
    joins, filters = mine_conditions(sql)
    tables = sorted({part.split(".")[0] for j in joins for part in j}
                    | {t for t, _ in filters})
    return {
        "tables": tuple(tables),
        "joins": tuple(joins),
        "filter_columns": tuple(sorted(set(filters))),
    }


def fingerprint(sql: str, include_filters: bool = True) -> str:
    """Canonical template fingerprint. With ``include_filters=False`` it is
    the reference's weaker 'same join template' match
    (``sql_template.py:153-173`` treats filter-column equality as the
    *exact*-match flag on top of the structural match)."""
    comp = components(sql)
    parts = [",".join(comp["tables"]),
             "|".join("=".join(j) for j in comp["joins"])]
    if include_filters:
        parts.append("|".join(f"{t}.{c}" for t, c in comp["filter_columns"]))
    return hashlib.sha256(";".join(parts).encode()).hexdigest()


def find_matching_template(sql: str, templates: list[str]) -> int | None:
    """Index of the first template structurally matching ``sql`` (reference
    ``sql_template.py:177-194``), or None."""
    fp = fingerprint(sql, include_filters=False)
    for i, t in enumerate(templates):
        if fingerprint(t, include_filters=False) == fp:
            return i
    return None
