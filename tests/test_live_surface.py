"""Every public top-level function and class of the package is live.

Spark-free. The test parses the package, ``tools/``, ``perfbench/``,
``bench.py`` and ``__spark_entry__.py`` and fails on a public top-level
definition that has no reference outside ``tests/`` and the ``__init__``
re-exports, is not ``@register``-ed, and is not on ``ALLOWED``. A
reference is a name, an attribute, or a string constant equal to the name
(``perfbench/tracing.py`` wraps functions by name); a use inside the
defining module counts, ``__all__`` lists do not. Names are matched
without resolving imports, so a definition whose name some live code
also uses for something else passes. Code that only its own tests run
either goes, or gets an ``ALLOWED`` entry naming why it stays. It also
checks that every ``@register``-ed query takes exactly ``(spark, sf_dir)``,
the call the driver makes, and that no package module imports
``perfbench`` or ``tests``.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "active_query_optimizer_spark"
ENTRY_POINTS = [REPO / "tools", REPO / "perfbench", REPO / "bench.py",
                REPO / "__spark_entry__.py"]

#: ``module:name`` -> why it stays although only tests reference it
ALLOWED = {
    # optimizer pipeline entry points
    "pipelines/active.py:run_active_loop": "pipeline entry point",
    "pipelines/dynamic.py:run_dynamic": "pipeline entry point",
    "pipelines/optimize.py:run_optimized": "pipeline entry point",
    "streaming/incremental.py:incremental_retrain_stream":
        "pipeline entry point: the streaming retrain loop",
    "plans/extension.py:configure_builder":
        "pipeline entry point: loads the extension whose forms "
        "choose_plan ranks",
    # reference rebuilds (SURVEY.md cites the reference lines)
    "sources/workload_text.py:read_workload_text":
        "reference rebuild: read_query, create_sql.py:5-9",
    "sources/workload_text.py:read_plan_bundles":
        "reference rebuild: load_plans, Lero/lero_test.py:15-23",
    "plans/explore.py:bundles_to_lines":
        "reference rebuild: the bundle lines load_plans reads, "
        "Lero/create_training_file.py:4-15",
    "stats/harvester.py:read_infos":
        "reference rebuild: the infos/ JSON artifacts, pg.py:477-511",
    "catalog.py:table_columns":
        "reference rebuild: get_table_names/get_column_names, pg.py:72-77",
    "workload/extract.py:workload_profile":
        "reference rebuild: extract_conditions' distributions, "
        "create_sql.py:12-92",
    "workload/template.py:find_matching_template":
        "reference rebuild: find_matching_template, sql_template.py:177-194",
    "evaluation/metrics.py:spearman_by_group":
        "reference rebuild: the per-query spearmanr of "
        "compute_ranking_loss, Lero/lero_test.py:115-155",
    # test references for registered queries
    "stats/harvester.py:approx_column_cardinalities":
        "test reference for stats_column_cardinalities_approx",
}


def _modules(root: Path) -> list[Path]:
    return sorted(p for p in root.rglob("*.py")
                  if "__pycache__" not in p.parts)


def _is_registered(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", []):
        f = dec.func if isinstance(dec, ast.Call) else dec
        if getattr(f, "id", getattr(f, "attr", None)) == "register":
            return True
    return False


def _references(tree: ast.AST) -> set[str]:
    out: set[str] = set()
    todo = [tree]
    while todo:
        node = todo.pop()
        if isinstance(node, ast.Assign) and any(
                getattr(t, "id", None) == "__all__" for t in node.targets):
            continue
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            out.add(node.value)
        todo.extend(ast.iter_child_nodes(node))
    return out


def unreferenced(pkg: Path = PKG, entry_points=ENTRY_POINTS) -> list[str]:
    """``module:name`` of every public top-level definition of ``pkg``
    that nothing outside tests and ``__init__`` re-exports references."""
    defining = [p for p in _modules(pkg) if p.name != "__init__.py"]
    files = list(defining)
    for e in entry_points:
        files += _modules(e) if e.is_dir() else [e]
    trees = {p: ast.parse(p.read_text(), str(p)) for p in files}
    refs = {p: _references(t) for p, t in trees.items()}
    found = []
    for path in defining:
        tree = trees[path]
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                continue
            if node.name.startswith("_") or _is_registered(node):
                continue
            # the definition's own name is not a use of it
            own = _references(ast.Module(
                body=[n for n in tree.body if n is not node],
                type_ignores=[]))
            if node.name in own or any(
                    node.name in r for p, r in refs.items() if p != path):
                continue
            found.append(f"{path.relative_to(pkg).as_posix()}:{node.name}")
    return found


def test_no_public_definition_only_tests_reach():
    found = unreferenced()
    orphans = [k for k in found if k not in ALLOWED]
    assert not orphans, (
        "public definitions only tests reach; delete them with their "
        f"tests or allow them with a reason: {orphans}")


def test_allowlist_names_only_test_only_definitions():
    """An entry that live code now references, or whose definition is
    gone, is stale."""
    stale = sorted(set(ALLOWED) - set(unreferenced()))
    assert not stale, f"stale ALLOWED entries: {stale}"


def registered_signatures(pkg: Path = PKG) -> dict[str, list[str]]:
    """``module:name`` -> parameter names of every ``@register``-ed
    function in ``pkg``, with ``*args``/``**kwargs`` spelled out."""
    out = {}
    for path in _modules(pkg):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not (isinstance(node, ast.FunctionDef)
                    and _is_registered(node)):
                continue
            a = node.args
            params = [p.arg for p in a.posonlyargs + a.args + a.kwonlyargs]
            params += [f"*{a.vararg.arg}"] if a.vararg else []
            params += [f"**{a.kwarg.arg}"] if a.kwarg else []
            out[f"{path.relative_to(pkg).as_posix()}:{node.name}"] = params
    return out


def test_registered_queries_take_only_spark_and_sf_dir():
    """The driver calls every registered query as ``fn(spark, sf_dir)``;
    an extra parameter is a knob no driver call can reach."""
    sigs = registered_signatures()
    bad = {k: v for k, v in sigs.items() if v != ["spark", "sf_dir"]}
    assert not bad, f"registered queries with extra parameters: {bad}"
    assert len(sigs) >= 100, f"found only {len(sigs)} registered queries"


def test_package_imports_neither_perfbench_nor_tests():
    """The package must not import the benchmark (``perfbench``) or the
    test suite: bench and test code may call the package, never the
    other way round."""
    bad = []
    for path in _modules(PKG):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and not node.level:
                mods = [node.module or ""]
            else:
                continue
            bad += [f"{path.relative_to(PKG).as_posix()}:{node.lineno} {m}"
                    for m in mods
                    if m.split(".")[0] in ("perfbench", "tests")]
    assert not bad, f"package modules import perfbench or tests: {bad}"
