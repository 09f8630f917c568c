"""Python worker daemon: pyspark's own ``daemon.manager()``, started on a
``sys.path`` without archives.

Spark puts ``pyspark.zip``, the py4j source zip and the spark-core jar
ahead of site-packages on every worker's path. At the start of every task
``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, which on CPython 3.11 re-reads the
central directory of every cached zip importer (CPython gh-103200, fixed in
3.12): about 250 ms per Python stage on a 4-core VM. When the same
pyspark and py4j are installed as directories, the daemon drops the
archives before it imports pyspark, so each worker it forks imports the
driver's pyspark and no task re-reads an archive.

``session.get_spark`` selects this module through
``spark.python.daemon.module``. Run it only as ``python -m`` from Spark.
Archives shipped with ``addPyFile``/``--py-files`` are unaffected: the
worker adds them per task, after the daemon has started.
"""

from __future__ import annotations

import os
import re
import sys
from importlib.machinery import PathFinder

_ARCHIVES = (".zip", ".jar")
#: modules that must import from a directory, at the archive's version,
#: before any archive is dropped
_REQUIRED = ("pyspark", "py4j")
_VERSION = re.compile(
    r"""^__version__\s*(?::\s*str\s*)?=\s*['"]([^'"]+)['"]""", re.M)
#: the interpreter's own tree: an archive there (``pythonXY.zip``) may hold
#: the standard library
_INTERPRETER = tuple({sys.base_prefix, sys.base_exec_prefix})


def _version(spec) -> str | None:
    """``__version__`` from the ``version.py`` next to ``spec``'s package,
    read through its loader, so archives and directories read alike."""
    if spec is None or spec.origin is None:
        return None
    try:
        text = spec.loader.get_data(
            os.path.join(os.path.dirname(spec.origin), "version.py"))
    except OSError:
        return None
    m = _VERSION.search(text.decode("utf-8", "replace"))
    return m.group(1) if m else None


def directory_path(path: list[str]) -> list[str]:
    """``path`` without the ``.zip``/``.jar`` entries outside the
    interpreter's own tree, if ``pyspark`` and ``py4j`` then resolve to
    directories whose versions equal the ones ``path`` resolved them to;
    otherwise ``path`` itself, unchanged."""
    kept = [p for p in path
            if not (p.endswith(_ARCHIVES) and not p.startswith(_INTERPRETER))]
    for name in _REQUIRED:
        after = PathFinder.find_spec(name, kept)
        version = _version(after)
        if (version is None or not os.path.isfile(after.origin)
                or version != _version(PathFinder.find_spec(name, path))):
            return path
    return kept


def main() -> None:
    sys.path[:] = directory_path(sys.path)
    # runpy's import of this package already cached a zip importer per
    # archive; drop them so invalidate_caches() has none to re-read
    sys.path_importer_cache.clear()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
