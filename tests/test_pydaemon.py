"""Python workers start from ``pydaemon``: pyspark and py4j import from
directories, no archive stays on the worker path, and the package imports
from any working directory."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile

import pytest

from active_query_optimizer_spark.pydaemon import directory_path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _package(root, name: str, version: str) -> None:
    pkg = root / name
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "version.py").write_text(f"__version__: str = '{version}'\n")


def _archive(path, members: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in members.items():
            zf.writestr(name, text)
    return str(path)


@pytest.fixture
def spark_like_path(tmp_path, monkeypatch):
    """A worker path as Spark builds it: the working directory, then the
    pyspark and py4j archives and a jar, then site-packages."""
    # the helper resolves through the importer cache; keep tmp entries out
    monkeypatch.setattr(sys, "path_importer_cache", {})
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    archives = [
        _archive(tmp_path / "pyspark.zip",
                 {"pyspark/__init__.py": "",
                  "pyspark/version.py": "__version__: str = '4.1.2'\n"}),
        _archive(tmp_path / "py4j-0.10.9.9-src.zip",
                 {"py4j/__init__.py": "",
                  "py4j/version.py": "__version__ = '0.10.9.9'\n"}),
        _archive(tmp_path / "spark-core.jar", {"META-INF/MANIFEST.MF": ""}),
    ]
    return tmp_path, [str(cwd), *archives]


def test_directory_path_drops_archives_when_directories_match(spark_like_path):
    tmp_path, head = spark_like_path
    site = tmp_path / "site"
    _package(site, "pyspark", "4.1.2")
    _package(site, "py4j", "0.10.9.9")
    assert directory_path([*head, str(site)]) == [head[0], str(site)]


@pytest.mark.parametrize("site_pyspark", ["absent", "4.0.0", "zipped-egg"])
def test_directory_path_unchanged_unless_directories_match(spark_like_path,
                                                           site_pyspark):
    """pyspark only in Spark's archive, installed at another version, or
    installed as a zipped egg: the path stays as Spark built it."""
    tmp_path, head = spark_like_path
    site = tmp_path / "site"
    _package(site, "py4j", "0.10.9.9")
    path = [*head, str(site)]
    if site_pyspark == "zipped-egg":
        egg = _archive(tmp_path / "pyspark-4.1.2.egg",
                       {"pyspark/__init__.py": "",
                        "pyspark/version.py": "__version__: str = '4.1.2'\n"})
        path.append(egg)
    elif site_pyspark != "absent":
        _package(site, "pyspark", site_pyspark)
    assert directory_path(path) == path


def test_workers_run_the_drivers_pyspark_without_archives(spark):
    def facts(_rows):
        import os
        import sys
        import zipimport

        import pyspark

        yield (sum(p.endswith((".zip", ".jar")) and os.path.isfile(p)
                   for p in sys.path),
               sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values()),
               pyspark.__version__)

    got = spark.sparkContext.parallelize([0], 1).mapPartitions(facts).collect()
    assert got == [(0, 0, spark.version)]


_SCORE_FROM_ELSEWHERE = textwrap.dedent("""
    import sys
    sys.path.insert(0, {repo!r})
    from active_query_optimizer_spark.model import infer, lero
    from active_query_optimizer_spark.plans import featurize
    from active_query_optimizer_spark.session import get_spark
    from tests.test_plans_model import _synthetic_bundles

    bundles = _synthetic_bundles(n_queries=2, seed=11)
    model = lero.train_pairwise_from_bundles(bundles, epochs=1, seed=11)
    spark = get_spark("aqo-cwd", cpus=1)
    rows = [(featurize.to_pg_json(plan, t),)
            for _, cands in bundles for plan, t in cands]
    df = spark.createDataFrame(rows, "plan_json string")
    scores = [r.score for r in infer.score_plans(df, model).collect()]
    assert len(scores) == len(rows) > 0 and None not in scores
    spark.stop()
    print("scored")
""")


def test_score_plans_from_another_working_directory(tmp_path):
    """Workers import the package through the session's executor path, not
    through the driver's working directory or PYTHONPATH."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _SCORE_FROM_ELSEWHERE.format(repo=REPO)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.split()[-1] == "scored"


def test_session_skips_dataframe_call_site_capture(spark, monkeypatch):
    """``get_spark`` turns PySpark's DataFrame debugging off, so building a
    query never records a Python call site (4-5 py4j round trips each)."""
    import pyspark.errors.utils as errors_utils
    from pyspark.sql import functions as F

    conf = "spark.python.sql.dataFrameDebugging.enabled"
    assert spark.conf.get(conf) == "false"
    captured = []
    real = errors_utils._capture_call_site
    monkeypatch.setattr(errors_utils, "_capture_call_site",
                        lambda depth: captured.append(depth) or real(depth))
    # pyspark caches the conf per process; make it read this session's
    monkeypatch.setattr(errors_utils, "_enable_debugging_cache", None)
    left = spark.range(4).select(F.col("id"), (F.col("id") * 2).alias("x"))
    right = spark.range(4).withColumn("y", F.col("id") + 1)
    left.join(right, "id").filter(F.col("y") > 2).select("x", "y")
    assert captured == []
