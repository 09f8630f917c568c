"""The catalog's per-session table handle, its byte-size parser and its
local-filesystem check."""

from __future__ import annotations

import os
import uuid

import pytest

from active_query_optimizer_spark import catalog as C

from .conftest import SF_SMALL


@pytest.mark.parametrize("value,expected", [
    ("134217728", 134217728),
    ("134217728b", 134217728),
    ("4m", 4 << 20),
    ("4MB", 4 << 20),
    (" 512k ", 512 << 10),
    ("1.5g", 3 << 29),
    ("1t", 1 << 40),
    ("2tb", 2 << 40),
    ("1p", 1 << 50),
    ("3PB", 3 << 50),
])
def test_parse_bytes_accepts_spark_units(value, expected):
    assert C._parse_bytes(value, -1) == expected


@pytest.mark.parametrize("value", ["", "m", "12x", "4bb", "-1m", "1 m"])
def test_parse_bytes_falls_back_on_garbage(value):
    assert C._parse_bytes(value, 7) == 7


@pytest.mark.parametrize("sf_dir", [
    "s3a://bucket/sf0.1", "hdfs://nn:8020/data/sf0.1", "hdfs:/data",
    "file:///tmp/sf0.1",
])
def test_uri_sf_dir_raises_naming_local_assumption(sf_dir):
    # every catalog entry point reaches the one check before any Spark call
    for call in (lambda: C.load_tables(None, sf_dir),
                 lambda: C.load_table(None, sf_dir, "orders"),
                 lambda: C.load_for_compute(None, sf_dir, "documents",
                                            "doc_id")):
        with pytest.raises(ValueError, match="local filesystem"):
            call()


def test_local_sf_dir_paths_are_absolute():
    rel = os.path.relpath(SF_SMALL)
    assert C._table_path(rel, "orders") == os.path.join(
        os.path.abspath(SF_SMALL), "orders.parquet")


def _jobs_started(spark, fn):
    sc = spark.sparkContext
    group = f"catalog-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "catalog handle test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write_region(spark, sf_dir, keys):
    rows = [(k, f"r{k}") for k in keys]
    (spark.createDataFrame(rows, "r_regionkey long, r_name string")
     .coalesce(1).write.mode("overwrite")
     .parquet(os.path.join(sf_dir, "region.parquet")))


def test_second_load_is_the_same_handle_and_starts_no_job(spark, tmp_path):
    _write_region(spark, str(tmp_path), [0, 1, 2])
    first, miss_jobs = _jobs_started(
        spark, lambda: C.load_table(spark, str(tmp_path), "region"))
    second, hit_jobs = _jobs_started(
        spark, lambda: C.load_table(spark, str(tmp_path), "region"))
    assert miss_jobs >= 1  # the footer read the handle saves
    assert second is first
    assert hit_jobs == 0


def test_rewritten_table_is_read_again(spark, tmp_path):
    _write_region(spark, str(tmp_path), [0, 1, 2])
    old = C.load_table(spark, str(tmp_path), "region")
    assert old.count() == 3
    _write_region(spark, str(tmp_path), [5, 6])
    new = C.load_table(spark, str(tmp_path), "region")
    assert new is not old
    assert sorted(r.r_regionkey for r in new.collect()) == [5, 6]


def test_new_session_gets_its_own_handle(spark):
    other = spark.newSession()
    mine = C.load_table(spark, SF_SMALL, "nation")
    theirs = C.load_table(other, SF_SMALL, "nation")
    assert theirs is not mine
    assert theirs.sparkSession is other
    assert C.load_table(other, SF_SMALL, "nation") is theirs
    assert C.load_table(spark, SF_SMALL, "nation") is mine


def test_events_hit_after_nanos_conf_unset_keeps_timestamp(spark):
    first = C.load_table(spark, SF_SMALL, "events")
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    hit = C.load_table(spark, SF_SMALL, "events")
    assert hit is first
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    assert dict(hit.dtypes)["ts"].startswith("timestamp")
    assert hit.select("ts").limit(1).collect()[0].ts is not None
