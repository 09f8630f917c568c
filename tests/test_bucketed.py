"""The storage sinks and layout maintenance of ``sources/``: the curated
publish sink (parquet, ORC, JSONL), sorted export, compaction, day-partition
overwrite and JSONL corrupt-record quarantine. The bucketed co-located
join is covered by
``test_streaming_pipelines.py::test_bucketed_join_is_shuffle_free``."""

from __future__ import annotations

from .conftest import SF_SMALL


def test_curated_sink_round_trip_prunes_partitions(spark, tmp_path):
    """Publish step: split/lang-partitioned parquet written with bounded
    files per directory; reading with a split filter must prune at the
    PartitionFilters level (trainer never lists valid/test), and the
    round-trip content must match the input exactly."""
    from pyspark.sql import functions as F

    from active_query_optimizer_spark.operators import QUERIES
    from active_query_optimizer_spark.catalog import load_table
    from active_query_optimizer_spark.sources.curated import (
        read_curated, write_curated)

    splits = QUERIES["split_assign_hash"](spark, SF_SMALL)
    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    cur = docs.join(splits.select("doc_id", "lang", "split"), "doc_id")
    out = str(tmp_path / "curated")
    write_curated(cur, out)

    back = read_curated(spark, out)
    assert back.count() == cur.count()
    got = {r["doc_id"]: (r["split"], r["lang"]) for r in back.collect()}
    want = {r["doc_id"]: (r["split"], r["lang"]) for r in cur.collect()}
    assert got == want

    train = back.filter(F.col("split") == "train")
    plan = train._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "split" in plan.split(
        "PartitionFilters", 1)[1][:200], plan
    # every partition directory holds exactly one data file
    import glob
    for d in glob.glob(out + "/split=*/lang=*"):
        files = [f for f in glob.glob(d + "/*") if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)

    # salted fan-out: two writers per directory, still deterministic
    out2 = str(tmp_path / "curated2")
    write_curated(cur, out2, files_per_partition=2, salt_col="doc_id")
    for d in glob.glob(out2 + "/split=*/lang=*"):
        files = [f for f in glob.glob(d + "/*") if f.endswith(".parquet")]
        assert 1 <= len(files) <= 2, (d, files)
    assert read_curated(spark, out2).count() == cur.count()


def test_curated_sink_orc_and_jsonl_round_trip(spark, tmp_path):
    """The publish sink must speak the other two built-in interchange
    formats: ORC keeps the partition-pruning contract parquet has; JSONL
    round-trips exactly when the write-side schema is passed back (JSON
    cannot carry types)."""
    from pyspark.sql import functions as F

    from active_query_optimizer_spark.operators import QUERIES
    from active_query_optimizer_spark.catalog import load_table
    from active_query_optimizer_spark.sources.curated import (
        read_curated, write_curated)

    splits = QUERIES["split_assign_hash"](spark, SF_SMALL)
    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    cur = docs.join(splits.select("doc_id", "lang", "split"), "doc_id")
    want = {r["doc_id"]: (r["split"], r["lang"], r["text"])
            for r in cur.collect()}

    # ORC: content + partition pruning
    out_orc = str(tmp_path / "cur_orc")
    write_curated(cur, out_orc, format="orc")
    back = read_curated(spark, out_orc, format="orc")
    got = {r["doc_id"]: (r["split"], r["lang"], r["text"])
           for r in back.collect()}
    assert got == want
    plan = (back.filter(F.col("split") == "train")
            ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters" in plan and "split" in plan.split(
        "PartitionFilters", 1)[1][:200], plan

    # JSONL: exact round-trip under the explicit write-side schema
    out_js = str(tmp_path / "cur_jsonl")
    write_curated(cur, out_js, format="json")
    back_js = read_curated(spark, out_js, format="json",
                           schema=read_curated(spark, out_orc,
                                               format="orc").schema)
    got_js = {r["doc_id"]: (r["split"], r["lang"], r["text"])
              for r in back_js.collect()}
    assert got_js == want
    assert dict(back_js.dtypes) == dict(cur.select(
        "doc_id", "text", "lang", "split").dtypes)

    # unsupported format fails loudly, not silently
    import pytest
    with pytest.raises(ValueError):
        write_curated(cur, str(tmp_path / "x"), format="avro")


def test_sorted_export_is_globally_ordered(spark, tmp_path):
    """write_sorted: lexicographic file order must equal global key order
    (every key in file i precedes every key in file i+1; rows inside each
    file sorted), and the plan must range-partition, not single-task
    sort."""
    import glob

    from active_query_optimizer_spark.catalog import load_table
    from active_query_optimizer_spark.sources.maintenance import write_sorted

    o = load_table(spark, SF_SMALL, "orders")
    out = str(tmp_path / "sorted")
    write_sorted(o, out, ["o_totalprice", "o_orderkey"], num_files=4)

    files = sorted(glob.glob(out + "/part-*.parquet"))
    assert len(files) == 4
    prev_max = None
    total = 0
    for f in files:
        pdf = spark.read.parquet(f).toPandas()
        if not len(pdf):
            continue
        total += len(pdf)
        keys = list(zip(pdf["o_totalprice"], pdf["o_orderkey"]))
        assert keys == sorted(keys), f"{f} not internally sorted"
        if prev_max is not None:
            assert keys[0] >= prev_max, "cross-file order violated"
        prev_max = keys[-1]
    assert total == o.count()


def test_compact_dir_reduces_file_count(spark, tmp_path):
    """compact_dir: a fragmented directory (many small files) compacts to
    the byte-target count without losing or duplicating rows, via a
    shuffle-free coalesce."""
    from active_query_optimizer_spark.catalog import load_table
    from active_query_optimizer_spark.sources.maintenance import compact_dir

    o = load_table(spark, SF_SMALL, "orders")
    frag = str(tmp_path / "frag")
    o.repartition(16).write.mode("overwrite").parquet(frag)

    out = str(tmp_path / "compacted")
    n = compact_dir(spark, frag, out, target_file_bytes=10 * 1024 * 1024)
    import glob
    files = glob.glob(out + "/part-*.parquet")
    assert len(files) == n
    assert n < 16
    back = spark.read.parquet(out)
    assert back.count() == o.count()
    assert sorted(r["o_orderkey"] for r in back.collect()) == \
        sorted(r["o_orderkey"] for r in o.collect())


def test_dynamic_day_partition_overwrite(spark, tmp_path):
    """write_day_partitions must replace ONLY the day partitions present
    in the incoming frame: untouched days keep their exact files (same
    paths, same bytes), reprocessed days are replaced not duplicated."""
    import glob
    import os

    from pyspark.sql import functions as F

    from active_query_optimizer_spark.catalog import load_table
    from active_query_optimizer_spark.sources.maintenance import \
        write_day_partitions

    ev = load_table(spark, SF_SMALL, "events")
    daily = (ev.groupBy(F.to_date(F.col("ts").cast("timestamp"))
                        .alias("day"), "event_type")
             .agg(F.count(F.lit(1)).alias("cnt")))
    days = sorted(r["day"] for r in daily.select("day").distinct()
                  .collect())[:3]
    base = daily.filter(F.col("day").isin(days))
    out = str(tmp_path / "daily")
    write_day_partitions(base, out)

    def snapshot(day):
        return {p: os.path.getsize(p)
                for p in glob.glob(f"{out}/day={day}/*.parquet")}

    untouched_before = snapshot(days[0])
    # reprocess ONLY day[1] with changed content (doubled counts)
    redo = (base.filter(F.col("day") == days[1])
            .withColumn("cnt", F.col("cnt") * 2))
    write_day_partitions(redo, out)

    assert snapshot(days[0]) == untouched_before, "untouched day rewritten"
    back = spark.read.parquet(out)
    got = {(r["day"], r["event_type"]): r["cnt"] for r in back.collect()}
    want = {(r["day"], r["event_type"]):
            r["cnt"] * (2 if r["day"] == days[1] else 1)
            for r in base.collect()}
    assert got == want, "overwrite duplicated or lost rows"
