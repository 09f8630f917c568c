"""The curated publish sink of ``sources/``: split/lang-partitioned parquet
with one file per partition directory, read back with partition pruning.
The bucketed co-located join is covered by
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
    from active_query_optimizer_spark.sources.curated import write_curated

    splits = QUERIES["split_assign_hash"](spark, SF_SMALL)
    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    cur = docs.join(splits.select("doc_id", "lang", "split"), "doc_id")
    out = str(tmp_path / "curated")
    write_curated(cur, out)

    back = spark.read.parquet(out)
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

