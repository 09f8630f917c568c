"""End-to-end corpus curation pipeline: the operator library composed
into the publish path a training-data platform actually runs —

    quality filters → PII screen → exact dedup → decontamination
    → split assignment → partitioned publish

Each stage is the same primitive its registry operator exposes (same
thresholds, same semantics — the operators ARE the pipeline, not a
parallel implementation), composed on doc_id so every filter is a
column/semi-join step in one lineage. Stage survivor counts are one
``count()`` action per stage; the frames a later action would otherwise
recompute (post-PII — consumed twice by the dedup self-semi-join —
post-dedup — consumed three times by decontamination — and
post-decontam) are ``persist()``ed and unpersisted before return, so
each stage's tokenize/regex/fingerprint work executes once per run at
any scale.

Scale: every stage is either map-only (flags, split hash) or the
operator's own bounded-shuffle shape (dedup groupBy on fingerprints,
decontam shingle join); the publish is the curated sink's bounded-files
write. The pipeline adds NO shuffles beyond its stages' own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_for_compute
from ..functions import texttools as tt
from ..operators.curation import DECONTAM_BENCH_MOD
from ..operators.dedup import fingerprint_survivors
from ..operators.quality import (DUP_TOKEN_MAX, SPLIT_MOD,
                                 SPLIT_MULT, TRAIN_PCT, VALID_PCT)
from ..sources.curated import write_curated

#: publish-grade decontamination: long shingles (a ~2-3 word phrase) and
#: an overlap-fraction bar — drops near-copies of eval content, not every
#: doc that shares common phrases with it
DECONTAM_DROP_SHINGLE_N = 12
DECONTAM_DROP_FRACTION = 0.5


def run_curation(spark: SparkSession, sf_dir: str, out_path: str) -> dict:
    """Run the full curation pipeline and publish to ``out_path``
    (split/lang-partitioned parquet). Returns the stage-count funnel
    ``{stage: surviving_docs}`` — the number every pipeline report
    starts with."""
    d = load_for_compute(spark, sf_dir, "documents", "doc_id")
    counts: dict[str, int] = {"ingested": d.count()}

    # --- quality: duplicate-token and top-token repetition rules (the
    # dominant cheap filter), inline as column expressions
    toks = tt.tokens(F.col("text"))
    n_toks = F.size(toks)
    n_dist = F.size(F.array_distinct(toks))
    dup_frac = F.when(n_toks > 0,
                      (n_toks - n_dist) / n_toks).otherwise(F.lit(0.0))
    d = d.withColumn("_toks", toks).withColumn("_dup", dup_frac)
    d = d.filter(F.col("_dup") <= DUP_TOKEN_MAX)
    counts["quality_repetition"] = d.count()

    # --- PII screen: drop docs with email-shaped or long-digit-run hits
    from ..operators.quality import DIGITRUN_PATTERN
    from ..operators.text import EMAIL_RE
    pii = (F.regexp_count(F.col("text"), F.lit(EMAIL_RE))
           + F.regexp_count(F.col("text"), F.lit(DIGITRUN_PATTERN)))
    d = d.filter(pii == 0)
    # persist: the dedup stage consumes this frame TWICE (fingerprint
    # build + survivor semi-join back) — without it the quality/PII
    # regex work re-executes per consumer
    d = d.drop("_toks", "_dup").persist()
    pinned = [d]
    counts["pii_clean"] = d.count()

    # --- exact dedup: one survivor per content fingerprint (the
    # operator's own survivor function — min doc_id wins, deterministic);
    # survivors semi-join back so full rows continue down the pipeline
    d = d.join(fingerprint_survivors(d).select("doc_id"), "doc_id",
               "left_semi").persist()  # consumed 3× by decontamination
    pinned.append(d)
    counts["dedup_survivors"] = d.count()

    # --- decontamination: drop the benchmark slice itself AND any doc
    # whose distinct-shingle overlap with it exceeds the fraction bar.
    # The PUBLISH decision uses long shingles + an overlap FRACTION
    # (only near-copies of eval content die), unlike the registry op's
    # short-shingle count threshold, which is a *screening* flag —
    # common phrases make absolute counts fire on most of a same-domain
    # corpus, which is report material, not a drop rule.
    bench = (d.filter(F.col("doc_id") % DECONTAM_BENCH_MOD == 0)
             .select(F.explode(tt.shingle_hashes(
                 F.col("text"), DECONTAM_DROP_SHINGLE_N)).alias("sh"))
             .distinct())
    corpus = d.filter(F.col("doc_id") % DECONTAM_BENCH_MOD != 0)
    ex = corpus.select(
        "doc_id", F.explode(F.array_distinct(tt.shingle_hashes(
            F.col("text"), DECONTAM_DROP_SHINGLE_N))).alias("sh"))
    frac = (ex.join(bench, "sh")
            .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
            .join(ex.groupBy("doc_id")
                  .agg(F.count(F.lit(1)).alias("n_tot")), "doc_id")
            .filter(F.col("n_sh")
                    >= F.col("n_tot") * DECONTAM_DROP_FRACTION))
    d = corpus.join(frac, "doc_id", "left_anti").persist()
    pinned.append(d)
    counts["decontaminated"] = d.count()

    # --- split assignment (deterministic multiplicative hash) + publish
    bucket = (F.col("doc_id") * SPLIT_MULT + 11) % SPLIT_MOD % 100
    d = d.withColumn(
        "split",
        F.when(bucket < TRAIN_PCT, "train")
        .when(bucket < TRAIN_PCT + VALID_PCT, "valid").otherwise("test"))
    write_curated(d.select("doc_id", "text", "lang", "split"), out_path)
    counts["published"] = spark.read.parquet(out_path).count()
    for f in pinned:
        f.unpersist()
    return counts
