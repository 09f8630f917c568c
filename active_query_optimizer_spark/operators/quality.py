"""Data-quality / corpus-curation operators: Gopher-style repetition
rules, PII flagging, deterministic split assignment, sequence-length
histograms, TF-IDF top terms, and embedding-norm histograms.

These are the filters a large-scale training-data pipeline runs between
ingestion and tokenization (repetition rules are the cheap dominant
filter in published pipelines — Gopher §A1.1, C4's heuristics). All pure
Column expressions or explode+aggregate shapes (JVM-side, map-side
combinable), each with an exact dual-rendered DuckDB oracle; doubles are
single divisions of exact integers or bit-identical per-row folds, so
value-hashes match across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_for_compute
from ..functions import texttools as tt
from ..functions import vector as vec
from .registry import register
from .text import EMAIL_RE

#: repetition-rule thresholds (Gopher-style, tuned to flag a minority of
#: the synthetic corpus — the *rule shapes* are what matters)
DUP_TOKEN_MAX = 0.55
TOP_TOKEN_MAX = 0.10
DUP_BIGRAM_MAX = 0.35

DIGITRUN_PATTERN = r"[0-9]{7,}"

#: deterministic split parameters (multiplicative hash, engine-portable
#: integer arithmetic — same family as curation.SAMPLE_MULT)
SPLIT_MULT = 48271
SPLIT_MOD = 65537
TRAIN_PCT, VALID_PCT = 80, 10

SEQLEN_BIN = 32


@register(
    "quality_repetition_rules",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {tt.tokens_sql('text')} AS s FROM documents
    ),
    arr AS (
      SELECT doc_id,
             len(s) AS n_tok,
             len(list_distinct(s)) AS n_distinct,
             CASE WHEN len(s) >= 2 THEN
               [s[i] || ' ' || s[i + 1] for i in range(1, len(s))]
             ELSE []::VARCHAR[] END AS bg
      FROM toks
    ),
    top AS (
      SELECT doc_id, MAX(c) AS top_cnt FROM (
        SELECT doc_id, tok, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(s) AS tok FROM toks)
        GROUP BY doc_id, tok
      ) GROUP BY doc_id
    )
    SELECT a.doc_id,
           CAST(a.n_tok - a.n_distinct AS DOUBLE) / a.n_tok AS dup_token_frac,
           CAST(t.top_cnt AS DOUBLE) / a.n_tok AS top_token_frac,
           CASE WHEN a.n_tok >= 2 THEN
             CAST(len(a.bg) - len(list_distinct(a.bg)) AS DOUBLE) / len(a.bg)
           ELSE 0.0 END AS dup_bigram_frac,
           (CAST(a.n_tok - a.n_distinct AS DOUBLE) / a.n_tok
                <= {DUP_TOKEN_MAX}
            AND CAST(t.top_cnt AS DOUBLE) / a.n_tok <= {TOP_TOKEN_MAX}
            AND (CASE WHEN a.n_tok >= 2 THEN
                   CAST(len(a.bg) - len(list_distinct(a.bg)) AS DOUBLE)
                       / len(a.bg)
                 ELSE 0.0 END) <= {DUP_BIGRAM_MAX}) AS passes
    FROM arr a JOIN top t USING (doc_id)
    """,
)
def quality_repetition_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: duplicate-token fraction, most-
    frequent-token share, duplicate-bigram fraction, and the combined
    pass/fail flag.

    MAP-ONLY (round-13 optimization): every per-doc statistic — including
    the most-frequent-token count — is an array expression over the one
    token array, so the whole query is a single projection with NO
    shuffle, NO join, and ONE scan. The previous shape ran the top-token
    count as explode → (doc_id, token) aggregate → (doc_id) aggregate →
    join back onto a second scan of the corpus: 2 scans, 2 wide
    exchanges and a join whose only job was to reunite per-doc columns
    that were never on different rows to begin with. The top count is
    now a run-length scan over the SORTED token array (equal tokens are
    adjacent after ``array_sort``, so the longest run IS the max
    multiplicity) — O(n log n) per row. (``F.aggregate``/``array_sort``
    lambda forms are CodegenFallback-interpreted, not whole-stage
    codegen — but the work is linear per token, vs the old shape's two
    corpus-wide exchanges; round-13 ADVICE docstring correction.)
    Docs with zero tokens are filtered exactly as the old inner join
    dropped them (explode of an empty array emits no rows).

    The token array is bound once in its own projection; it is non-cheap
    and referenced many times, so Catalyst's CollapseProject keeps the
    binding instead of re-inlining ``split()`` per use."""
    d = load_for_compute(spark, sf_dir, "documents", "doc_id")
    bound = d.select("doc_id", tt.tokens(F.col("text")).alias("toks"))
    toks = F.col("toks")
    n_tok = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    # longest run in the sorted array == count of the most frequent token
    run2 = lambda acc, x: (  # noqa: E731 - local fold step
        F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)))
    top_cnt = F.aggregate(
        F.array_sort(toks),
        F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                 F.lit(0).alias("best")),
        lambda acc, x: F.struct(
            x.alias("prev"), run2(acc, x).alias("run"),
            F.greatest(acc["best"], run2(acc, x)).alias("best")),
        lambda acc: acc["best"])
    bg = F.zip_with(
        F.slice(toks, 1, n_tok - 1),
        F.slice(toks, 2, n_tok - 1),
        lambda x, y: F.concat(x, F.lit(" "), y))
    dup_bigram = F.when(
        n_tok >= 2,
        (F.size(bg) - F.size(F.array_distinct(bg))).cast("double") / F.size(bg)
    ).otherwise(F.lit(0.0))
    stats = (bound
             .where(n_tok >= 1)  # empty-token docs: the old explode→inner
             # join emitted no row for them; keep that contract
             .select(
                 "doc_id",
                 ((n_tok - n_distinct).cast("double") / n_tok)
                 .alias("dup_token_frac"),
                 (top_cnt.cast("double") / n_tok).alias("top_token_frac"),
                 dup_bigram.alias("dup_bigram_frac")))
    return stats.select(
        "doc_id",
        "dup_token_frac",
        "top_token_frac",
        "dup_bigram_frac",
        ((F.col("dup_token_frac") <= DUP_TOKEN_MAX)
         & (F.col("top_token_frac") <= TOP_TOKEN_MAX)
         & (F.col("dup_bigram_frac") <= DUP_BIGRAM_MAX)).alias("passes"),
    )


@register(
    "pii_flag_docs",
    oracle=f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(text, '{DIGITRUN_PATTERN}'))
               AS n_digit_runs,
           (len(regexp_extract_all(text, '{EMAIL_RE}')) > 0
            OR len(regexp_extract_all(text, '{DIGITRUN_PATTERN}')) > 0)
               AS flagged
    FROM documents
    """,
)
def pii_flag_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII pre-screen: count email-shaped and long-digit-run matches per
    document and flag any hit — the cheap regex pass that routes documents
    to a real PII pipeline. Patterns are kept in the common RE2/Java
    regex subset so both engines match identically."""
    d = load_for_compute(spark, sf_dir, "documents", "doc_id")
    n_email = F.size(F.regexp_extract_all(
        F.col("text"), F.lit(EMAIL_RE), F.lit(0)))
    n_digit = F.size(F.regexp_extract_all(
        F.col("text"), F.lit(DIGITRUN_PATTERN), F.lit(0)))
    return d.select(
        "doc_id",
        n_email.alias("n_emails"),
        n_digit.alias("n_digit_runs"),
        ((n_email > 0) | (n_digit > 0)).alias("flagged"),
    )


@register(
    "split_assign_hash",
    oracle=f"""
    SELECT doc_id, lang,
           (doc_id * {SPLIT_MULT} + 11) % {SPLIT_MOD} % 100 AS bucket,
           CASE WHEN (doc_id * {SPLIT_MULT} + 11) % {SPLIT_MOD} % 100
                     < {TRAIN_PCT} THEN 'train'
                WHEN (doc_id * {SPLIT_MULT} + 11) % {SPLIT_MOD} % 100
                     < {TRAIN_PCT + VALID_PCT} THEN 'valid'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def split_assign_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test assignment from a multiplicative
    hash of the stable doc_id — reproducible across engines and runs
    (unlike ``rand()``-based splits), map-only, and safe to recompute
    anywhere in the pipeline instead of materializing a split column.
    Engine-portable integer arithmetic (no overflow: id·48271 ≪ 2^63)."""
    d = load_for_compute(spark, sf_dir, "documents", "doc_id")
    bucket = (F.col("doc_id") * SPLIT_MULT + 11) % SPLIT_MOD % 100
    return d.select(
        "doc_id", "lang",
        bucket.alias("bucket"),
        F.when(bucket < TRAIN_PCT, "train")
        .when(bucket < TRAIN_PCT + VALID_PCT, "valid")
        .otherwise("test").alias("split"),
    )


@register(
    "seq_length_histogram",
    oracle=f"""
    SELECT least(len({tt.tokens_sql('text')}) // {SEQLEN_BIN}, 31) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(len({tt.tokens_sql('text')})) AS BIGINT) AS min_tokens,
           CAST(MAX(len({tt.tokens_sql('text')})) AS BIGINT) AS max_tokens
    FROM documents
    GROUP BY 1
    """,
)
def seq_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram (32-token bins, clamped top bin) — the
    shape you check before choosing packing budgets and truncation
    lengths. Map-side combinable single aggregation."""
    d = load_for_compute(spark, sf_dir, "documents", "doc_id")
    n_tok = F.size(tt.tokens(F.col("text")))
    return (d.select(F.least(n_tok / SEQLEN_BIN, F.lit(31))
                     .cast("bigint").alias("bin"),
                     n_tok.alias("n_tok"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("n_tok").cast("bigint").alias("min_tokens"),
                 F.max("n_tok").cast("bigint").alias("max_tokens")))


@register(
    "tfidf_top_terms_per_source",
    oracle="""
    WITH ex AS (
      SELECT source, unnest(list_filter(string_split_regex(text, '\\s+'),
                                        x -> x <> '')) AS term
      FROM documents
    ),
    tf AS (
      SELECT source, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM ex GROUP BY source, term
    ),
    df AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df
      FROM (SELECT DISTINCT source, term FROM ex) GROUP BY term
    ),
    scored AS (
      SELECT t.source, t.term, t.tf, d.df,
             CAST(t.tf AS DOUBLE) / d.df AS score,
             ROW_NUMBER() OVER (PARTITION BY t.source
                                ORDER BY CAST(t.tf AS DOUBLE) / d.df DESC,
                                         t.tf DESC, t.term ASC) AS rk
      FROM tf t JOIN df d USING (term)
    )
    SELECT source, term, tf, df, score
    FROM scored WHERE rk <= 5
    """,
)
def tfidf_top_terms_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Characteristic terms per source: tf over the source, down-weighted
    by how many sources contain the term (rational tf/df score — exact
    integer division keeps the hash engine-portable where a float ln()
    idf would risk 1-ulp skew). Two shuffles — (source, term) counts with
    map-side combine, then the per-source top-5 window — plus a term-keyed
    join for df; the window input is already reduced to distinct terms."""
    d = load_for_compute(spark, sf_dir, "documents", "source")
    ex = d.select("source", F.explode(tt.tokens(F.col("text"))).alias("term"))
    tf = ex.groupBy("source", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = (ex.select("source", "term").distinct()
          .groupBy("term").agg(F.count(F.lit(1)).alias("df")))
    score = F.col("tf").cast("double") / F.col("df")
    w = Window.partitionBy("source").orderBy(
        score.desc(), F.col("tf").desc(), F.col("term").asc())
    return (tf.join(df, "term")
            .withColumn("score", score)
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 5)
            .select("source", "term", "tf", "df", "score"))


@register(
    "embedding_norm_histogram",
    oracle=f"""
    SELECT label,
           CAST(floor({vec.norm2_sql('embedding')} * 8) AS BIGINT)
               AS norm_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_vecs
    FROM embeddings
    GROUP BY 1, 2
    """,
)
def embedding_norm_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-norm histogram per label over the embedding corpus — the sanity
    check before cosine-based dedup/ANN (un-normalized vectors silently
    break inner-product shortcuts). Per-row norms are strict left-to-right
    double folds (bit-identical across engines, like ``vec.cosine``), so
    bucketing them is hash-safe; the aggregation is one map-side-combined
    groupBy."""
    e = load_for_compute(spark, sf_dir, "embeddings", "vec_id")
    bucket = F.floor(vec.norm2(F.col("embedding")) * 8).cast("bigint")
    return (e.select("label", bucket.alias("norm_bucket"))
            .groupBy("label", "norm_bucket")
            .agg(F.count(F.lit(1)).alias("n_vecs")))


@register(
    "quality_token_freq_score",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({tt.tokens_sql('text')}) AS token
      FROM documents
    ), tf AS (
      SELECT token, COUNT(*) AS freq FROM tok GROUP BY token
    )
    SELECT t.doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(tf.freq) AS BIGINT) AS sum_token_freq,
           MIN(tf.freq) AS min_token_freq,
           CAST(CAST(SUM(tf.freq) AS BIGINT) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS avg_token_freq
    FROM tok t JOIN tf USING (token)
    GROUP BY t.doc_id
    """,
)
def quality_token_freq_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency quality score: every document scored by how common
    its tokens are across the whole corpus (docs full of rare garbage
    tokens score low on ``avg_token_freq`` / ``min_token_freq`` — the
    cheap distributional cousin of LM-perplexity filtering).

    Two-pass shape: explode tokens once, aggregate term frequencies
    (map-side combinable; the token key is skewed toward stopwords, which
    partial aggregation absorbs before the shuffle), then join the
    exploded stream back to the frequency table on ``token`` and re-agg by
    ``doc_id``. All counts are BIGINT; the only double is one final
    division of exact integers, so the hash is deterministic."""
    d = load_for_compute(spark, sf_dir, "documents", "doc_id")
    tok = d.select("doc_id", F.explode(tt.tokens(F.col("text"))).alias("token"))
    tf = tok.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    return (tok.join(tf, "token")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.sum("freq").alias("sum_token_freq"),
                 F.min("freq").alias("min_token_freq"),
                 (F.sum("freq").cast("double") /
                  F.count(F.lit(1)).cast("double")).alias("avg_token_freq")))


@register(
    "quality_length_percent_rank",
    oracle="""
    SELECT doc_id, lang, n_chars,
           percent_rank() OVER (PARTITION BY lang
                                ORDER BY n_chars, doc_id) AS pr
    FROM documents
    """,
)
def quality_length_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-rank normalization of a per-document signal within its
    language: ``percent_rank()`` of ``n_chars`` — the score-calibration
    step quality filters need before thresholding across languages (a
    fixed char cutoff means different things in different scripts; a
    within-language percentile is comparable).

    Determinism: ``percent_rank = (rank-1)/(n-1)`` — both factors are
    integers, so the single double division is bit-identical across
    engines PROVIDED rank itself is deterministic; the unique ``doc_id``
    tie-break in the window order guarantees it (ordering by the raw
    score alone would make tied ranks engine-dependent).

    Scale: one shuffle to (lang)-partition plus a per-partition sort.
    Language is a bounded-cardinality, skewed key (one partition per
    language caps parallelism at n_langs); at 100 TB the same
    normalization runs on the equi-depth sketch boundaries instead
    (``stats_price_deciles`` is the exact anchor for that path) so no
    single-language global sort is ever materialized."""
    d = load_for_compute(spark, sf_dir, "documents", "doc_id")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    return d.select("doc_id", "lang", "n_chars",
                    F.percent_rank().over(w).alias("pr"))
