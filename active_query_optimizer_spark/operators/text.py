"""Text-analysis operators over the ``documents`` table: token statistics,
BPE-ish token counting, quality scoring, language ID, fingerprinting.

All pure Column expressions (JVM-side) with exact dual-rendered oracles —
ratios are single divisions of integer counts, so doubles are bit-identical
across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_for_compute, load_table
from ..functions import texttools as tt
from .registry import register

BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
PUNCT_PATTERN = r"[^A-Za-z0-9\s]"

_STOP_IN = ", ".join(f"'{w}'" for w in tt.STOPWORDS)


@register(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           len({tt.tokens_sql('text')}) AS n_tokens,
           len(text) AS n_chars_measured,
           CAST(len(text) AS DOUBLE) / len({tt.tokens_sql('text')}) AS chars_per_token
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting + per-doc length stats."""
    d = load_for_compute(spark, sf_dir, "documents", "doc_id")
    toks = tt.tokens(F.col("text"))
    n_tok = F.size(toks)
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.length("text").alias("n_chars_measured"),
        (F.length("text").cast("double") / n_tok).alias("chars_per_token"),
    )


@register(
    "text_bpe_token_count",
    oracle=f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{BPE_PATTERN}')) AS n_bpe_tokens
    FROM documents
    """,
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: letter runs, digit runs, and single
    punctuation marks as separate tokens (the usual pre-tokenizer shape)."""
    d = load_for_compute(spark, sf_dir, "documents", "doc_id")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), F.lit(0)))
        .alias("n_bpe_tokens"),
    )


@register(
    "text_quality_scores",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             len({tt.tokens_sql('text')}) AS n_tok,
             len(list_filter({tt.tokens_sql('text')}, x -> x IN ({_STOP_IN}))) AS n_stop,
             len(regexp_extract_all(text, '{PUNCT_PATTERN}')) AS n_punct,
             len(text) AS n_chars
      FROM documents
    )
    SELECT doc_id,
           CAST(n_stop AS DOUBLE) / n_tok AS stop_ratio,
           CAST(n_punct AS DOUBLE) / n_chars AS punct_ratio,
           round(CAST(n_stop AS DOUBLE) / n_tok * 0.5
                 + (1.0 - CAST(n_punct AS DOUBLE) / n_chars) * 0.3
                 + least(CAST(n_tok AS DOUBLE) / 100.0, 1.0) * 0.2, 6) AS quality
    FROM t
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: stopword ratio (fluency proxy),
    punctuation density, and a length prior, combined into one score —
    the standard cheap pre-filter before expensive model-based scoring."""
    d = load_for_compute(spark, sf_dir, "documents", "doc_id")
    toks = tt.tokens(F.col("text"))
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*tt.STOPWORDS)))
    n_punct = F.size(F.regexp_extract_all(F.col("text"), F.lit(PUNCT_PATTERN), F.lit(0)))
    n_chars = F.length("text")
    stop_ratio = n_stop.cast("double") / n_tok
    punct_ratio = n_punct.cast("double") / n_chars
    quality = F.round(
        stop_ratio * 0.5 + (F.lit(1.0) - punct_ratio) * 0.3
        + F.least(n_tok.cast("double") / 100.0, F.lit(1.0)) * 0.2, 6)
    return d.select(
        "doc_id",
        stop_ratio.alias("stop_ratio"),
        punct_ratio.alias("punct_ratio"),
        quality.alias("quality"),
    )


def _langid_sql() -> str:
    toks = tt.tokens_sql("text")
    scores = {
        lang: f"len(list_filter({toks}, x -> x IN ({', '.join(repr(w) for w in words)})))"
        for lang, words in sorted(tt.LANG_MARKERS.items())
    }
    best = "greatest(" + ", ".join(scores.values()) + ")"
    case = "CASE WHEN " + best + " = 0 THEN 'und' "
    for lang in sorted(scores):
        case += f"WHEN {scores[lang]} = {best} THEN '{lang}' "
    case += "END"
    return f"SELECT doc_id, {case} AS lang_guess FROM documents"


@register("text_langid", oracle=_langid_sql())
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID: count hits against per-language stopword
    marker sets, argmax with deterministic alphabetical tie-break, 'und'
    when nothing matches. (An n-gram-profile upgrade slots in behind the
    same contract.)"""
    d = load_for_compute(spark, sf_dir, "documents", "doc_id")
    toks = tt.tokens(F.col("text"))

    def hits(words: tuple[str, ...]):
        return lambda x: x.isin(*words)

    scores = {
        lang: F.size(F.filter(toks, hits(words)))
        for lang, words in sorted(tt.LANG_MARKERS.items())
    }
    best = F.greatest(*scores.values())
    guess = F.when(best == 0, "und")
    for lang in sorted(scores):
        guess = guess.when(scores[lang] == best, lang)
    return d.select("doc_id", guess.alias("lang_guess"))


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id, {tt.fingerprint_sql('text')} AS fp FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document content fingerprint (position-weighted checksum)."""
    d = load_for_compute(spark, sf_dir, "documents", "doc_id")
    return d.select("doc_id", tt.fingerprint(F.col("text")).alias("fp"))


@register(
    "text_lang_summary",
    oracle=f"""
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(len({tt.tokens_sql('text')})) AS BIGINT) AS total_tokens,
           CAST(SUM(len(text)) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM documents GROUP BY lang, source
    """,
)
def text_lang_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rollup by (lang, source) — integer sums + one final division
    keep the average bit-deterministic."""
    d = load_for_compute(spark, sf_dir, "documents", "doc_id")
    n_tok = F.size(tt.tokens(F.col("text")))
    return (
        d.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(n_tok).alias("total_tokens"),
            (F.sum(F.length("text")).cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        )
    )


EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
URL_RE = "https?://[^ \\t]+"


@register(
    "text_pattern_flags",
    oracle=f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(text, '{URL_RE}')) AS n_urls,
           (len(regexp_extract_all(text, '{EMAIL_RE}')) > 0
            OR len(regexp_extract_all(text, '{URL_RE}')) > 0) AS flagged
    FROM documents
    """,
)
def text_pattern_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-ish pattern screening (email/URL mention counts + flag) — the
    filter stage every training-data pipeline runs before ingestion.
    JVM-side regex (patterns chosen to mean the same thing in Java and
    RE2-style engines); at 100 TB this is a pure map with the flag pushed
    into the downstream scan filter."""
    d = load_for_compute(spark, sf_dir, "documents", "doc_id")
    n_emails = F.size(F.regexp_extract_all(F.col("text"), F.lit(EMAIL_RE),
                                           F.lit(0)))
    n_urls = F.size(F.regexp_extract_all(F.col("text"), F.lit(URL_RE),
                                         F.lit(0)))
    return d.select(
        "doc_id", n_emails.alias("n_emails"), n_urls.alias("n_urls"),
        ((n_emails > 0) | (n_urls > 0)).alias("flagged"))


@register(
    "text_top_terms",
    oracle=f"""
    SELECT tok AS term, COUNT(*) AS freq
    FROM (SELECT unnest({tt.tokens_sql('lower(text)')}) AS tok FROM documents)
    WHERE tok NOT IN {tuple(tt.STOPWORDS)!r} AND len(tok) >= 2
    GROUP BY tok ORDER BY freq DESC, term LIMIT 20
    """,
)
def text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 terms after stopword/short-token removal:
    explode → map-side-combined count → TakeOrderedAndProject (only the
    global top-k crosses the final exchange). Term tie-break pins the
    LIMIT."""
    d = load_for_compute(spark, sf_dir, "documents", "doc_id")
    toks = tt.tokens(F.lower(F.col("text")))
    return (
        d.select(F.explode(toks).alias("term"))
        .where(~F.col("term").isin(*tt.STOPWORDS)
               & (F.length("term") >= 2))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "term")
        .limit(20)
    )


@register(
    "text_edit_distance_pairs",
    oracle="""
    SELECT doc_id, prev_doc_id, lang,
           levenshtein(pfx, prev_pfx) AS edit_dist
    FROM (
      SELECT doc_id, lang, substr(text, 1, 40) AS pfx,
             LAG(doc_id) OVER w AS prev_doc_id,
             LAG(substr(text, 1, 40)) OVER w AS prev_pfx
      FROM documents
      WINDOW w AS (PARTITION BY lang ORDER BY doc_id)
    ) WHERE prev_doc_id IS NOT NULL
    """,
)
def text_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit distance between neighbouring documents: levenshtein over the
    40-char prefixes of id-adjacent docs within a language — the
    string-similarity primitive the fuzzy-dedup family lacks (MinHash/
    SimHash are set/bit similarities; Levenshtein is the *sequence*
    one, the verify step of OCR/scrape near-dup pipelines). Spark and
    DuckDB implement the same plain Levenshtein (pinned by a semantics
    test), and the pairing is a lag window — exactly ONE candidate per
    row, so the quadratic all-pairs trap never appears.

    Scale: one shuffle to (lang, doc_id)-sort; levenshtein on bounded
    40-char prefixes is O(1600) per row JVM-side. The general-corpus
    path pairs within LSH buckets instead of id-adjacency (see
    ``dedup_minhash_lsh``); this entry pins the distance function and
    the lag-pairing shape with an exact oracle."""
    d = load_for_compute(spark, sf_dir, "documents", "doc_id")
    w = Window.partitionBy("lang").orderBy("doc_id")
    pfx = F.substring("text", 1, 40)
    return (d.select("doc_id", "lang", pfx.alias("pfx"),
                     F.lag("doc_id").over(w).alias("prev_doc_id"),
                     F.lag(pfx).over(w).alias("prev_pfx"))
            .where(F.col("prev_doc_id").isNotNull())
            .select("doc_id", "prev_doc_id", "lang",
                    F.levenshtein("pfx", "prev_pfx").alias("edit_dist")))


@register(
    "text_vocab_stats",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest({tt.tokens_sql('text')}) AS token
      FROM documents
    ), tf AS (
      SELECT source, token, COUNT(*) AS freq
      FROM tok GROUP BY source, token
    )
    SELECT source,
           CAST(SUM(freq) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax
    FROM tf GROUP BY source
    """,
)
def text_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth harvest per source (the Heaps'-law profile):
    total token count, distinct vocabulary size, and hapax legomena
    (frequency-1 tokens). The vocabulary/hapax trajectory is the cheap
    corpus-health signal — OCR noise and boilerplate both bend it
    (noise inflates hapax share; template spam crushes distinct
    growth) — and n_distinct is the tokenizer-vocabulary sizing input.

    Scale: explode once; the (source, token) aggregate min-combines
    map-side (stopword skew absorbed before the shuffle — same shape as
    ``quality_token_freq_score``'s frequency pass); the second
    aggregate's key is just |sources|. Nothing quadratic; counts only,
    all BIGINT."""
    d = load_for_compute(spark, sf_dir, "documents", "doc_id")
    tok = d.select("source",
                   F.explode(tt.tokens(F.col("text"))).alias("token"))
    tf = (tok.groupBy("source", "token")
          .agg(F.count(F.lit(1)).alias("freq")))
    return (tf.groupBy("source")
            .agg(F.sum("freq").cast("bigint").alias("n_tokens"),
                 F.count(F.lit(1)).alias("n_distinct"),
                 F.sum(F.when(F.col("freq") == 1, 1).otherwise(0))
                  .cast("bigint").alias("n_hapax")))
