"""Corpus-level text analysis for training-data pipelines.

Everything here is pure ``pyspark.sql.functions`` (JVM-side, whole-stage
codegen, no Python in the hot path) so at 100 TB these run at scan speed
with full predicate pushdown/column pruning.

Operators: language ID (char-class heuristic), quality scoring
(length / punctuation / stopword ratios), token counting (whitespace),
document fingerprinting (normalized md5 + content-defined prefix hash),
near-dup-ready normalization.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_STOPWORDS = (
    "the,a,an,of,to,and,in,is,it,that,for,on,with,as,at,by,be,this,are,was"
).split(",")


def norm_text(col: str = "text") -> Column:
    """Whitespace-normalized lowercase text (dedup canonical form)."""
    return F.lower(F.regexp_replace(F.trim(F.col(col)), r"\s+", " "))


def word_count() -> Column:
    t = F.trim(F.col("text"))
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def add_lang_id(df: DataFrame) -> DataFrame:
    """ASCII-letter ratio heuristic: mirrors is_english / is_chinese
    (rag/nlp/__init__.py:228-257) as pure column expressions."""
    t = F.col("text")
    total = F.length(t)
    # char class kept RE2/Java-portable (oracle parity): letters, digits,
    # whitespace, common ASCII punctuation, '-' last so it is literal
    ascii_ish = F.length(F.regexp_replace(t, r"[^A-Za-z0-9\s.,;:!?()-]", ""))
    cjk = F.length(F.regexp_replace(t, r"[^一-鿿]", ""))
    return df.withColumn(
        "lang_pred",
        F.when(total == 0, F.lit("unknown"))
        .when(cjk / total > 0.2, F.lit("zh"))
        .when(ascii_ish / total > 0.8, F.lit("en"))
        .otherwise(F.lit("other")),
    )


def add_quality(df: DataFrame) -> DataFrame:
    """Length + punctuation ratio + stopword ratio -> [0,1] quality score
    (Gopher/C4-style heuristics, expressed as native columns)."""
    t = F.trim(F.col("text"))
    n_chars = F.length(t)
    n_words = word_count()
    n_punct = F.length(F.regexp_replace(t, r"[^.,;:!?。；！？，]", ""))
    words = F.split(F.lower(t), r"\s+")
    n_stop = F.size(F.filter(words, lambda w: w.isin(_STOPWORDS)))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_words > 0, n_stop / n_words).otherwise(F.lit(0.0))
    mean_word_len = F.when(n_words > 0, n_chars / n_words).otherwise(F.lit(0.0))
    score = (
        F.when((n_words >= 10) & (n_words <= 100000), F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when((punct_ratio > 0.0005) & (punct_ratio < 0.2), F.lit(0.2)).otherwise(F.lit(0.0))
        + F.when(stop_ratio > 0.05, F.lit(0.2)).otherwise(F.lit(0.0))
        + F.when((mean_word_len > 2.0) & (mean_word_len < 12.0), F.lit(0.2)).otherwise(F.lit(0.0))
    )
    return (
        df.withColumn("n_words", n_words.cast("long"))
        .withColumn("punct_ratio", F.round(punct_ratio, 6))
        .withColumn("stopword_ratio", F.round(stop_ratio, 6))
        .withColumn("quality_score", F.round(score, 2))
    )


def add_fingerprint(df: DataFrame) -> DataFrame:
    """Deterministic document fingerprint: md5 of the canonical form
    (exact-dup key) + a 64-bit xxhash (cheap join key).

    The canonical form is staged in its own projection so the
    O(len) regexp runs once per row, not once per derived column
    (docs/PLANS.md, expression materialization rule)."""
    staged = df.withColumn("_canon", norm_text("text"))
    return (
        staged.withColumn("fp_md5", F.md5(F.col("_canon")))
        .withColumn("fp_xx64", F.xxhash64(F.col("_canon")))
        .drop("_canon")
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 8,
    w: int = 8,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03):
    hash every k-gram of the canonical text, slide a window of ``w``
    consecutive hashes, keep each window's minimum — guaranteeing any
    shared substring of length >= k + w - 1 contributes at least one
    common fingerprint between two documents.

    All native expressions: the k-gram hash derives from md5 hex
    prefixes (cross-engine reproducible; a Rabin-Karp rolling hash is
    the single-node trick for incremental computation — irrelevant
    under codegen where each substring hash is one expression), the
    window minimum is ``array_min(slice(...))``.  Cost O(len * w) per
    doc inside one projection; returns distinct (id, fp) rows.
    """
    # materialize the canonical text ONCE per row: expressions used
    # inside transform() lambdas are re-evaluated per array element,
    # so an un-materialized canon would redo the regexp O(len) times
    base = df.select(F.col("doc_id").alias("id"), norm_text("text").alias("c"))
    c = F.col("c")
    length = F.length(c)
    n_grams = F.greatest(length - (k - 1), F.lit(0))
    gram_idx = F.sequence(F.lit(1), F.greatest(n_grams, F.lit(1)))
    hashes = F.transform(
        gram_idx,
        lambda i: F.conv(F.substring(F.md5(c.substr(i, F.lit(k))), 1, 15), 16, 10)
        .cast("long"),
    )
    staged = base.select("id", n_grams.alias("ng"), hashes.alias("h"))
    n_windows = F.greatest(F.col("ng") - (w - 1), F.lit(1))
    win_idx = F.sequence(F.lit(1), n_windows)
    fps = F.array_distinct(
        F.transform(win_idx, lambda j: F.array_min(F.slice(F.col("h"), j, w)))
    )
    # a doc shorter than k chars has no k-grams, hence no fingerprints
    fps = F.when(F.col("ng") >= 1, fps).otherwise(F.array().cast("array<long>"))
    return (
        staged.select("id", F.explode(fps).alias("fp"))
        .where(F.col("fp").isNotNull())
        .select(F.col("id").alias("doc_id"), "fp")
        .distinct()
    )
