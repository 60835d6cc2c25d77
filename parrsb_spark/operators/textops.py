"""Text-analysis operators for large-scale training-data pipelines.

All hot-path expressions are JVM-side built-ins (split/explode/agg);
hashes are md5-derived so the DuckDB oracle replays them exactly
(functions/hashing.py). Runs over the `documents` table
(doc_id, text, lang, source, n_chars).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from parrsb_spark.functions.hashing import MOD_P, md5_long_col
from parrsb_spark.session import local_frame

# tiny per-language stopword lists (matching the documents langs)
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "is", "in"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "de"],
    "es": ["el", "los", "las", "y", "es", "un", "en"],
}

ROLLING_BASE = 1_000_003  # polynomial base for the rolling fingerprint


def tokens_col(text=None):
    """Whitespace tokenization, empty-safe (same rule as the SQL oracle:
    trim then split on one-or-more spaces)."""
    if text is None:
        text = F.col("text")
    return F.split(F.trim(text), r"\s+")


def token_count(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens) — whitespace token counting."""
    return docs.select(
        "doc_id",
        F.when(F.trim("text") == "", 0).otherwise(F.size(tokens_col())).alias("n_tokens"),
    )


def stopword_table(spark) -> DataFrame:
    rows = [(lang, w) for lang, ws in STOPWORDS.items() for w in ws]
    return local_frame(spark, rows, "sw_lang string, word string")


def lang_id(docs: DataFrame) -> DataFrame:
    """(doc_id, pred_lang) — stopword-hit n-gram heuristic.
    argmax stopword hits per language; ties → lexicographically smallest
    language; zero hits → 'unknown'. Deterministic, oracle-replayable."""
    spark = docs.sparkSession
    toks = docs.select("doc_id", F.explode(tokens_col(F.lower(F.col("text")))).alias("word"))
    hits = (
        toks.join(F.broadcast(stopword_table(spark)), "word")
        .groupBy("doc_id", "sw_lang")
        .agg(F.count("*").alias("hits"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("sw_lang"))
    best = hits.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return docs.select("doc_id").join(best, "doc_id", "left").select(
        "doc_id", F.coalesce("sw_lang", F.lit("unknown")).alias("pred_lang")
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """(doc_id, n_chars_m, n_tokens, punct_ratio, avg_word_len, score).

    score = 0.4·min(n_tokens/50, 1) + 0.3·(1 − punct_ratio)
          + 0.3·min(avg_word_len/8, 1), rounded to 6 decimals."""
    t = docs.withColumn("toks", tokens_col())
    t = t.withColumn("n_chars_m", F.length("text")).withColumn(
        "n_tokens", F.when(F.trim("text") == "", 0).otherwise(F.size("toks"))
    )
    stripped = F.length(F.regexp_replace(F.col("text"), r"[^0-9A-Za-z\s]", ""))
    t = t.withColumn(
        "punct_ratio",
        F.when(F.col("n_chars_m") > 0, (F.col("n_chars_m") - stripped) / F.col("n_chars_m")).otherwise(0.0),
    )
    tok_chars = F.aggregate("toks", F.lit(0), lambda acc, x: acc + F.length(x))
    t = t.withColumn(
        "avg_word_len",
        F.when(F.col("n_tokens") > 0, tok_chars / F.col("n_tokens")).otherwise(0.0),
    )
    score = (
        0.4 * F.least(F.col("n_tokens") / 50.0, F.lit(1.0))
        + 0.3 * (1.0 - F.col("punct_ratio"))
        + 0.3 * F.least(F.col("avg_word_len") / 8.0, F.lit(1.0))
    )
    return t.select(
        "doc_id",
        "n_chars_m",
        "n_tokens",
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("avg_word_len", 6).alias("avg_word_len"),
        F.round(score, 6).alias("score"),
    )


def fingerprint_bag(docs: DataFrame) -> DataFrame:
    """(doc_id, fp) — order-insensitive bag fingerprint:
    Σ md5-hash(token) mod P. One explode + one sum."""
    toks = docs.select("doc_id", F.explode(tokens_col()).alias("word"))
    h = md5_long_col(F.col("word")) % MOD_P
    return toks.groupBy("doc_id").agg((F.sum(h) % MOD_P).alias("fp"))


def fingerprint_rolling(docs: DataFrame) -> DataFrame:
    """(doc_id, fp) — order-sensitive Karp–Rabin polynomial fingerprint:
    fold acc → (acc·B + h(token)) mod P over the token sequence."""
    h = lambda x: F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("bigint") % MOD_P
    fp = F.aggregate(
        tokens_col(),
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * ROLLING_BASE % MOD_P + h(x)) % MOD_P,
    )
    return docs.select("doc_id", fp.alias("fp"))
