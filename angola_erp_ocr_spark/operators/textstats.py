"""Text analysis for training-data pipelines: language-ID, quality scoring,
token counting, document fingerprinting. All built-in column expressions
(JVM-side, codegen'd) — and each has an exact DuckDB-SQL twin for the
oracle harness, so the semantics are pinned cross-engine.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .dedup import MERSENNE31, text_hash60

# tiny marker vocabularies (stopword heuristic language ID); priority order
# breaks ties (first listed wins).
LANG_ORDER = ["en", "es", "fr", "de", "pt", "zh"]
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it"],
    "es": ["el", "la", "que", "y", "los", "una", "por", "con"],
    "fr": ["le", "les", "des", "une", "est", "dans", "pour", "vous"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
    "pt": ["o", "de", "que", "do", "da", "em", "um", "para"],
    "zh": ["的", "是", "了", "在", "我", "有", "他", "这"],
}

STOPWORDS_EN = LANG_MARKERS["en"] + ["a", "for", "on", "with", "as", "was"]

# BPE-ish token regex: letter runs, digit runs, or single symbols
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def words(col: Column) -> Column:
    return F.split(F.lower(F.trim(col)), r"\s+")


def _marker_hits(toks: Column, markers: list[str]) -> Column:
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def lang_id(col: Column) -> Column:
    """argmax marker-hit language, priority order on ties; 'und' if 0 hits."""
    toks = words(col)
    hits = {lang: _marker_hits(toks, LANG_MARKERS[lang]) for lang in LANG_ORDER}
    best = F.greatest(*hits.values())
    expr = F.lit("und")
    for lang in reversed(LANG_ORDER):
        expr = F.when((hits[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def token_count_ws(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(F.split(F.trim(col), r"\s+"))


def token_count_bpe(col: Column) -> Column:
    """BPE-ish token count (regex token classes)."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_TOKEN_RE), F.lit(0)))


def quality_features(col: Column) -> list[Column]:
    """Length / punctuation-ratio / stopword-ratio / mean-word-length —
    the standard cheap quality filters for web-scale corpora."""
    n_chars = F.length(col)
    toks = words(col)
    n_tokens = F.size(toks)
    punct = F.size(F.regexp_extract_all(col, F.lit(r"[^A-Za-z0-9\s]"), F.lit(0)))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    stop_hits = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    mean_wlen = (
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
        / F.greatest(n_tokens, F.lit(1))
    )
    return [
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(punct / F.greatest(n_chars, F.lit(1)), 6).alias("punct_ratio"),
        F.round(stop_hits / F.greatest(n_tokens, F.lit(1)), 6).alias("stopword_ratio"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
    ]


def quality_score(col: Column) -> Column:
    """Scalar quality score in [0,1]: penalizes too-short docs, punctuation
    soup, and stopword-free (non-linguistic) text."""
    toks = words(col)
    n_tokens = F.size(toks)
    punct = F.size(F.regexp_extract_all(col, F.lit(r"[^A-Za-z0-9\s]"), F.lit(0)))
    punct_ratio = punct / F.greatest(F.length(col), F.lit(1))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    stop_ratio = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))) \
        / F.greatest(n_tokens, F.lit(1))
    len_term = F.least(n_tokens / F.lit(20.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio * 5, F.lit(1.0))
    stop_term = F.least(stop_ratio * 4, F.lit(1.0))
    return F.round((len_term + punct_term + stop_term) / 3, 6)


def fingerprint(col: Column) -> Column:
    """Position-weighted rolling hash of the token sequence (order-sensitive,
    unlike the shingle-set hashes): fp = Σ h(tok_i)·(31^i) mod p."""
    toks = words(col)
    hashed = F.transform(toks, lambda t: text_hash60(t) % MERSENNE31)
    return F.aggregate(
        hashed,
        F.struct(F.lit(0).cast("bigint").alias("acc"),
                 F.lit(1).cast("bigint").alias("pw")),
        lambda st, h: F.struct(
            ((st["acc"] + h * st["pw"]) % MERSENNE31).alias("acc"),
            ((st["pw"] * 31) % MERSENNE31).alias("pw"),
        ),
        lambda st: st["acc"],
    )


# ---------------------------------------------------------------------------
# P12 — spellcheck projection (reference ocr_read.py:33-49, pyspellchecker,
# gated by the `spell_checker` flag). Spark form: unknown tokens join a
# broadcast dictionary on edit distance; the closest word (distance, then
# lexicographic — deterministic) wins; distance > max_dist keeps the token.
# Pure built-ins: levenshtein + broadcast join + min_by. No UDF.
# ---------------------------------------------------------------------------

def spellcheck_tokens(tokens, dictionary, token_col: str = "token",
                      max_dist: int = 2):
    """tokens: DataFrame with `token_col` (+ any id columns).
    dictionary: DataFrame with a single `word` column (small, broadcast).
    Adds `corrected`: the token itself if in-dictionary or no candidate
    within `max_dist`, else the closest dictionary word."""
    from pyspark.sql import functions as F

    keys = [c for c in tokens.columns]
    dic = F.broadcast(dictionary.select("word"))
    known = tokens.join(dic, F.col(token_col) == F.col("word"), "left_semi")
    unknown = tokens.join(dic, F.col(token_col) == F.col("word"), "left_anti")
    scored = (
        unknown.join(dic)
        .withColumn("_d", F.levenshtein(F.col(token_col), F.col("word")))
        .where(F.col("_d") <= max_dist)
    )
    best = scored.groupBy(*keys).agg(
        F.min_by("word", F.struct(F.col("_d"), F.col("word"))).alias("corrected")
    )
    fixed = unknown.join(best, keys, "left").withColumn(
        "corrected", F.coalesce(F.col("corrected"), F.col(token_col))
    )
    return known.withColumn("corrected", F.col(token_col)).unionByName(fixed)
