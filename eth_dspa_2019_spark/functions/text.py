"""Text-analysis column expressions (LLM-pipeline operators + the
reference's content features).

The reference computes content length and unique-words ratio for anomaly
detection (`SN/task/anomalydetection/AnomalousUserDetector.java:123,131,
203-207`); these generalize that surface to the usual training-data
quality-scoring stack. Everything is built from JVM-side
``pyspark.sql.functions`` — no Python UDFs on the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small fixed lexicons; must stay in sync with the oracle SQL (the plans
# render them into it, so this is the single source of truth).
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "on", "for")

# Marker lexicons for the n-gram/keyword language-ID heuristic. On real
# text these would be per-language frequent-word profiles.
LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "a"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
}


def tokens(col: Column | str) -> Column:
    """Whitespace tokens. Documents in the testdata are single-space
    normalized; use ``F.split(col, r'\\s+')`` for raw text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


def token_count(toks: Column) -> Column:
    return F.size(toks).cast("bigint")


# GPT-2-style pretokenizer, simplified to ASCII classes so Java regex
# (Spark) and RE2 (DuckDB) agree: an optional leading space glued to a
# letter run, digit run, or punctuation run. Unmatched whitespace runs are
# not tokens — exactly the BPE pre-split behavior.
BPE_PATTERN = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


def bpe_token_count(col: Column | str) -> Column:
    """BPE-ish subword-pretoken count (the token-budget estimator next to
    the whitespace count — pretokens upper-bound merged BPE tokens)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_PATTERN), F.lit(0))).cast(
        "bigint"
    )


def uniq_ratio(toks: Column) -> Column:
    """distinct/total tokens — `AnomalousUserDetector.java:203-207`."""
    return F.size(F.array_distinct(toks)) / F.size(toks)


def stopword_ratio(toks: Column) -> Column:
    in_set = F.array([F.lit(w) for w in STOPWORDS])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(in_set, t)))
    return hits / F.size(toks)


def mean_token_len(toks: Column) -> Column:
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return total / F.size(toks)


def quality_score(toks: Column) -> Column:
    """Length/diversity/stopword blend in [0,1] — deterministic double
    arithmetic, mirrored exactly in the oracle SQL."""
    len_term = F.least(F.size(toks) / F.lit(100.0), F.lit(1.0))
    return 0.5 * len_term + 0.3 * uniq_ratio(toks) + 0.2 * (
        1.0 - stopword_ratio(toks)
    )


def lang_hits(toks: Column, lang: str) -> Column:
    markers = F.array([F.lit(w) for w in LANG_MARKERS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))


def lang_guess(toks: Column) -> Column:
    """Argmax over marker-hit counts, ties broken en > de > fr (mirrors the
    CASE chain in the oracle)."""
    en, de, fr = (lang_hits(toks, lg) for lg in ("en", "de", "fr"))
    return (
        F.when((en >= de) & (en >= fr), F.lit("en"))
        .when(de >= fr, F.lit("de"))
        .otherwise(F.lit("fr"))
    )


def make_quality_score_udf():
    """§2.11 `pandas_udf` surface: the quality score as a REGISTERED scalar
    Arrow UDF — the packaging to hand this engine's scoring to plain-SQL
    users (`spark.udf.register("quality_score", make_quality_score_udf())`).
    The expression form (:func:`quality_score`) remains the hot path — it
    stays inside codegen; the UDF exists for SQL-surface interop and is
    asserted equal to the expression in tests."""
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    stopset = set(STOPWORDS)

    @pandas_udf("double")
    def quality_score_udf(text):
        toks = text.str.split(" ")
        n = toks.str.len().astype("float64")
        len_term = (n / 100.0).clip(upper=1.0)
        uniq = toks.map(lambda t: float(len(set(t)))) / n
        stop = (
            toks.map(lambda t: float(sum(1 for w in t if w in stopset))) / n
        )
        return 0.5 * len_term + 0.3 * uniq + 0.2 * (1.0 - stop)

    return quality_score_udf
