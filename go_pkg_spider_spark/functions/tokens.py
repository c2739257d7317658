"""Token counting, document fingerprinting, and text-quality stats —
the text-analysis layer a training-data pipeline needs, all as built-in
column expressions (JVM-side, codegen).

Shapes follow the reference's rune-count idiom
(utf8.RuneCountInString, e.g. /root/reference/lang.go:290) and its
regex-count statistics (lang.go:296-334).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from .textnorm import JAVA_PUNCT_SYM, char_count

EN_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "for", "on", "with", "as", "at", "by", "it", "be", "this", "that",
)


def whitespace_token_count(text: Column) -> Column:
    return F.size(F.filter(F.split(F.trim(F.coalesce(text, F.lit(""))), r"\s+"), lambda w: w != ""))


def stopword_ratio(text: Column) -> Column:
    words = F.filter(
        F.split(F.lower(F.trim(F.coalesce(text, F.lit("")))), r"\s+"), lambda w: w != ""
    )
    n = F.size(words)
    stops = F.size(F.filter(words, lambda w: w.isin(*EN_STOPWORDS)))
    return F.when(n > 0, F.round(stops / n, 6)).otherwise(F.lit(0.0))


def punct_ratio(text: Column) -> Column:
    t = F.coalesce(text, F.lit(""))
    n = F.length(t)
    return F.when(n > 0, F.round(char_count(t, JAVA_PUNCT_SYM) / n, 6)).otherwise(F.lit(0.0))


def words_array(text: Column) -> Column:
    """The shared whitespace word array (hoist target: an alias of this
    in its own projection is computed once per row even when the score
    expression references it several times — CollapseProject keeps
    non-cheap multi-referenced aliases in their own Project)."""
    return F.filter(
        F.split(F.trim(F.coalesce(text, F.lit(""))), r"\s+"), lambda w: w != ""
    )


def mean_word_length_from_words(words: Column) -> Column:
    n = F.size(words)
    total = F.aggregate(words, F.lit(0), lambda a, w: a + F.length(w))
    return F.when(n > 0, F.round(total / n, 6)).otherwise(F.lit(0.0))


def quality_score_from_words(text: Column, words: Column) -> Column:
    """quality_score with the word array injected (see quality_score_steps
    for the hoisted form)."""
    t = F.coalesce(text, F.lit(""))
    n = F.length(t)
    len_score = F.least(n / F.lit(500.0), F.lit(1.0))
    punct_penalty = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(text) * 4.0)
    wl = mean_word_length_from_words(words)
    wl_score = F.when((wl >= 3.0) & (wl <= 10.0), 1.0).otherwise(0.5)
    return F.round(len_score * 0.4 + punct_penalty * 0.4 + wl_score * 0.2, 6)


def quality_score(text: Column) -> Column:
    """Composite heuristic quality score in [0,1]: rewards moderate
    length, low punctuation/symbol share, moderate word length — the
    C4/Gopher-style rule family re-expressed as one column expression.
    Prefer with_quality_score on DataFrames (hoists the word array)."""
    return quality_score_from_words(text, words_array(text))


QS_TEMPS = ("_qs_words", "_qs_total")


def quality_score_steps(text_col: str, out_col: str = "quality_score") -> list[dict[str, Column]]:
    """The quality score as three projections: the word array, then its
    length-sum, then the score, each computed once (the inline form
    re-derived the split/filter array ~6x and the aggregate 2x in the
    plan). Apply each dict with one withColumns, in order; the two
    QS_TEMPS columns are scratch."""
    w, tot = QS_TEMPS
    words, total = F.col(w), F.col(tot)
    n = F.size(words)
    wl = F.when(n > 0, F.round(total / n, 6)).otherwise(F.lit(0.0))
    wl_score = F.when((wl >= 3.0) & (wl <= 10.0), 1.0).otherwise(0.5)
    t = F.coalesce(F.col(text_col), F.lit(""))
    len_score = F.least(F.length(t) / F.lit(500.0), F.lit(1.0))
    punct_penalty = F.greatest(
        F.lit(0.0), F.lit(1.0) - punct_ratio(F.col(text_col)) * 4.0
    )
    score = F.round(len_score * 0.4 + punct_penalty * 0.4 + wl_score * 0.2, 6)
    return [
        {w: words_array(F.col(text_col))},
        {tot: F.aggregate(words, F.lit(0), lambda a, x: a + F.length(x))},
        {out_col: score},
    ]


def with_quality_score(df, text_col: str, out_col: str = "quality_score"):
    """Adds the quality score (quality_score_steps) to `df`."""
    for step in quality_score_steps(text_col, out_col):
        df = df.withColumns(step)
    return df.drop(*QS_TEMPS)


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: 64-bit xxhash of the
    whitespace-normalized, lowercased text. Exact-dedup key."""
    norm = F.lower(F.trim(F.regexp_replace(F.coalesce(text, F.lit("")), r"\s+", " ")))
    return F.xxhash64(norm)


def content_hash_md5(text: Column) -> Column:
    """MD5 content hash of the same normalization — portable to the
    DuckDB oracle (md5 exists in both engines)."""
    norm = F.lower(F.trim(F.regexp_replace(F.coalesce(text, F.lit("")), r"\s+", " ")))
    return F.md5(norm)


def md5_u64_le(col: Column) -> Column:
    """First 8 md5-digest bytes as an unsigned little-endian integer —
    a PURE-COLUMN twin of DuckDB's md5_number_upper() (and of
    dedup._hash64_bytes), so hash-routed decisions (deterministic
    sampling, hash partitioning, dedup keys) replay exactly in the
    oracle. Returns decimal(20,0) (values exceed signed int64)."""
    h = F.md5(F.encode(col.cast("string"), "UTF-8"))
    le_hex = F.concat(*[F.substring(h, 15 - 2 * i, 2) for i in range(8)])
    return F.conv(le_hex, 16, 10).cast("decimal(20,0)")
