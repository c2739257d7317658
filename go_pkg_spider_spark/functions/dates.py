"""Publish-date extraction cascade — the reference's 14-regex family
(/root/reference/extract/content.go:23-68) and its selection rules
(getTime cascade :310-373, longest-wins A8 :674-691) as column
expressions.

Date regexes are rewritten in the common Java/RE2 subset (no (?i) with
CJK needed; en month names lowercased via F.lower before match).
Priority is a coalesce over ordered extraction results — exactly the
reference's cascade ordering (zh-prefixed > full > short > en1 > en2 >
enUS > no-year).

Callers get the raw match and its normalized string
(normalize_date_string), never a parsed timestamp: a no-year match
stays year-less, so no current_date enters the pipeline (SURVEY.md §7).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# shapes follow content.go:23-47, simplified to the common dialect
_D_FULL = (
    "(20[1-3][0-9])[-/年.](0[1-9]|1[0-2]|[1-9])[-/月.](0[1-9]|[1-2][0-9]|3[0-1]|[1-9])日?"
    "([ Tt]{0,3}([0-9]|[0-1][0-9]|2[0-3])[:点时]([0-5][0-9]|[0-9])[:分]?(([0-5][0-9]|[0-9])秒?)?)?"
)
_D_SHORT = (
    "([1-3][0-9])[-/年.](0[1-9]|1[0-2]|[1-9])[-/月.](0[1-9]|[1-2][0-9]|3[0-1]|[1-9])日?"
    "([ Tt]{0,3}([0-9]|[0-1][0-9]|2[0-3])[:点时]([0-5][0-9]|[0-9])[:分]?(([0-5][0-9]|[0-9])秒?)?)?"
)
_MONTHS = (
    "january|february|march|april|may|june|july|august|september|october|november|december"
    "|jan|feb|mar|apr|jun|jul|aug|sept|sep|oct|nov|dec"
)
_D_EN1 = (
    f"((0[1-9]|[1-2][0-9]|3[0-1]|[1-9])(st|nd|rd|th)?)[, ]{{1,4}}({_MONTHS})[, ]{{1,4}}(20[1-3][0-9])"
    "([, ]{1,4}([0-9]|[0-1][0-9]|2[0-3]):([0-5][0-9]|[0-9])(:([0-5][0-9]|[0-9]))?([, ]{1,4}(am|pm))?)?"
)
_D_EN2 = (
    f"({_MONTHS})[, ]{{1,4}}((0[1-9]|[1-2][0-9]|3[0-1]|[1-9])(st|nd|rd|th)?)[, ]{{1,4}}(20[1-3][0-9])"
    "([, ]{1,4}([0-9]|[0-1][0-9]|2[0-3]):([0-5][0-9]|[0-9])(:([0-5][0-9]|[0-9]))?([, ]{1,4}(am|pm))?)?"
)
_D_ENUS = (
    "(0[1-9]|1[0-2]|[1-9])[-/.](0[1-9]|[1-2][0-9]|3[0-1]|[1-9])[-/.](20[1-3][0-9])"
    "([ ]{1,3}([0-9]|[0-1][0-9]|2[0-3]):([0-5][0-9]|[0-9])(:([0-5][0-9]|[0-9]))?)?"
)
_D_NOYEAR = (
    "(0[1-9]|1[0-2]|[1-9])[-/月.](0[1-9]|[1-2][0-9]|3[0-1]|[1-9])日?"
    "([ Tt]{0,3}([0-9]|[0-1][0-9]|2[0-3])[:点时]([0-5][0-9]|[0-9])[:分]?(([0-5][0-9]|[0-9])秒?)?)?"
)
ZH_PUBLISH_PREFIX = "(发布|创建|出版|发表|编辑)?(时间|日期)"
_D_ZH_PREFIXED = ZH_PUBLISH_PREFIX + "[\\p{P} ]{1,8}" + _D_FULL


def _first(text: Column, pattern: str, group: int = 0) -> Column:
    m = F.regexp_extract(text, pattern, group)
    return F.when(m != "", m)


def cascade_patterns() -> list[tuple[str, str, bool]]:
    """The ordered (kind, pattern, match_on_lowered) cascade — the single
    source of truth shared by extract_publish_date_raw and its DuckDB
    oracle twin (oracle_sql_gen.extract_news_sql); the patterns are in
    the common Java/RE2 subset by construction."""
    return [
        ("zh_prefixed", _D_ZH_PREFIXED, False),
        ("full", _D_FULL, False),
        ("short", "[^0-9]" + _D_SHORT, False),
        ("en_dmy", _D_EN1, True),
        ("en_mdy", _D_EN2, True),
        ("en_us", _D_ENUS, True),
        ("noyear", _D_NOYEAR, False),
    ]


def extract_publish_date_raw(text: Column) -> Column:
    """The ordered cascade (getTime priority, content.go:310-373):
    zh-prefixed beats bare full date beats short beats en shapes beats
    no-year. Returns struct(raw, kind) or NULL."""
    t = F.coalesce(text, F.lit(""))
    tl = F.lower(t)
    cands = [
        (_first(tl if lowered else t, pattern), kind)
        for kind, pattern, lowered in cascade_patterns()
    ]
    branches = [
        F.when(c.isNotNull(), F.struct(c.alias("raw"), F.lit(kind).alias("kind")))
        for c, kind in cands
    ]
    return F.coalesce(*branches)


def extract_all_full_dates(text: Column) -> Column:
    """All full-date candidates in order (for A8/A9/A10 selections)."""
    return F.regexp_extract_all(F.coalesce(text, F.lit("")), F.lit(_D_FULL), F.lit(0))


def longest_date(text: Column) -> Column:
    """A8 longest-wins (content.go:674-691): among all full-date matches
    keep the longest (the one carrying the most time detail)."""
    cands = extract_all_full_dates(text)
    return F.when(
        F.size(cands) > 0,
        F.aggregate(
            cands,
            F.lit("").cast("string"),
            lambda acc, x: F.when(F.length(x) > F.length(acc), x).otherwise(acc),
        ),
    )


def normalize_date_string(raw: Column) -> Column:
    """F11 cleanup chain (content.go:235-254, 485-494): zh units ->
    ascii separators, strip spaces around T, drop :NNN(N) garbage tails
    and trailing zone offsets. Order frozen."""
    # drop any prefix before the first digit (zh publish prefixes like
    # 发布时间: ride along in the raw match)
    c = F.regexp_replace(raw, r"^[^0-9]+", "")
    c = F.regexp_replace(c, "[年月]", "-")
    c = F.regexp_replace(c, "日", " ")
    c = F.regexp_replace(c, "[点时]", ":")
    c = F.regexp_replace(c, "分", ":")
    c = F.regexp_replace(c, "秒", "")
    c = F.regexp_replace(c, r"\s*[Tt]\s*", " ")
    c = F.regexp_replace(c, r"[:]\d{3,4}$", "")  # RegexFormatTime3/4
    c = F.regexp_replace(c, r"([+-]\d{2}):?\d{2}$", "")  # RegexZone
    c = F.regexp_replace(c, r":\s*$", "")
    return F.trim(F.regexp_replace(c, r"\s{2,}", " "))
