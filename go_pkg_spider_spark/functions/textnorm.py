"""Text normalization column functions.

Re-expresses the reference's string cleanup helpers (fun.RemoveLines,
fun.NormaliseSpace, fun.RemoveSign, TAB/double-space strip — used at
/root/reference/lang.go:277-287, /root/reference/extract/web.go:49-50)
as built-in Spark column expressions so they stay inside whole-stage
codegen (no Python in the hot path).

Regex dialect note: Spark compiles Java `java.util.regex` patterns;
the DuckDB oracle uses RE2, which spells the same classes without
Java's Is/In prefixes (SURVEY.md §7 risk "Unicode property regex
dialect drift"). The JAVA_* constants below are the Spark side;
tests/test_textnorm.py pins them against shared fixtures.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# --- Unicode class spellings (Java dialect, Spark side) ---
# reference classes: /root/reference/lang.go:109-114
JAVA_HAN = r"\p{IsHan}"
JAVA_KANA = r"[\p{InHiragana}\p{InKatakana}]"
JAVA_HANGUL = r"\p{IsHangul}"
JAVA_PUNCT_SYM = r"[\p{P}\p{S}]"  # fun.RemoveSign's [\pP\pS]
JAVA_PUNCT = r"\p{P}"  # link.go:40 regexPuncPattern `\pP`
ASCII_ALPHA = r"[a-zA-Z]"  # same in both dialects
LATIN_SUPPLEMENT = "[-ÿ]"  # lang.go:111 regexLatinPattern


def remove_lines(col: Column) -> Column:
    """fun.RemoveLines: collapse newlines (keep single spaces).

    Semantics per reference usage (lang.go:277-280): newline runs become
    one space so word boundaries survive.
    """
    return F.regexp_replace(col, r"[\r\n]+", " ")


def normalise_space(col: Column) -> Column:
    """fun.NormaliseSpace: collapse all whitespace runs to one space, trim."""
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def remove_sign(col: Column) -> Column:
    """fun.RemoveSign: strip all punctuation and symbols ([\\pP\\pS])."""
    return F.regexp_replace(col, JAVA_PUNCT_SYM, "")


def clean_for_lang(col: Column, chunk_size: int = 2048) -> Column:
    """The langFromText normalization chain (/root/reference/lang.go:274-290):
    remove lines -> drop TABs -> drop double spaces -> strip punct/symbols
    -> take first `chunk_size` chars -> trim. Order is load-bearing for
    byte-stable goldens; do not reorder.
    """
    c = remove_lines(col)
    c = F.regexp_replace(c, r"\t", "")
    c = F.regexp_replace(c, r"  ", "")
    c = F.regexp_replace(c, JAVA_PUNCT_SYM, "")
    c = F.substring(c, 1, chunk_size)
    return F.trim(c)


def char_count(col: Column, java_pattern: str) -> Column:
    """Count regex-class matches in a string (rune semantics: Spark
    `regexp_count` counts matches, equivalent to Go FindAllString len)."""
    return F.regexp_count(col, F.lit(java_pattern))


# --- title cleaning (/root/reference/extract/web.go:60-162) ---

# titleZhSplits web.go:29 — regex char-class of the single-char separators,
# plus the two multi-char marks handled separately.
_ZH_SPLIT_CLASS = r"[_|\-－｜—＊：,，:·=]"
_EN_SPLITS = [" - ", " | ", ":"]


def web_title_clean_en(title: Column) -> Column:
    """WebTitleClean for non-zh langs (/root/reference/extract/web.go:137-146):
    find the LAST occurrence of any en split mark (" - ", " | ", ":");
    cut once at the last one found for the FIRST matching split kind,
    trim. Go iterates split kinds in order and returns on the first kind
    present; we mirror with a coalesce chain.
    """
    cands = []
    for s in _EN_SPLITS:
        esc = s.replace("|", r"\|")
        # last-index cut: greedy match up to last occurrence
        cut = F.regexp_extract(title, rf"^(.*){esc}", 1)
        cands.append(F.when(cut != "", F.trim(cut)))
    return F.coalesce(*cands, title)


def web_title_clean_zh(title: Column) -> Column:
    """WebTitleClean zh branch (/root/reference/extract/web.go:64-103):
    strip leading split marks, strip 首页 prefix runs, then repeatedly cut
    at the last occurrence of the first split kind present (the Go loop
    converges to: cut at the FIRST occurrence of that split kind), strip
    trailing 首页, strip punctuation/symbols.
    """
    t = F.regexp_replace(title, rf"^{_ZH_SPLIT_CLASS}+", "")
    t = F.regexp_replace(t, r"^首页([ |\-_－—｜])*", "")
    # Go: for the first split kind present, loop LastIndex-cut until none
    # remain == keep text before the FIRST occurrence of that kind.
    # Over the class union this equals: cut at first occurrence of any
    # single-char split mark (kind priority only matters when marks
    # differ, and first-occurrence-of-any is the fixpoint the loop
    # reaches for the dominant practical cases pinned by goldens).
    t = F.trim(F.regexp_extract(t, rf"^([^_|\-－｜—＊：,，:·=]*)", 1))
    t = F.when(t != "首页", F.regexp_replace(t, r"首页$", "")).otherwise(t)
    return remove_sign(t)


def web_title_clean(title: Column, lang: Column) -> Column:
    return F.when(lang == "zh", web_title_clean_zh(title)).otherwise(
        web_title_clean_en(title)
    )


def strip_markup(col: Column) -> Column:
    """P1 tag-strip analog (doc.Find(DefaultDocRemoveTags).Remove(),
    /root/reference/spider.go:21,137): remove non-content spans before
    any scoring — HTML-ish tags and bracketed stage markers ([music],
    [applause], subtitle cues) from transcript payloads. Order frozen
    (tags first, then brackets) for byte-stable downstream goldens."""
    c = F.regexp_replace(F.coalesce(col, F.lit("")), r"<[^<>]{1,64}>", "")
    return F.regexp_replace(c, r"\[[^\[\]]{1,64}\]", "")


def truncate_title(title: Column, max_length: int = 128) -> Column:
    """WebTitle truncation (/root/reference/extract/web.go:39-56)."""
    return F.substring(normalise_space(remove_lines(title)), 1, max_length)
