"""Keep/drop heuristic rules + link/URL classification as `F.when` chains.

Recasts:
- LinkIsContentByTitle (/root/reference/extract/link.go:276-364): the
  title/content classification cascade (zh branch, word-lang branch,
  other branch) — re-targeted to transcripts as keep/drop with a
  preserved reason label (the `Filters` map role, spider.go:28-32).
- zh licence-boilerplate blacklist (/root/reference/extract/link.go:23,
  139-153).
- dynamic-render junk guard (/root/reference/lang.go:373-375).
- filterUrl URL validity cascade (/root/reference/extract/web.go:242-302)
  with each reject reason preserved.

Everything is a single projection of boolean/when columns — JVM-side,
no UDFs, no shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from .expr_utils import let_col
from .textnorm import ASCII_ALPHA, JAVA_HAN, JAVA_PUNCT, char_count

# link.go:14-17 LinkType enum, as strings for readability
TYPE_NONE = "none"
TYPE_CONTENT = "content"
TYPE_LIST = "list"
TYPE_UNKNOWN = "unknown"

# link.go:27-31
ZH_PUNCS = "，。；：？！（）“”"
WORD_LANGS = ("en", "ru", "ar", "de", "fr", "es", "pt")
ZH_EN_TITLES = ("nba", "cba", "5g", "ai", "it", "ipo")

# link.go:23
ZH_LICENCE_BLACKLIST_RE = "(经营|制作|信息服务|出版|出版服务|演出|视听节目|新闻|视听|新网)许可证"
# link.go:21
INDEX_SUFFIX_RE = r"^/index\.(html|shtml|htm|php|asp|aspx|jsp)$"
# link.go:19
URL_PUBLISH_DATE_RE = r"(20[2-3][0-9][/]?(0[1-9]|1[0-2]|[1-9])[/]?(0[1-9]|[1-2][0-9]|3[0-1]|[1-9])?)"

# web.go:19-25
FILTER_URL_SUFFIXES = (
    ".jpg", ".jpeg", ".png", ".gif", ".bmp", ".txt", ".xml",
    ".pdf", ".doc", ".docx", ".ppt", ".pptx", ".xls", ".xlsx",
    ".zip", ".rar", ".7z", ".gz", ".apk", ".cgi", ".exe", ".bz2", ".play",
    ".rss", ".sig", ".sgf",
    ".mp3", ".mp4", ".rm", ".rmvb", ".mov", ".ogv", ".flv",
)
# web.go:27
INVALID_URL_CHARS_RE = r'[{}\[\]@$<>"]'
# web.go:15
HOSTNAME_IP_RE = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"


def classify_title(title: Column, lang: Column, full_len: Column | None = None) -> Column:
    """LinkIsContentByTitle (/root/reference/extract/link.go:276-364)
    re-expressed as one when-chain. `full_len` is the >255-rune guard
    input (the URL string there; the transcript here) — pass None to
    skip.

    zh branch (link.go:289-326): han>5 & len(no-space)>=8 -> content;
    han>5 & len<8 -> content if any zh punct else unknown; 0<han<=5 ->
    list; han==0 -> list if lower(title) in dict else none.
    word-lang branch (:328-348): strip punct; any ascii letter ->
    content if >=5 words else list; none otherwise.
    other branch (:350-360): strip punct; len>=8 -> content else list.

    The Han count, the space-stripped and the punct-stripped title are
    let-bound (expr_utils.let_col), each inside the branch that reads
    it: an inlined Column would rerun its regex at every read.
    """
    over = (
        F.length(F.coalesce(full_len, F.lit(""))) > 255
        if full_len is not None
        else F.lit(False)
    )

    def short_zh(t_nospace):
        return (
            F.when(F.length(t_nospace) >= 8, TYPE_CONTENT)
            .when(t_nospace.rlike(f"[{ZH_PUNCS}]"), TYPE_CONTENT)
            .otherwise(TYPE_UNKNOWN)
        )

    zh_branch = let_col(
        char_count(title, JAVA_HAN),
        lambda han: F.when(han > 5, let_col(F.regexp_replace(title, " ", ""), short_zh))
        .when(han > 0, TYPE_LIST)
        .when(F.lower(title).isin(*ZH_EN_TITLES), TYPE_LIST)
        .otherwise(TYPE_NONE),
    )

    def word_or_other(t_nopunct):
        en_count = char_count(t_nopunct, ASCII_ALPHA)
        words = F.size(F.filter(F.split(F.trim(t_nopunct), " +"), lambda w: w != ""))
        word_branch = F.when(
            en_count > 0, F.when(words >= 5, TYPE_CONTENT).otherwise(TYPE_LIST)
        ).otherwise(TYPE_NONE)
        other_branch = F.when(F.length(t_nopunct) >= 8, TYPE_CONTENT).otherwise(TYPE_LIST)
        return F.when(lang.isin(*WORD_LANGS), word_branch).otherwise(other_branch)

    return (
        F.when(over, TYPE_NONE)
        .when(lang == "zh", zh_branch)
        .otherwise(let_col(F.regexp_replace(title, JAVA_PUNCT, ""), word_or_other))
    )


def is_licence_boilerplate(text: Column) -> Column:
    """linkClean zh blacklist (/root/reference/extract/link.go:139-153)."""
    return F.coalesce(text.rlike(ZH_LICENCE_BLACKLIST_RE), F.lit(False))


def is_dynamic_render_junk(text: Column) -> Column:
    """bodyTextForLang abandon rule (/root/reference/lang.go:373-375):
    >=5 '{' AND >=5 '}' means the payload is templating junk."""
    t = F.coalesce(text, F.lit(""))
    opens = F.length(t) - F.length(F.replace(t, F.lit("{"), F.lit("")))
    closes = F.length(t) - F.length(F.replace(t, F.lit("}"), F.lit("")))
    return (opens >= 5) & (closes >= 5)


def lang_independent_drop(
    t: Column, min_chars: int = 64, max_chars: int = 1_000_000
) -> Column:
    """The guards that need neither lang nor audio, on a non-null
    transcript `t`, first failing one wins, NULL when all pass (the
    reference's guard order: size bounds (detect.go:109-114 analog,
    lang.go:290-294), dynamic-render junk (lang.go:373-375), licence
    boilerplate (link.go:139-153)). The pipeline masks the ppl input
    with it, so it runs before any model."""
    return (
        F.when(F.length(F.trim(t)) == 0, "empty_transcript")
        .when(F.length(t) < min_chars, "too_short")
        .when(F.length(t) > max_chars, "too_long")
        .when(is_dynamic_render_junk(t), "dynamic_render_junk")
        .when(is_licence_boilerplate(t), "licence_boilerplate")
        .otherwise(F.lit(None).cast("string"))
    )


def keep_drop(
    transcript: Column,
    lang: Column,
    min_chars: int = 64,
    max_chars: int = 1_000_000,
    pre_drop: Column | None = None,
) -> Column:
    """The end-to-end keep/drop decision for a transcript, with the first
    failing rule preserved as `drop_reason`: the lang-independent guards,
    then the title-style classification (link.go:276-364) where only
    'content' survives. pre_drop: the guards' result, when the caller
    has already projected lang_independent_drop(transcript) (min_chars
    and max_chars are then unused).

    Returns struct(keep boolean, drop_reason string-or-null,
    link_type string)."""
    t = F.coalesce(transcript, F.lit(""))
    link_type = classify_title(F.trim(t), lang, full_len=None)
    if pre_drop is None:
        pre_drop = lang_independent_drop(t, min_chars, max_chars)
    reason = F.coalesce(
        pre_drop,
        F.when(link_type != TYPE_CONTENT, F.concat(F.lit("class_"), link_type)),
    )
    return F.struct(
        reason.isNull().alias("keep"),
        reason.alias("drop_reason"),
        link_type.alias("link_type"),
    )


# --- URL validity cascade (P2, /root/reference/extract/web.go:242-302) ---


def url_filter_reason(url: Column) -> Column:
    """filterUrl re-expressed: first failing rule wins (same order as the
    reference); NULL reason == valid URL. Relative-resolve is out of
    scope for table payloads (no base URL) — non-absolute is rejected."""
    ext = F.lower(F.regexp_extract(url, r"(\.[A-Za-z0-9]+)(?:[?#].*)?$", 1))
    host = F.parse_url(url, F.lit("HOST"))
    port_in_url = url.rlike(r"^https?://[^/]+:\d+")
    return (
        F.when(url.rlike(INVALID_URL_CHARS_RE), "invalid url with illegal characters")
        .when(~F.lower(url).startswith("http"), "invalid url with not absolute url")
        .when(port_in_url, "invalid url with not 80 port")
        .when(
            F.coalesce(host, F.lit("")).rlike(HOSTNAME_IP_RE),
            "invalid url with ip hostname",
        )
        .when(ext.isin(*FILTER_URL_SUFFIXES), "invalid url with suffix")
        .otherwise(F.lit(None).cast("string"))
    )


def has_publish_date_path(path: Column) -> Column:
    """URL-path date feature (link.go:91-97): strip . - _ from the path
    dir, then match RegexUrlPublishDate."""
    clean = F.regexp_replace(path, r"[.\-_]", "")
    return clean.rlike(URL_PUBLISH_DATE_RE)


def is_index_path(path: Column) -> Column:
    """Default-path predicate (link.go:283-287)."""
    p = F.trim(path)
    return (p == "") | (p == "/") | p.rlike(INDEX_SUFFIX_RE)
