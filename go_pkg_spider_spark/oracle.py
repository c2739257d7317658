"""Frozen pure-Python reference-label oracle (FIXTURES.md §4).

Implements the keep/drop + scrub cascade semantics of the reference
(thresholds verbatim from /root/reference/lang.go and
/root/reference/extract/link.go) in plain Python, independently of the
Spark column expressions, so tests/test_pipeline.py can score the
pipeline's decisions (F1 >= 0.99) and scrubbed text (exact).

Unicode classes use explicit codepoint ranges (Go RE2 / Java dialects
agree on these blocks for all fixture text; tests/test_textnorm.py pins
the dialects)."""

from __future__ import annotations

import re
from dataclasses import dataclass

from .functions.langid import (
    LATIN_SET,
    OTHER_SET,
    _score_text,
)
from .functions.scrub import SCRUB_BANK
from .operators.decode import decode_blob

BODY_MIN_SIZE = 64
BODY_CHUNK_SIZE = 2048

_HAN = (0x4E00, 0x9FFF)
_HIRA = (0x3040, 0x309F)
_KATA = (0x30A0, 0x30FF)
_LATIN_SUPP = (0x0080, 0x00FF)

import unicodedata


def _is_han(ch: str) -> bool:
    return _HAN[0] <= ord(ch) <= _HAN[1]


def _is_kana(ch: str) -> bool:
    o = ord(ch)
    return _HIRA[0] <= o <= _HIRA[1] or _KATA[0] <= o <= _KATA[1]


def _is_punct_sym(ch: str) -> bool:
    return unicodedata.category(ch)[0] in ("P", "S")


def _clean_for_lang(text: str) -> str:
    t = re.sub(r"[\r\n]+", " ", text)
    t = t.replace("\t", "").replace("  ", "")
    t = "".join(c for c in t if not _is_punct_sym(c))
    return t[:BODY_CHUNK_SIZE].strip()


def oracle_lang(text: str, charset: str | None = None) -> tuple[str | None, str | None]:
    """langFromText cascade, thresholds verbatim (lang.go:274-358)."""
    from .functions.charset import CHARSET_LANG_MAP

    if charset and charset in CHARSET_LANG_MAP:
        return CHARSET_LANG_MAP[charset], "charset"
    t = _clean_for_lang(text or "")
    n = len(t)
    if n < BODY_MIN_SIZE:
        return None, None
    han = sum(1 for c in t if _is_han(c))
    if han and han / n >= 0.3:
        ja = sum(1 for c in t if _is_kana(c))
        if ja and ja / han > 0.1:
            return "ja", "body"
        return "zh", "body"
    en = sum(1 for c in t if c.isascii() and c.isalpha())
    if en and en / n > 0.618:
        latin = sum(1 for c in t if _LATIN_SUPP[0] <= ord(c) <= _LATIN_SUPP[1])
        if latin > 5:
            return _score_text(t, LATIN_SET), "lingua"
        return "en", "body"
    return _score_text(t, OTHER_SET), "lingua"


_ZH_PUNCS = "，。；：？！（）“”"
_WORD_LANGS = {"en", "ru", "ar", "de", "fr", "es", "pt"}
_ZH_EN_TITLES = {"nba", "cba", "5g", "ai", "it", "ipo"}


def oracle_classify(title: str, lang: str | None) -> str:
    """LinkIsContentByTitle (link.go:276-364)."""
    if lang == "zh":
        han = sum(1 for c in title if _is_han(c))
        if han > 0:
            if han > 5:
                t = title.replace(" ", "")
                if len(t) >= 8:
                    return "content"
                if any(p in t for p in _ZH_PUNCS):
                    return "content"
                return "unknown"
            return "list"
        if title.lower() in _ZH_EN_TITLES:
            return "list"
        return "none"
    if lang in _WORD_LANGS:
        t = "".join(c for c in title if unicodedata.category(c)[0] != "P")
        if any(c.isascii() and c.isalpha() for c in t):
            words = [w for w in t.split(" ") if w]
            return "content" if len(words) >= 5 else "list"
        return "none"
    t = "".join(c for c in title if unicodedata.category(c)[0] != "P")
    return "content" if len(t) >= 8 else "list"


_LICENCE_RE = re.compile("(经营|制作|信息服务|出版|出版服务|演出|视听节目|新闻|视听|新网)许可证")


def oracle_scrub(text: str) -> str:
    out = text
    for _, pat, repl in SCRUB_BANK:
        out = re.sub(pat, repl, out)
    return out


@dataclass
class OracleResult:
    keep: bool
    drop_reason: str | None
    lang: str | None
    lang_pos: str | None
    scrubbed_transcript: str | None


def oracle_decide(
    blob: bytes | None,
    codec: str | None,
    sr_hz: int | None,
    transcript: str | None,
    min_chars: int = 64,
    max_chars: int = 1_000_000,
) -> OracleResult:
    """Full reference-label decision, guard order identical to
    pipeline.run_pipeline (decode, rules.lang_independent_drop, then
    the classification)."""
    t = transcript or ""
    # P1 tag-strip before scoring (mirrors pipeline/strip_markup)
    content = re.sub(r"\[[^\[\]]{1,64}\]", "", re.sub(r"<[^<>]{1,64}>", "", t))
    lang, pos = oracle_lang(content)
    pcm, _, derr = decode_blob(blob, codec, sr_hz)
    reason: str | None = None
    if derr is not None:
        reason = f"decode_{derr}"
    elif len(t.strip()) == 0:
        reason = "empty_transcript"
    elif len(t) < min_chars:
        reason = "too_short"
    elif len(t) > max_chars:
        reason = "too_long"
    elif t.count("{") >= 5 and t.count("}") >= 5:
        reason = "dynamic_render_junk"
    elif _LICENCE_RE.search(t):
        reason = "licence_boilerplate"
    else:
        cls = oracle_classify(content.strip(), lang)
        if cls != "content":
            reason = f"class_{cls}"
    keep = reason is None
    return OracleResult(keep, reason, lang, pos, oracle_scrub(t) if keep else None)
