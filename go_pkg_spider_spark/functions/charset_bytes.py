"""Byte-level charset detection — the full Charset() flow
(/root/reference/charset.go:38-101) for binary text payloads, as a
per-row Arrow UDF.

Decision order (charset.go semantics):
1. valid UTF-8 -> ("UTF-8", "valid") fast path          charset.go:43-47
2. declared charset in the payload (RegexCharset over the HTML4/HTML5
   meta shapes) -> normalized, ("X", "html")            charset.go:112-180
3. header/codec declaration -> ("X", "header")          charset.go:80-101
4. statistical guess -> ("X", "guess")                  charset.go:183-193
   (chardet slot X5: charset_normalizer when importable, else a
   deterministic BOM + try-decode cascade over the CharsetLangMap
   encodings; both normalized through convert_charset aliases)

Returns struct(charset, charset_pos, decoded_text). Runs inside the
decode stage so the payload is examined exactly once.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql.types import StringType, StructField, StructType

from ..session import row_udf

try:  # optional, import-gated (X5 model slot)
    import charset_normalizer as _cn  # type: ignore
except Exception:  # noqa: BLE001
    _cn = None

# charset.go:21-23 (bytes-level, ascii-compatible prefix scan)
_RE_HTML5 = re.compile(rb"(?i)<meta\s+charset\s*=\s*[\"']?([a-z][_\-0-9a-z]*)")
_RE_HTML4 = re.compile(
    rb"(?i)<meta\s+[^>]*http-equiv=[\"']?content-type[\"']?[^>]*>"
)
_RE_CHARSET = re.compile(rb"(?i)charset=\s*[\"']?([a-z][_\-0-9a-z]*)")

# try-decode guess order: strict CJK/cyrillic codecs, most-restrictive
# first; scored per-codec by FREQUENCY-WEIGHTED evidence over the
# non-ASCII chars (the chardet technique, deterministic): a wrong-codec
# decode that happens to be byte-valid lands nearly uniformly over its
# script block, so it scores ~0 against a common-character table, while
# real text concentrates there. Raw script-share scoring is NOT enough:
# GB-encoded Chinese frequently decodes VALIDLY as EUC-JP (pure-Han
# garbage, share 1.0), and the single-byte koi8_r codec decodes any
# byte string to 100% cyrillic (found building charset_guess_docs).
_GUESS_ORDER = (
    ("SHIFT_JIS", "shift_jis"),
    ("EUC-KR", "euc_kr"),
    ("EUC-JP", "euc_jp"),
    ("Big5", "big5"),
    ("GBK", "gb18030"),
    ("KOI8-R", "koi8_r"),
)

# top-frequency characters per language (public corpus rankings);
# membership share over non-ASCII chars is the evidence signal
_COMMON_ZH_SIMP = frozenset(
    "的一是了我不人在他有这上们来到时大地为子中你说生国年着就那和要她"
    "出也得里后自以会家可下而过天去能对小多然于心学么之都好看起发当没"
    "成只如事把还用第样道想作种开美总从无情己面最女但现前些所同日手又"
    "行意动方期它头经长儿回位分爱老因很给名法间斯知世什两次使身者被高"
    "已亲其进此话常与活正感文数据标准编码字符集测试内容系统程序设计处理"
)
_COMMON_ZH_TRAD = frozenset(
    "的一是了我不人在他有這上們來到時大地為子中你說生國年著就那和要她"
    "出也得裡後自以會家可下而過天去能對小多然於心學麼之都好看起發當沒"
    "成只如事把還用第樣道想作種開美總從無情己面最女但現前些所同日手又"
    "行意動方期它頭經長兒回位分愛老因很給名法間斯知世什兩次使身者被高"
    "已親其進此話常與活正感文數據標準編碼字符集測試內容系統網頁瀏覽器應用程式"
)
# top-12 letters only (~72% of Russian letter mass): a full-alphabet
# set scores koi8 garbage nearly as well as real text, since GB/Big5
# byte pairs land all over the koi8 letter region
_COMMON_RU = frozenset("оеаинтсрвлкм")

_KANA = ((0x3040, 0x309F), (0x30A0, 0x30FF))
_HAN = ((0x4E00, 0x9FFF),)
_HANGUL = ((0xAC00, 0xD7AF),)
# koi8_r maps half its table to box-drawing/technical glyphs — garbage
# decodes are full of them, real Russian text has none
_BOXDRAW = ((0x2300, 0x25FF),)


def _shares(text: str):
    """Per-signal shares over the NON-ASCII chars (ascii digits/punct/
    markup would otherwise dilute every candidate equally)."""
    chars = [ch for ch in text if ord(ch) > 127]
    if not chars:
        return None
    n = len(chars)

    def in_ranges(ranges):
        return sum(1 for ch in chars if any(a <= ord(ch) <= b for a, b in ranges)) / n

    def in_set(s):
        return sum(1 for ch in chars if ch.lower() in s) / n

    return {
        "kana": in_ranges(_KANA),
        "han": in_ranges(_HAN),
        "hangul": in_ranges(_HANGUL),
        "zh_simp": in_set(_COMMON_ZH_SIMP),
        "zh_trad": in_set(_COMMON_ZH_TRAD),
        "ru": in_set(_COMMON_RU) - in_ranges(_BOXDRAW),
    }


def _guess_score(name: str, text: str) -> float:
    s = _shares(text)
    if s is None:
        return 0.0
    if name in ("SHIFT_JIS", "EUC-JP"):
        # kana is the distinctive Japanese signal; garbage Han from a
        # misread GB/Big5 stream has (almost) none
        return s["kana"] + 0.3 * s["han"] * (1.0 if s["kana"] > 0.05 else 0.3)
    if name == "GBK":
        return s["zh_simp"] + 0.25 * s["han"]
    if name == "Big5":
        return s["zh_trad"] + 0.25 * s["han"]
    if name == "EUC-KR":
        return s["hangul"]
    if name == "KOI8-R":
        return s["ru"]
    return 0.0

_PY_CODEC = {
    "UTF-8": "utf-8",
    "GBK": "gb18030",
    "Big5": "big5",
    "SHIFT_JIS": "shift_jis",
    "EUC-KR": "euc_kr",
    "EUC-JP": "euc_jp",
    "KOI8-R": "koi8_r",
    "ISO-8859-1": "latin-1",
    # BOM-guessed payloads must decode (the python utf-16 codec consumes
    # the BOM the guesser keyed on)
    "UTF-16": "utf-16",
}


def convert_charset_py(c: str) -> str:
    """convertCharset (charset.go:196-222) in Python (same aliases as
    the column version in charset.py)."""
    c = (c or "").strip().upper()
    if not c:
        return ""
    if c in ("UTF8", "UTF_8"):
        return "UTF-8"
    if c.startswith("GB"):
        return "GBK"
    if c.startswith("BIG5"):
        return "Big5"
    if c.startswith("SHIFT"):
        return "SHIFT_JIS"
    # detector-output aliases (chardet/charset_normalizer report MS
    # codepage names for the same families)
    ms = {
        "CP932": "SHIFT_JIS", "MS932": "SHIFT_JIS", "WINDOWS-31J": "SHIFT_JIS",
        "CP936": "GBK", "MS936": "GBK", "CP950": "Big5",
        "CP949": "EUC-KR", "UHC": "EUC-KR", "MS949": "EUC-KR",
    }
    return ms.get(c, c)


def _guess(data: bytes) -> str:
    """chardet slot (charset.go:183-193)."""
    if data.startswith(b"\xff\xfe") or data.startswith(b"\xfe\xff"):
        return "UTF-16"
    # deterministic try-decode cascade first (known CJK/cyrillic
    # families, frequency-weighted scores — see _guess_score)
    best_name, best_score = "", 0.0
    for name, codec in _GUESS_ORDER:
        try:
            text = data.decode(codec)
        except Exception:  # noqa: BLE001
            continue
        score = _guess_score(name, text)
        if score > best_score + 1e-9:
            best_name, best_score = name, score
    if best_name and best_score >= 0.2:
        return best_name
    # statistical fallback (the chardet slot X5)
    if _cn is not None:
        best = _cn.from_bytes(data).best()
        if best and best.encoding:
            return convert_charset_py(best.encoding.upper())
    return best_name


def sniff_charset(data: bytes | None, declared: str | None = None) -> tuple[str, str, str | None]:
    """Full Charset() decision; returns (charset, pos, decoded_text)."""
    if not data:
        return "", "", None
    try:
        return "UTF-8", "valid", data.decode("utf-8")
    except UnicodeDecodeError:
        pass
    # embedded declaration (html5 then html4-nested, charset.go:112-180;
    # first-occurrence tie-break :161-175 — scan order implements it)
    m5 = _RE_HTML5.search(data)
    m4 = _RE_HTML4.search(data)
    decl = None
    if m5 and (not m4 or m5.start() <= m4.start()):
        decl = m5.group(1)
    elif m4:
        inner = _RE_CHARSET.search(m4.group(0))
        if inner:
            decl = inner.group(1)
    c_html = convert_charset_py(decl.decode("ascii", "ignore")) if decl else ""
    c_header = convert_charset_py(declared) if declared else ""
    # CharsetFromHeaderHtml conflict rule (charset.go:70-106): only one
    # present -> it wins; both equal -> header; both differ -> html wins
    # ONLY when the header is an ISO/WINDOWS family, else header wins.
    if c_header and not c_html:
        picks = [(c_header, "header")]
    elif c_html and not c_header:
        picks = [(c_html, "html")]
    elif c_header and c_html:
        if c_header == c_html:
            picks = [(c_header, "header")]
        elif c_header.startswith("ISO") or c_header.startswith("WINDOWS"):
            picks = [(c_html, "html"), (c_header, "header")]
        else:
            picks = [(c_header, "header"), (c_html, "html")]
    else:
        picks = []
    # decode-fallback is ours (the reference decides the label without
    # decoding): if the winner's codec can't decode the payload, try the
    # loser, then the statistical guess.
    for cs, pos in picks:
        text = _try_decode(data, cs)
        if text is not None:
            return cs, pos, text
    cs = _guess(data)
    if cs:
        return cs, "guess", _try_decode(data, cs)
    return "", "", None


def _try_decode(data: bytes, charset: str) -> str | None:
    codec = _PY_CODEC.get(charset)
    if codec is None:
        return None
    try:
        return data.decode(codec)
    except Exception:  # noqa: BLE001
        return None


SNIFF_SCHEMA = StructType(
    [
        StructField("charset", StringType()),
        StructField("charset_pos", StringType()),
        StructField("decoded_text", StringType()),
    ]
)


def _sniff_row(b, declared) -> tuple:
    # bytes(): the decode attempts call bytes.decode, which a zero-copy
    # memoryview lacks
    return sniff_charset(None if b is None else bytes(b), declared)


def sniff_charset_udf(*cols) -> Column:
    """sniff_charset over (data binary, declared string) columns, as a
    SNIFF_SCHEMA struct."""
    return row_udf(_sniff_row, SNIFF_SCHEMA)(*cols)
