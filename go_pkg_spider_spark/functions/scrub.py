"""PII / boilerplate scrub: an ordered regex bank applied as a chained
`regexp_replace` projection.

Shaped on the reference's ordered, capture-group regex families
(SURVEY.md §2.8 F10/F14):
- ICP licence trio (/root/reference/extract/icp.go:56-58) — kept
  verbatim (they ARE PII-adjacent licence identifiers).
- publish-date family (/root/reference/extract/content.go:23-47) — the
  zh/en/US date-time shapes, reused as scrub patterns.
- URL filter shapes (/root/reference/extract/web.go:15,19-27) — embedded
  URLs with blacklisted extensions / IP hosts.
- New PII classes in the same ordered-regex idiom: emails, international
  phone numbers.

The bank order is FROZEN (most-specific first) because replacements are
byte-stable goldens (BASELINE.md 'scrub fidelity: exact match'). Every
pattern is written in the common Java/RE2 subset so the DuckDB oracle
can run the identical pattern.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

_PROV = "(京|津|冀|晋|蒙|辽|吉|黑|沪|苏|浙|皖|闽|赣|鲁|豫|鄂|湘|粤|桂|琼|川|蜀|贵|黔|云|滇|渝|藏|陇|甘|陕|秦|青|宁|新)"

# (name, pattern, replacement) — applied strictly in order.
SCRUB_BANK: list[tuple[str, str, str]] = [
    # ICP trio, icp.go:56-58 (case-insensitivity irrelevant: CJK + upper)
    ("icp_ga", _PROV + "公网安备[0-9]+号?", "[ICP]"),
    ("icp", _PROV + "ICP(备|证|备案)?[0-9]+号?", "[ICP]"),
    ("icp_dx", _PROV + "B2-[0-9]+号?", "[ICP]"),
    # zh publish-prefix + date (content.go:44-47 RegexZhPublishDate shape)
    (
        "zh_pub_date",
        "(发布|创建|出版|发表|编辑)?(时间|日期)[:： ]{1,8}20[1-3][0-9][-/年.](0[1-9]|1[0-2]|[1-9])[-/月.](0[1-9]|[1-2][0-9]|3[0-1]|[1-9])日?( ?([0-1]?[0-9]|2[0-3])[:点时][0-5]?[0-9][:分]?([0-5]?[0-9]秒?)?)?",
        "[DATE]",
    ),
    # full date-time (content.go:23 RegexPublishDate shape, simplified to
    # the common-dialect subset; optional time part)
    (
        "datetime",
        "20[1-3][0-9][-/年.](0[1-9]|1[0-2]|[1-9])[-/月.](0[1-9]|[1-2][0-9]|3[0-1]|[1-9])日?([ T]?([0-1]?[0-9]|2[0-3])[:点时][0-5]?[0-9]([:分][0-5]?[0-9]秒?)?( ?(UTC|GMT|[+-][0-9]{2}:?[0-9]{2}|Z))?)?",
        "[DATE]",
    ),
    # US date (content.go:38 RegexEnUsPublishDate shape)
    (
        "us_date",
        "(0[1-9]|1[0-2]|[1-9])/(0[1-9]|[1-2][0-9]|3[0-1]|[1-9])/20[1-3][0-9]( ([0-1]?[0-9]|2[0-3]):[0-5]?[0-9](:[0-5]?[0-9])?)?",
        "[DATE]",
    ),
    # emails (new PII class, ordered-regex idiom)
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
    # cn 18-digit national ID (before phones: contains phone-shaped
    # digit runs)
    (
        "cn_id",
        "[1-9][0-9]{5}(18|19|20)[0-9]{2}(0[1-9]|1[0-2])(0[1-9]|[12][0-9]|3[01])[0-9]{3}[0-9Xx]",
        "[ID]",
    ),
    # payment-card shapes (before phones: dashed groups overlap)
    ("card", "\\b[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{2,4}\\b", "[CARD]"),
    # international phone (new PII class)
    ("phone", "\\+?[0-9]{1,3}[- ]?\\(?[0-9]{2,4}\\)?[- ][0-9]{3,4}[- ][0-9]{3,4}", "[PHONE]"),
    # cn mobile
    ("cn_phone", "1[3-9][0-9]{9}", "[PHONE]"),
    # embedded URLs (web.go:19-27 suffix blacklist folded into one class:
    # any URL is scrubbed; blacklisted-extension URLs first for
    # labeling). URLs go before bare IPs so an IP-hosted URL scrubs
    # whole.
    ("url", "https?://[^ \t\n]+", "[URL]"),
    # bare IPv4 (web.go:15 RegexHostnameIp shape, word-bounded)
    ("ip", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "[IP]"),
]


def scrub(col: Column) -> Column:
    """Apply the full bank in frozen order; NULL-safe."""
    c = col
    for _, pat, repl in SCRUB_BANK:
        c = F.regexp_replace(c, pat, repl)
    return c


def oracle_scrub_sql(expr: str) -> str:
    """The identical bank as a nested DuckDB regexp_replace chain (RE2
    dialect, 'g' flag) for oracle parity."""
    out = expr
    for _, pat, repl in SCRUB_BANK:
        p = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{p}', '{repl}', 'g')"
    return out


def bank_fingerprint() -> str:
    """Stable fingerprint of the frozen bank (names, patterns,
    replacements, order). Folded into composed-job params_sigs so a
    bank edit invalidates every committed bucket/stage on resume."""
    import hashlib

    payload = "\x1f".join("\x1e".join(t) for t in SCRUB_BANK)
    return hashlib.sha256(payload.encode("utf-8")).hexdigest()[:16]
