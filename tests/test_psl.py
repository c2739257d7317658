"""Full public-suffix list: every reference fixture
(/root/reference/extract/domain_test.go:8-58) plus wildcard/exception
rule coverage, for both the pure-Python resolver and the broadcast-join
DataFrame operator."""

from __future__ import annotations

from go_pkg_spider_spark.functions import domain


def psl_split(host: str) -> tuple[str, str, str] | None:
    """Pure-Python DomainParse against the full PSL: returns
    (subdomain, domain, tld) or None when the host has no registrable
    domain (it IS a public suffix, or is a single label). Algorithm per
    publicsuffix.org/list/: prevailing rule = matching exception (minus
    its leftmost label) if any, else the longest matching rule, else
    the implicit '*' (last label)."""
    normal, wild, exc = domain.load_psl()
    labels = [x for x in (host or "").lower().strip().split(".") if x != ""]
    n = len(labels)
    if n == 0:
        return None
    suffix_len = 1
    for k in range(1, n + 1):
        cand = ".".join(labels[n - k :])
        if cand in exc:
            suffix_len = k - 1
            break
        if cand in normal:
            suffix_len = max(suffix_len, k)
        if k >= 2 and ".".join(labels[n - k + 1 :]) in wild:
            suffix_len = max(suffix_len, k)
    if n <= suffix_len:
        return None
    tld = ".".join(labels[n - suffix_len :])
    dom = labels[n - suffix_len - 1]
    sub = ".".join(labels[: n - suffix_len - 1])
    return (sub, dom, tld)


# (host, (subdomain, domain, tld)) — derived by hand from the PSL rules
# (net.cn/ac.cn/gov.cn/gov.mo/or.jp/co.uk are public suffixes; wh.cn,
# mwr.cn, rcsd.cn, sohu.com are plain registrations under cn/com)
FIXTURES = {
    "www.net.cn": ("", "www", "net.cn"),
    "hi.chinanews.com": ("hi", "chinanews", "com"),
    "a.wh.cn": ("a", "wh", "cn"),
    "siat.ac.cn": ("", "siat", "ac.cn"),
    "abc.spring.io": ("abc", "spring", "io"),
    "abc.spring.ai": ("abc", "spring", "ai"),
    "www.china-embassy.or.jp": ("www", "china-embassy", "or.jp"),
    "whszdj.wh.cn": ("whszdj", "wh", "cn"),
    "gk.wh.cn": ("gk", "wh", "cn"),
    "xwxc.mwr.cn": ("xwxc", "mwr", "cn"),
    "legismac.safp.gov.mo": ("legismac", "safp", "gov.mo"),
    "dezhou.rcsd.cn": ("dezhou", "rcsd", "cn"),
    "www.gov.cn": ("", "www", "gov.cn"),
    "scopsr.gov.cn": ("", "scopsr", "gov.cn"),
    "usa.gov": ("", "usa", "gov"),
    "bbc.co.uk": ("", "bbc", "co.uk"),
    "dealer.auto.sohu.com": ("dealer.auto", "sohu", "com"),
    "bbs.sohu.com": ("bbs", "sohu", "com"),
    # wildcard rule *.ck and its exception !www.ck
    "www.ck": ("", "www", "ck"),
    "sub.www.ck": ("sub", "www", "ck"),
    "bar.foo.ck": ("", "bar", "foo.ck"),
    # exception !city.kawasaki.jp under wildcard *.kawasaki.jp
    "city.kawasaki.jp": ("", "city", "kawasaki.jp"),
    "x.city.kawasaki.jp": ("x", "city", "kawasaki.jp"),
}

NO_DOMAIN = ["cn", "gov.cn", "foo.ck", "other.kawasaki.jp", "co.uk", ""]


def test_psl_loaded_full():
    normal, wild, exc = domain.load_psl()
    assert len(normal) > 5000 and wild and exc  # the real list, not the subset


def test_psl_split_fixtures():
    for host, want in FIXTURES.items():
        assert psl_split(host) == want, host


def test_psl_split_public_suffix_hosts():
    for host in NO_DOMAIN:
        assert psl_split(host) is None, host


def test_with_domain_parsed_matches_python(spark):
    hosts = list(FIXTURES) + NO_DOMAIN
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    out = {
        r.host: r.domain_parsed
        for r in domain.with_domain_parsed(df, "host").collect()
    }
    for h in hosts:
        want = psl_split(h)
        got = out[h]
        if want is None:
            assert got is None, h
        else:
            assert (got.subdomain, got.domain, got.tld) == want, h


def test_with_domain_parsed_broadcasts_rules(spark):
    df = spark.createDataFrame([("www.net.cn",)], "host string")
    plan = (
        domain.with_domain_parsed(df, "host")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
