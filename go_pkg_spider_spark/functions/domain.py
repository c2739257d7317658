"""Domain parsing (etld+1) + host metadata — column expressions with a
broadcast public-suffix table.

Recasts:
- DomainParse/DomainTop (/root/reference/extract/domain.go:16-63, F16):
  the Go version uses golang.org/x/net/publicsuffix. Two forms here:
  (a) `domain_parse` column expression against the curated multi-level
      subset below — cheap plans, covers every reference fixture
      (domain_test.go:8-58);
  (b) `with_domain_parsed` DataFrame operator against the FULL public
      suffix list (loaded from the OS copy of publicsuffix.org data,
      /usr/share/publicsuffix/public_suffix_list.dat) as a broadcast
      suffix dim with wildcard/exception semantics — the SURVEY §2.8
      'broadcast PSL suffix table + longest-suffix join' design, used
      when real-world coverage matters more than a literal-only plan.
  tests/test_psl.py checks it against a pure-Python resolver of the
  same algorithm.
- HostGovCountryMap + MetaFromHost (/root/reference/extract/meta.go:
  7-72, 75-183, J4): gov-TLD -> country/category plus the (tld, lang)
  conjunction rules as one F.when chain.
"""

from __future__ import annotations

import os
from functools import lru_cache
from itertools import chain

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from ..session import local_frame

# PSL subset: multi-level public suffixes (longest-match wins; a plain
# single-label TLD is the fallback). Extend freely — lookup is O(#levels).
MULTI_SUFFIXES: tuple[str, ...] = (
    # cn second-level
    "ac.cn", "com.cn", "edu.cn", "gov.cn", "net.cn", "org.cn", "mil.cn",
    # regional cn (wh.cn is NOT public — the reference's fixtures treat
    # a.wh.cn as sub=a domain=wh tld=cn)
    # uk / jp / kr / mo / hk / tw families
    "co.uk", "org.uk", "gov.uk", "ac.uk", "me.uk",
    "co.jp", "or.jp", "ne.jp", "ac.jp", "go.jp",
    "co.kr", "or.kr", "go.kr", "ac.kr",
    "gov.mo", "org.mo", "com.mo", "edu.mo",
    "com.hk", "gov.hk", "org.hk", "edu.hk",
    "com.tw", "gov.tw", "org.tw", "edu.tw",
    # misc seen in fixtures / common
    "com.au", "gov.au", "org.au", "com.br", "gov.br", "com.sg", "gov.sg",
    "co.in", "gov.in", "com.mx", "com.ar", "com.tr", "gov.tr",
)

GOV_COUNTRY_MAP: dict[str, str] = {
    # /root/reference/extract/meta.go:7-72 (verbatim)
    "hk": "中国", "tw": "中国", "mo": "中国", "jp": "日本", "kr": "韩国",
    "in": "印度", "uk": "英国", "us": "美国", "it": "意大利", "es": "西班牙",
    "ru": "俄罗斯", "de": "德国", "fr": "法国", "th": "泰国", "vn": "越南",
    "sg": "新加坡", "au": "澳大利亚", "ca": "加拿大", "il": "以色列",
    "mm": "缅甸", "dz": "阿尔及利亚", "pl": "波兰", "az": "南非",
    "ng": "尼日利亚", "kp": "朝鲜", "lb": "黎巴嫩", "ua": "乌克兰",
    "tr": "土耳其", "se": "瑞典", "lk": "斯里兰卡", "si": "斯洛文尼亚",
    "sk": "斯洛伐克", "ro": "罗马尼亚", "pt": "葡萄牙", "ph": "菲律宾",
    "pk": "巴基斯坦", "py": "巴拉圭", "np": "尼泊尔", "ma": "摩洛哥",
    "my": "马来西亚", "lt": "立陶宛", "ie": "爱尔兰", "iq": "伊拉克",
    "ir": "伊朗", "id": "印度尼西亚", "hu": "匈牙利", "gr": "希腊",
    "eg": "埃及", "cz": "捷克", "hr": "克罗地亚", "co": "哥伦比亚",
    "cl": "智利", "br": "巴西", "bg": "保加利亚", "be": "比利时",
    "bd": "孟加拉国", "aw": "阿鲁巴", "am": "亚美尼亚", "ai": "安圭拉",
    "ao": "安哥拉", "al": "阿尔巴尼亚", "af": "阿富汗", "sa": "沙特阿拉伯",
    "nl": "荷兰",
}


# ---------------------------------------------------------------------------
# Full public-suffix list (publicsuffix.org data, shipped by the OS)
# ---------------------------------------------------------------------------

PSL_PATHS = (
    "/usr/share/publicsuffix/public_suffix_list.dat",
    "/etc/java-17-openjdk/security/public_suffix_list.dat",
)


@lru_cache(maxsize=1)
def load_psl() -> tuple[frozenset[str], frozenset[str], frozenset[str]]:
    """(normal_rules, wildcard_bases, exception_rules) from the full PSL.
    Wildcards are stored as their base ('*.ck' -> 'ck'); exceptions
    without the '!'. Falls back to the curated subset when no PSL file
    ships (normal rules only)."""
    for path in PSL_PATHS:
        if os.path.exists(path):
            normal, wild, exc = set(), set(), set()
            with open(path, encoding="utf-8") as f:
                for line in f:
                    line = line.strip()
                    if not line or line.startswith("//"):
                        continue
                    if line.startswith("!"):
                        exc.add(line[1:])
                    elif line.startswith("*."):
                        wild.add(line[2:])
                    else:
                        normal.add(line)
            return frozenset(normal), frozenset(wild), frozenset(exc)
    return (
        frozenset(MULTI_SUFFIXES) | {s.rsplit(".", 1)[1] for s in MULTI_SUFFIXES},
        frozenset(),
        frozenset(),
    )


def psl_rules_df(spark) -> DataFrame:
    """The PSL as a broadcast-able join dim: (join_key, labels, kind)
    where kind 0=normal (suffix == join_key, suffix_len = labels),
    1=wildcard (matching the BASE means suffix_len = matched_k + 1),
    2=exception (prevailing suffix_len = labels - 1)."""
    normal, wild, exc = load_psl()
    rows = (
        [(s, s.count(".") + 1, 0) for s in normal]
        + [(s, s.count(".") + 1, 1) for s in wild]
        + [(s, s.count(".") + 1, 2) for s in exc]
    )
    schema = StructType(
        [
            StructField("join_key", StringType()),
            StructField("labels", IntegerType()),
            StructField("kind", IntegerType()),
        ]
    )
    return local_frame(spark, rows, schema)


MAX_SUFFIX_LABELS = 5  # longest PSL rules are 4 labels; +1 margin


def with_domain_parsed(
    df: DataFrame, host_col: str, out_col: str = "domain_parsed"
) -> DataFrame:
    """Adds struct(subdomain, domain, tld) resolved against the FULL
    PSL. Shape: derive the distinct-host dim, explode each host's last-k
    label candidates (k <= 5), broadcast-join the PSL rules, take the
    prevailing rule per host (exception beats longest), rejoin on host.

    At 10^12 rows the distinct-host dim is the natural unit to persist/
    bucket; the PSL side is ~15k rows and always broadcasts."""
    h = F.lower(F.trim(F.col(host_col)))
    hosts = df.select(h.alias("_h")).where(F.col("_h").isNotNull()).distinct()
    labels = F.split(F.col("_h"), r"\.")
    n = F.size(labels)
    cand_structs = F.array(
        *[
            F.struct(
                F.lit(k).alias("k"),
                F.when(
                    n >= k, F.array_join(F.slice(labels, n - k + 1, k), ".")
                ).alias("cand"),
            )
            for k in range(1, MAX_SUFFIX_LABELS + 1)
        ]
    )
    cands = hosts.select(
        "_h",
        F.size(labels).alias("_n"),
        F.explode(F.filter(cand_structs, lambda c: c["cand"].isNotNull())).alias("c"),
    )
    rules = psl_rules_df(df.sparkSession)
    joined = cands.join(
        F.broadcast(rules), cands["c"]["cand"] == rules["join_key"], "left"
    )
    # effective suffix length of this (candidate, rule) match; exceptions
    # prevail via a rank offset far above any real label count
    eff = (
        F.when(F.col("kind") == 2, F.col("labels") - 1)
        .when(F.col("kind") == 1, F.col("c")["k"] + 1)
        .when(F.col("kind") == 0, F.col("labels"))
    )
    # wildcard base match must be exact (cand == base) — kind 1 joined on
    # the base itself, so c.k == labels holds by construction
    rank = F.when(F.col("kind") == 2, F.lit(1_000_000) + eff).otherwise(eff)
    best = joined.groupBy("_h", "_n").agg(
        F.coalesce(F.max_by(eff, rank), F.lit(1)).alias("_slen")
    )
    labels_b = F.split(F.col("_h"), r"\.")
    nb = F.col("_n")
    sl = F.col("_slen")
    parsed = best.select(
        "_h",
        F.when(
            nb > sl,
            F.struct(
                F.when(
                    nb - sl > 1, F.array_join(F.slice(labels_b, 1, nb - sl - 1), ".")
                )
                .otherwise("")
                .alias("subdomain"),
                F.try_element_at(labels_b, nb - sl).alias("domain"),
                F.array_join(
                    F.slice(labels_b, nb - sl + 1, sl), "."
                ).alias("tld"),
            ),
        ).alias(out_col),
    )
    return df.join(parsed, h == parsed["_h"], "left").drop("_h")


def domain_parse(host: Column) -> Column:
    """struct(subdomain, domain, tld) with longest-suffix semantics:
    if the host ends with a known multi-level public suffix, tld = that
    suffix; else tld = last label. domain = label before the tld;
    subdomain = the rest.

    Expression hygiene: `labels` and `last2` are LET-BOUND (lambda
    variables, functions/expr_utils.let_col) and the suffix test is one
    `isin`. The old form — a 40-arm OR chain where every arm embedded
    its own copy of the split/concat tree, then multiplied per field
    reference — cost ~1.4ms/row through meta_from_host (7s for a 5k-row
    projection); this form is ~60x smaller and sub-0.5s."""
    from .expr_utils import let_col

    h = F.lower(F.trim(host))

    def body(labels: Column) -> Column:
        n = F.size(labels)
        # try_element_at: single-label hosts must yield NULL, not an ANSI
        # out-of-bounds error (Spark 4 defaults to ANSI mode)
        last2 = F.concat_ws(
            ".",
            F.try_element_at(labels, F.lit(-2)),
            F.try_element_at(labels, F.lit(-1)),
        )

        def body2(l2: Column) -> Column:
            is_multi = l2.isin(*MULTI_SUFFIXES)
            tld = F.when(is_multi & (n >= 3), l2).otherwise(
                F.try_element_at(labels, F.lit(-1))
            )
            dom_idx = F.when(is_multi & (n >= 3), n - 2).otherwise(n - 1)
            domain = F.try_element_at(labels, dom_idx)
            sub = F.when(
                dom_idx > 1, F.array_join(F.slice(labels, 1, dom_idx - 1), ".")
            ).otherwise(F.lit(""))
            valid = (n >= 2) & (F.length(domain) > 0)
            return F.when(
                valid,
                F.struct(
                    sub.alias("subdomain"), domain.alias("domain"), tld.alias("tld")
                ),
            )

        return let_col(last2, body2)

    return let_col(F.split(h, r"\."), body)


def domain_top(host: Column) -> Column:
    """DomainTop: '<domain>.<tld>' or NULL (domain.go:17-23)."""
    d = domain_parse(host)
    return F.when(d.isNotNull(), F.concat_ws(".", d["domain"], d["tld"]))


def meta_from_host(host: Column, lang: Column) -> Column:
    """MetaFromHost (meta.go:75-183): struct(country, province, category)
    — gov-TLD rules first, then (suffix, lang) conjunctions, all ''
    when nothing matches (reference returns empty strings)."""
    from .expr_utils import let_col

    h = F.lower(F.trim(host))
    gov_map = F.create_map(
        *[F.lit(x) for x in chain.from_iterable(GOV_COUNTRY_MAP.items())]
    )

    def body(tld: Column) -> Column:
        gov_cc = F.when(tld.startswith("gov."), F.substring(tld, 5, 10))

        def body2(gov_country: Column) -> Column:
            def suffix_rule(suffix, lang_val, country, province=""):
                return (h.endswith(suffix) & (lang == lang_val), country, province)

            rules = [
                suffix_rule(".hk", "zh", "中国", "中国香港"),
                suffix_rule(".tw", "zh", "中国", "中国台湾"),
                suffix_rule(".mo", "zh", "中国", "中国澳门"),
                suffix_rule(".cn", "zh", "中国"),
                suffix_rule(".jp", "ja", "日本"),
                suffix_rule(".kr", "ko", "韩国"),
                suffix_rule(".uk", "en", "英国"),
                suffix_rule(".us", "en", "美国"),
                suffix_rule(".in", "hi", "印度"),
                suffix_rule(".es", "es", "西班牙"),
                suffix_rule(".ru", "ru", "俄罗斯"),
                suffix_rule(".de", "de", "德国"),
                suffix_rule(".fr", "fr", "法国"),
            ]
            gov_province = (
                F.when(h.endswith(".hk") & (lang == "zh"), "中国香港")
                .when(h.endswith(".tw") & (lang == "zh"), "中国台湾")
                .when(h.endswith(".mo") & (lang == "zh"), "中国澳门")
                .otherwise("")
            )
            # flat coalesce over independent branches — never nest a
            # when-chain inside itself (exponential expression-tree
            # growth OOMs the driver at plan build); tld / gov_country
            # are let-bound so their trees appear ONCE, not per branch
            country_branches = [
                F.when(tld == "gov", "美国"),
                F.when(gov_country.isNotNull(), gov_country),
            ] + [F.when(cond, c) for cond, c, _ in rules]
            province_branches = [
                F.when(tld == "gov", ""),
                F.when(gov_country.isNotNull(), gov_province),
            ] + [F.when(cond, p) for cond, _, p in rules]
            category = F.when(
                (tld == "gov") | gov_country.isNotNull(), "政务"
            ).otherwise("")
            return F.struct(
                F.coalesce(*country_branches, F.lit("")).alias("country"),
                F.coalesce(*province_branches, F.lit("")).alias("province"),
                category.alias("category"),
            )

        return let_col(gov_map[gov_cc], body2)

    return let_col(F.coalesce(domain_parse(h)["tld"], F.lit("")), body)
