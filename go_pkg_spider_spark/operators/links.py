"""Link-table classification — the full LinkTypes flow
(/root/reference/extract/link.go:62-253) as one DataFrame operator:

input:  links(url, anchor_title) + page lang (+ optional host rules)
pass 0: URL validity filter (P2) with reject reasons (the `Filters`
        map, spider.go:30)
pass 1: per-link classification (LinkIsContentByTitle) + is_subdomain
pass 2: per-site statistics (publishProb A5, topPaths A6) broadcast-
        rejoined to reclassify (linkTypePathProcess link.go:155-253)
pass 3: zh licence-blacklist demotion (linkClean link.go:139-153)

Output: one DataFrame with link_type + reject_reason columns — the four
reference buckets are filter() views on link_type (SURVEY.md §1.1
LinkRes mapping).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions import rules
from ..functions.domain import domain_top


def _path_of(url: Column) -> Column:
    return F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit(""))


def _host_of(url: Column) -> Column:
    return F.coalesce(F.parse_url(url, F.lit("HOST")), F.lit(""))


def classify_links(
    links: DataFrame,
    lang: str,
    url_col: str = "url",
    title_col: str = "anchor_title",
    publish_threshold: float = 0.7,
) -> DataFrame:
    """Returns links + (reject_reason, link_type, host, domain_top,
    is_subdomain, path). Rows with a reject_reason have link_type
    'none' (filterUrl losers never reach classification, matching
    WebLinkTitles -> LinkTypes order, web.go:187-239)."""
    url, title = F.col(url_col), F.col(title_col)
    host = _host_of(url)
    path = _path_of(url)
    dtop = domain_top(host)
    site = F.coalesce(dtop, host)

    df = links.withColumn("reject_reason", rules.url_filter_reason(url))
    df = df.withColumn("host", host).withColumn("domain_top", dtop)
    df = df.withColumn(
        "is_subdomain", F.coalesce(host != dtop, F.lit(False))
    ).withColumn("path", path).withColumn("site", site)

    # pass 1: classification; index-path/no-path -> none (link.go:283-287)
    base_type = F.when(
        F.col("reject_reason").isNotNull() | rules.is_index_path(path), "none"
    ).otherwise(rules.classify_title(title, F.lit(lang), full_len=url))
    df = df.withColumn("link_type", base_type)

    # pass 2: site statistics rejoin (A5: publishProb over content rows)
    df = _reclassify_by_publish_prob(df, publish_threshold)

    # pass 3: zh licence blacklist demotes content -> none (link.go:139-153)
    if lang == "zh":
        df = df.withColumn(
            "link_type",
            F.when(
                (F.col("link_type") == "content")
                & rules.is_licence_boilerplate(title),
                "none",
            ).otherwise(F.col("link_type")),
        )
    return df.drop("site")


def path_dir(path: Column) -> Column:
    """Go path.Dir semantics on the URL path (link.go:92, 181):
    Dir('/a/b/c.htm')='/a/b', Dir('/a/')='/a', Dir('/a')='/',
    Dir('/')='/', Dir('')='.'."""
    p = F.trim(path)
    p = F.when(p == "", ".").otherwise(F.regexp_replace(p, "/+$", ""))
    p = F.when(p == "", "/").otherwise(p)  # was all slashes
    parent = F.regexp_extract(p, r"^(.*)/[^/]*$", 1)
    return (
        F.when(p == ".", ".")
        .when(~p.contains("/"), ".")
        .when(parent == "", "/")
        .otherwise(parent)
    )


def _first_seg(p: Column) -> Column:
    # try_element_at: under Spark 4 ANSI mode a bare element_at throws
    # INVALID_ARRAY_INDEX_IN_ELEMENT_AT on the empty array (path '/')
    return F.try_element_at(F.filter(F.split(p, "/"), lambda s: s != ""), F.lit(1))


def _reclassify_by_publish_prob(df: DataFrame, threshold: float) -> DataFrame:
    """linkTypePathProcess (link.go:155-253), exact semantics:

    stats over the site's content rows — publishProb = share whose
    path.Dir (cleaned of .-_) matches the date regex; topPaths = first
    path segments with count>1 and share>0.4 when content_count>=8.

    branch A (publishProb > 0.7): list rows with date-dir and title>=2
    runes promote to content; unknown rows all resolve — date-dir &
    title>=2 -> content, else list.
    branch B (else, topPaths non-empty): unknown rows WITH a path
    resolve — first segment in topPaths & title>=2 -> content, else
    list (path-less unknowns stay unknown).
    cleanup (link.go:238-252): when the site has a path signature at
    all, content rows without any path demote to unknown.

    Per-site stats are one row per site -> broadcast rejoin."""
    # Materialize the three derived features ONCE as named columns (the
    # fd4899c pattern): binding them as Python Column objects re-inlined
    # the whole path.Dir CASE tree at every reference — ~24 copies of
    # the parent regex in the physical plan (measured; round-4 verdict
    # finding #1). Multi-referenced non-cheap aliases survive
    # CollapseProject, so the tree now appears once per DAG branch.
    df = (
        df.withColumn("_dir", path_dir(F.col("path")))
        .withColumn(
            "_has_date",
            F.regexp_replace(F.col("_dir"), r"[.\-_]", "").rlike(
                rules.URL_PUBLISH_DATE_RE
            ),
        )
        .withColumn("_seg", _first_seg(F.col("_dir")))
    )
    has_date = F.col("_has_date")
    seg = F.col("_seg")

    content = df.filter(F.col("link_type") == "content")
    # ONE corpus-grain aggregation at (site, seg) — null segs keep
    # their own group so row-level stats stay exact — then the site
    # totals derive from the (tiny) seg-grain rows. The previous shape
    # aggregated the content rows TWICE (row-grain publishProb + seg-
    # grain counts): two full scans of the classified corpus where one
    # suffices — at 10^12 links that is a third of the job's IO.
    seg_grain = content.groupBy("site", seg.alias("seg")).agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(has_date.cast("int")).alias("hd"),
    )
    # Round 9: the site totals AND the top-paths set now come out of ONE
    # site-grain aggregation over the (tiny) seg-grain rows. The old
    # shape ran two aggregations plus a broadcast join (base, tops,
    # base JOIN tops) — three extra stages and two extra broadcast
    # builds of pure scheduling latency (measured: the entry dropped
    # ~1s at sf1.0, identical rows). The top-paths filter moves into a
    # window over the same site partitioning (sum(c)/sum(hd) are exact
    # integer sums, so publish_prob's double division is bit-identical),
    # and collect_set ignores the NULLed-out non-qualifying segs.
    from pyspark.sql import Window

    w_site = Window.partitionBy("site")
    site_rows = seg_grain.select(
        "site",
        "seg",
        "c",
        F.sum("hd").over(w_site).alias("_hd_tot"),
        F.sum("c").over(w_site).alias("_c_tot"),
    )
    qual_seg = F.when(
        F.col("seg").isNotNull()
        & (F.col("_c_tot") >= 8)
        & (F.col("c") > 1)
        & (F.col("c") / F.col("_c_tot") > 0.4),
        F.col("seg"),
    )
    stats = site_rows.groupBy("site").agg(
        # == avg(has_date) over rows: sum of per-seg date counts over
        # the row count (exact same double division)
        (F.first("_hd_tot") / F.first("_c_tot")).alias("publish_prob"),
        F.first("_c_tot").alias("content_count"),
        F.collect_set(qual_seg).alias("_tops_raw"),
    ).withColumn(
        # empty set -> NULL top_paths (the old left join's no-tops-row
        # shape, which downstream coalesces to [])
        "top_paths",
        F.when(F.size(F.col("_tops_raw")) > 0, F.col("_tops_raw")),
    ).drop("_tops_raw")

    out = df.join(F.broadcast(stats), "site", "left")
    strong = F.coalesce(F.col("publish_prob") > threshold, F.lit(False))
    top_paths = F.coalesce(F.col("top_paths"), F.array().cast("array<string>"))
    has_tops = F.size(top_paths) > 0
    title_ok = F.length(F.col("anchor_title")) >= 2
    in_tops = F.array_contains(top_paths, F.coalesce(seg, F.lit("\x00")))
    t = F.col("link_type")
    no_path = (
        (F.trim(F.col("path")) == "") | (F.trim(F.col("path")) == "/") | seg.isNull()
    )

    new_type = (
        # branch A
        F.when(strong & (t == "list") & has_date & title_ok, "content")
        .when(strong & (t == "unknown") & has_date & title_ok, "content")
        .when(strong & (t == "unknown"), "list")
        # branch B (only rows that HAVE a path resolve)
        .when(
            ~strong & has_tops & (t == "unknown") & seg.isNotNull() & in_tops & title_ok,
            "content",
        )
        .when(~strong & has_tops & (t == "unknown") & seg.isNotNull(), "list")
        # content no-path cleanup
        .when((t == "content") & (strong | has_tops) & no_path, "unknown")
        .otherwise(t)
    )
    return out.withColumn("link_type", new_type).drop(
        "publish_prob", "content_count", "top_paths", "_dir", "_has_date", "_seg"
    )
