"""Link classification two-pass flow (LinkTypes,
/root/reference/extract/link.go:62-253) on a synthesized link table."""

from __future__ import annotations

import pytest

from go_pkg_spider_spark.operators import links


@pytest.fixture(scope="module")
def zh_links(spark):
    rows = [
        # content-shaped zh anchors with date paths (site news.cn)
        ("http://news.cn/politics/2022-10/03/c_112.htm", "今天发生了一件重要的新闻事件报道"),
        ("http://news.cn/politics/2022-10/04/c_113.htm", "专家表示这一事件具有重要意义所在"),
        ("http://news.cn/politics/2022-10/05/c_114.htm", "相关部门已经采取若干措施保障民生"),
        ("http://news.cn/politics/2022-10/06/c_115.htm", "未来几天还将持续有更多后续报道出现"),
        # unknown (short, no punct) WITH date path -> promoted by A5
        ("http://news.cn/politics/2022-10/07/c_116.htm", "新闻快报当日情"),
        # content-shaped anchor WITHOUT date path -> demoted to list
        ("http://news.cn/special/topic.html", "这是一个没有日期路径的长标题内容页报道"),
        # list-shaped (few han)
        ("http://news.cn/sports/", "体育"),
        # licence boilerplate -> none (pass 3)
        ("http://news.cn/about/2022-10/08/icp.htm", "本站持有信息服务许可证编号可查询详情"),
        # rejected: bad extension
        ("http://news.cn/files/report.pdf", "一份需要下载的重要报告文件内容详情"),
        # rejected: ip host
        ("http://1.2.3.4/a/2022-10/03/x.htm", "来自裸地址服务器的一条新闻报道内容"),
        # index path -> none
        ("http://news.cn/index.html", "首页"),
        # subdomain link
        ("http://sports.news.cn/games/2022-10/03/g_1.htm", "运动会比赛结果公布现场报道详情内容"),
    ]
    return spark.createDataFrame(rows, "url string, anchor_title string")


def test_two_pass_classification(spark, zh_links):
    out = links.classify_links(zh_links, lang="zh").collect()
    by_url = {r.url: r for r in out}

    # pass 1 keeps long-zh anchors as content
    assert by_url["http://news.cn/politics/2022-10/03/c_112.htm"].link_type == "content"
    # A5 promotion: unknown + date path under a date-heavy site -> content
    assert by_url["http://news.cn/politics/2022-10/07/c_116.htm"].link_type == "content"
    # content WITHOUT a date path is NOT demoted (linkTypePathProcess
    # only resolves List/Unknown and demotes path-LESS content,
    # link.go:178-252)
    assert by_url["http://news.cn/special/topic.html"].link_type == "content"
    # licence blacklist -> none (it had a date path + content shape)
    assert by_url["http://news.cn/about/2022-10/08/icp.htm"].link_type == "none"
    # rejects carry reasons and type none
    assert by_url["http://news.cn/files/report.pdf"].reject_reason == "invalid url with suffix"
    assert by_url["http://news.cn/files/report.pdf"].link_type == "none"
    assert by_url["http://1.2.3.4/a/2022-10/03/x.htm"].reject_reason == "invalid url with ip hostname"
    # index path -> none
    assert by_url["http://news.cn/index.html"].link_type == "none"
    # subdomain flag
    assert by_url["http://sports.news.cn/games/2022-10/03/g_1.htm"].is_subdomain


def test_top_paths_branch(spark):
    """Branch B (link.go:213-236): no date signature, but >=8 content
    rows share a first path segment -> unknowns under that segment
    promote; others resolve to list."""
    content = [
        (f"http://site.cn/zixun/a{i}/article{i}.html", "今天发生了一件重要的新闻事件报道")
        for i in range(8)
    ]
    rows = content + [
        # unknown (han>5, len<8, no punct), first seg in topPaths
        ("http://site.cn/zixun/b/short.html", "新闻快报当日情"),
        # unknown, first seg NOT in topPaths -> list
        ("http://site.cn/other/short.html", "新闻快报当日情"),
        # content with no path -> demoted to unknown by the cleanup
        ("http://site.cn/", "这是一个很长的中文内容标题报道详情"),
    ]
    df = spark.createDataFrame(rows, "url string, anchor_title string")
    from go_pkg_spider_spark.operators import links as L

    out = {r.url: r.link_type for r in L.classify_links(df, lang="zh").collect()}
    assert out["http://site.cn/zixun/b/short.html"] == "content"
    assert out["http://site.cn/other/short.html"] == "list"
    assert out["http://site.cn/"] == "none"  # index-path rule fires first


def test_buckets_and_subdomains(spark, zh_links):
    out = links.classify_links(zh_links, lang="zh").collect()
    # every link lands in exactly one of the four LinkRes buckets
    assert len(out) == zh_links.count()
    assert {r.link_type for r in out} <= {"content", "list", "unknown", "none"}
    subs = {r.host for r in out if r.is_subdomain and r.domain_top == "news.cn"}
    assert subs == {"sports.news.cn"}


def test_broadcast_in_plan(spark, zh_links):
    out = links.classify_links(zh_links, lang="zh")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_root_dir_content_link_no_ansi_crash(spark):
    """ANSI regression (Spark 4 INVALID_ARRAY_INDEX_IN_ELEMENT_AT): a
    content/unknown link whose path.Dir is '/' yields an EMPTY first-
    segment array; bare element_at crashed the whole job. The site needs
    enough content rows to enter the branch-B segment logic."""
    rows = [
        (f"http://site.cn/zixun/a{i}/article{i}.html", "今天发生了一件重要的新闻事件报道")
        for i in range(8)
    ] + [
        # path '/c_999.htm' -> Dir '/', first_seg NULL
        ("http://site.cn/c_999.htm", "重要新闻事件的完整标题报道详情"),
        ("http://site.cn/x.htm", "新闻快报当日情"),  # unknown at root dir
    ]
    df = spark.createDataFrame(rows, "url string, anchor_title string")
    out = {r.url: r.link_type for r in links.classify_links(df, lang="zh").collect()}
    assert out["http://site.cn/c_999.htm"] in ("content", "unknown", "list")
    assert out["http://site.cn/x.htm"] in ("unknown", "list", "content")
