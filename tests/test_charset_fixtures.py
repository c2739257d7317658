"""charset_guess_docs fixture integrity: every expectation is ground
truth by construction (known text encoded with a known codec); the
live sniffer must reproduce it WITHOUT ever reaching the
charset_normalizer statistical fallback (whose answer depends on the
installed library version and therefore may not influence a frozen
oracle)."""

from __future__ import annotations

import pytest

from go_pkg_spider_spark.fixtures.charset_fixtures import FIXTURES
from go_pkg_spider_spark.functions import charset_bytes as cb


def test_fixtures_match_ground_truth():
    for fid, data, decl, ec, ep, et in FIXTURES:
        c, p, t = cb.sniff_charset(data, decl)
        assert (c, p, t) == (ec, ep, et), f"fid {fid}: ({c},{p}) != ({ec},{ep})"


def test_no_fixture_reaches_statistical_fallback(monkeypatch):
    """The _cn branch is the only nondeterministic-under-upgrade code
    path; prove no fixture row can enter it."""

    class _Boom:
        @staticmethod
        def from_bytes(_):
            raise AssertionError("fixture row reached charset_normalizer")

    monkeypatch.setattr(cb, "_cn", _Boom)
    for fid, data, decl, ec, ep, et in FIXTURES:
        assert cb.sniff_charset(data, decl) == (ec, ep, et)


def test_misread_streams_do_not_win():
    """The failure class the frequency scoring fixed: a wrong-codec
    decode that is byte-valid must not outrank the true codec."""
    zh = "汉语国家标准编码字符集测试文本内容数据处理系统程序设计"
    gb = zh.encode("gb18030")
    # GB bytes decode validly under euc_jp as pure-Han garbage
    assert gb.decode("euc_jp")
    assert cb._guess(gb) == "GBK"
    ru = "русскийтекстпроверкакодировкиданныхсистемы"
    # koi8_r bytes decode under permissive gb18030 as Han garbage
    assert ru.encode("koi8_r").decode("gb18030")
    assert cb._guess(ru.encode("koi8_r")) == "KOI8-R"
    # and the reverse: GB bytes read as koi8_r are 100% cyrillic
    # garbage yet must stay GBK
    assert all(ord(ch) > 127 for ch in gb.decode("koi8_r"))
    assert cb._guess(gb) == "GBK"


@pytest.mark.parametrize(
    "text,codec,want",
    [
        ("東京都内の主要な駅で新しい案内表示が始まりました", "shift_jis", "SHIFT_JIS"),
        ("東京都内の主要な駅で新しい案内表示が始まりました", "euc_jp", "EUC-JP"),
        ("서울시내 주요 역에서 새로운 안내 표지판 설치", "euc_kr", "EUC-KR"),
        ("北京市政府今天召开新闻发布会介绍相关情况", "gb18030", "GBK"),
        ("臺北市政府今天召開記者會說明相關情況", "big5", "Big5"),
        ("сегодня в москве прошла встреча по вопросам науки", "koi8_r", "KOI8-R"),
    ],
)
def test_guess_families_out_of_fixture(text, codec, want):
    """Held-out phrases (not in the fixture corpus) — the scoring must
    generalize, not memorize the fixture strings."""
    assert cb._guess(text.encode(codec)) == want
