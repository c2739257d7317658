"""Similarity argmax (F15/A11)."""

from __future__ import annotations

from go_pkg_spider_spark.functions import simtext


def _best(spark, cands, target):
    df = spark.createDataFrame([(cands, target)], "c array<string>, t string")
    return df.select(simtext.best_match_udf("c", "t").alias("m")).collect()[0].m


def test_similarity_udf(spark):
    assert _best(spark, ["hello world"], "hello world").ratio == 1.0
    assert 0.5 < _best(spark, ["hello world"], "hella warld").ratio < 1.0
    none = _best(spark, [None], "x")
    assert (none.best, none.ratio) == (None, 0.0)


def test_best_matching_segment(spark):
    segs = ["completely unrelated line", "the actual news title here", "another line"]
    got = _best(spark, segs, "actual news title")
    assert got.best == "the actual news title here" and got.ratio > 0.5
    # an unrelated target scores under the 0.5 title gate
    assert _best(spark, segs, "zzzz qqqq").ratio < 0.5


def test_simtext_fixtures_match_difflib():
    """The frozen A11 oracle expectations must stay exactly what
    difflib.SequenceMatcher produces (argmax, first max wins, round 6)
    — guards fixture drift vs the UDF's definition."""
    from difflib import SequenceMatcher

    from go_pkg_spider_spark.fixtures.simtext_fixtures import FIXTURES

    assert len(FIXTURES) >= 40
    for fid, cands, target, exp_best, exp_ratio in FIXTURES:
        best, best_r = None, 0.0
        for c in cands:
            r = (
                SequenceMatcher(None, c, target).ratio()
                if c and target
                else 0.0
            )
            if r > best_r:
                best, best_r = c, r
        assert (best, round(best_r, 6)) == (exp_best, exp_ratio), fid
