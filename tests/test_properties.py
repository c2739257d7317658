"""Property-based parity tests (hypothesis): the Spark column
normalizations and the pure-Python oracle must agree on arbitrary
text, pinning the Java-vs-Python Unicode/regex dialect drift that
fixture goldens alone can miss (SURVEY.md §7 risk)."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from go_pkg_spider_spark import oracle
from go_pkg_spider_spark.functions import langid, scrub

# mixed-script text: latin, CJK, punctuation, whitespace, digits
TEXT = st.text(
    alphabet=st.one_of(
        st.characters(min_codepoint=0x20, max_codepoint=0x7E),
        st.characters(min_codepoint=0x4E00, max_codepoint=0x4E80),
        st.characters(min_codepoint=0x3040, max_codepoint=0x30FF),
        st.characters(min_codepoint=0xAC00, max_codepoint=0xAC80),
        st.sampled_from("，。；：？！（）“”\n\t "),
    ),
    max_size=300,
)


def _batch_eval(spark, texts, col_fn):
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    return [r.v for r in df.select(col_fn(F.col("t")).alias("v")).collect()]


@settings(max_examples=30, deadline=None, derandomize=True)
@given(st.lists(TEXT, min_size=1, max_size=20))
def test_clean_for_lang_parity(spark, texts):
    got = _batch_eval(spark, texts, langid.clean_for_lang)
    want = [oracle._clean_for_lang(t) for t in texts]
    assert got == want


@settings(max_examples=30, deadline=None, derandomize=True)
@given(st.lists(TEXT, min_size=1, max_size=20))
def test_scrub_parity(spark, texts):
    got = _batch_eval(spark, texts, scrub.scrub)
    want = [oracle.oracle_scrub(t) for t in texts]
    assert got == want


@settings(max_examples=30, deadline=None, derandomize=True)
@given(st.lists(TEXT, min_size=1, max_size=20))
def test_lang_rules_parity(spark, texts):
    """body_lang_rules cheap branches == oracle_lang (model handoffs
    normalized to the same sentinel)."""
    def spark_rule(c):
        r = langid.body_lang_rules(c)["lang"]
        return (
            F.when(r == langid.NEEDS_MODEL_LATIN, "model_latin")
            .when(r == langid.NEEDS_MODEL_OTHER, "model_other")
            .otherwise(r)
        )

    got = _batch_eval(spark, texts, spark_rule)
    want = []
    for t in texts:
        cleaned = oracle._clean_for_lang(t)
        if len(cleaned) < oracle.BODY_MIN_SIZE:
            want.append(None)
            continue
        han = sum(1 for c in cleaned if oracle._is_han(c))
        n = len(cleaned)
        if han and han / n >= 0.3:
            ja = sum(1 for c in cleaned if oracle._is_kana(c))
            want.append("ja" if ja and ja / han > 0.1 else "zh")
            continue
        en = sum(1 for c in cleaned if c.isascii() and c.isalpha())
        if en and en / n > 0.618:
            latin = sum(1 for c in cleaned if 0x80 <= ord(c) <= 0xFF)
            want.append("model_latin" if latin > 5 else "en")
            continue
        want.append("model_other")
    assert got == want


# date-ish text: digits, separators, zh date units, month names, noise
_DATE_TOKENS = st.sampled_from(
    list("0123456789") + list("-/.:年月日时点分秒 Tt,")
    + ["march", "jan", "sept", "发布时间", "日期", "pm", "x ", "2023", "05"]
)
DATE_TEXT = st.lists(_DATE_TOKENS, max_size=40).map("".join)


@settings(max_examples=30, deadline=None, derandomize=True)
@given(st.lists(DATE_TEXT, min_size=1, max_size=20))
def test_date_cascade_dialect_parity(spark, texts):
    """The publish-date cascade + normalize chain must agree between the
    Spark (Java regex) implementation and the DuckDB (RE2) oracle twin
    on ARBITRARY date-ish text — pinning the dialect beyond the
    extract_news_docs entry's fixed synthetic recipe."""
    import duckdb

    from go_pkg_spider_spark import oracle_sql_gen
    from go_pkg_spider_spark.functions import dates

    df = spark.createDataFrame([(t,) for t in texts], "pg string")
    ex = dates.extract_publish_date_raw(F.col("pg"))
    got = [
        (r.k, r.n)
        for r in df.select(
            ex["kind"].alias("k"),
            dates.normalize_date_string(ex["raw"]).alias("n"),
        ).collect()
    ]
    raw, kind = oracle_sql_gen.date_cascade_sql(dates.cascade_patterns(), "pg")
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INT, pg VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(texts)))
    want = [
        (r[0], r[1])
        for r in con.execute(
            f"SELECT {kind}, {oracle_sql_gen._norm_date_sql(raw)} FROM t ORDER BY i"
        ).fetchall()
    ]
    assert got == want


VEC = st.lists(
    st.integers(min_value=-2, max_value=2).map(float), min_size=4, max_size=4
)


@settings(max_examples=15, deadline=None, derandomize=True)
@given(st.lists(VEC, min_size=3, max_size=12))
def test_ivf_batch_full_probe_equals_brute_force(spark, vecs):
    """With every cell probed, batch IVF serving must equal exact
    brute-force top-k for every query — on adversarial inputs: tiny
    integer-valued vectors force cosine TIES, duplicate vectors, and
    zero vectors (the den>0 -> 0.0 guard on both paths)."""
    from go_pkg_spider_spark.operators import similarity

    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    k_cells = min(4, len(rows))
    cents = similarity.train_ivf_centroids_distributed(
        df, "embedding", "vec_id", k=k_cells, iters=1
    )
    queries = df.limit(0).unionByName(
        spark.createDataFrame(rows[:2], "vec_id long, embedding array<double>")
    ).select(F.col("vec_id").alias("qid"), "embedding")
    got = similarity.ivf_topk_batch(
        df, queries, "embedding", "vec_id", "qid", cents,
        k=3, n_probe=k_cells, round_digits=6,
    ).collect()
    for qid, qv in rows[:2]:
        mine = [
            (r.rk, r.vec_id, r.cosine_sim)
            for r in sorted((x for x in got if x.qid == qid), key=lambda x: x.rk)
        ]
        want = [
            (i + 1, r.vec_id, r.cosine_sim)
            for i, r in enumerate(
                similarity.brute_force_topk(
                    df, "embedding", "vec_id", qv, k=3, round_digits=6
                ).collect()
            )
        ]
        assert mine == want, f"qid={qid} vecs={vecs}"
