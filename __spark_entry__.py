"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship quality-filter query over the sf0.001
documents corpus (the transcript stand-in table); `queries()` /
`oracle_sql()` expose every implemented operator family from
SURVEY.md §2 — ALL entries have DuckDB oracle twins (the LSH/ANN family
derives its signatures from md5_number_upper-compatible hashes, see
go_pkg_spider_spark/oracle_sql_gen.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full text-leg quality-filter pipeline (lang rules ->
    model residual -> keep/drop -> scrub -> quality + ppl) over
    sf0.001/documents.parquet. The model residual and ppl come from one
    pass of the fused UDF, as in pipeline.run_pipeline: ppl is scored for
    rows that pass the lang-independent guards and surfaced for kept
    rows."""
    from go_pkg_spider_spark.functions import langid, rules, scrub, tokens
    from go_pkg_spider_spark.operators.fused import fused_text_udf

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    t = F.coalesce(F.col("text"), F.lit(""))
    # the lang-independent guards run once, as in run_pipeline: they
    # mask the ppl input and lead the drop-reason chain
    df = d.withColumns(
        {
            "lang_res": langid.body_lang_rules(F.col("text")),
            "pre_drop": rules.lang_independent_drop(t, min_chars=64),
        }
    )
    pre_drop = F.col("pre_drop")
    model_text, marker = langid.model_inputs(F.col("lang_res"))
    df = df.withColumn(
        "fused", fused_text_udf(model_text, marker, F.when(pre_drop.isNull(), t))
    ).withColumn(
        "lang_res",
        langid.resolve_model_lang(F.col("lang_res"), F.col("fused")["model_lang"]),
    )
    kd = rules.keep_drop(F.col("text"), F.col("lang_res")["lang"], pre_drop=pre_drop)
    # drop_reason is its own projection: keep reads it again
    df = (
        df.withColumn("drop_reason", kd["drop_reason"])
        .withColumn("keep", F.col("drop_reason").isNull())
        .withColumn(
            "scrubbed_text", F.when(F.col("keep"), scrub.scrub(F.col("text")))
        )
        .withColumn("ppl", F.when(F.col("keep"), F.col("fused")["ppl"]))
    )
    df = tokens.with_quality_score(df, "text")
    return df.select(
        "doc_id",
        "keep",
        "drop_reason",
        F.col("lang_res")["lang"].alias("lang"),
        F.col("lang_res")["lang_pos"].alias("lang_pos"),
        "scrubbed_text",
        "quality_score",
        "ppl",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from go_pkg_spider_spark.entry_queries import all_queries

    return all_queries()


def oracle_sql() -> dict[str, str]:
    from go_pkg_spider_spark.entry_queries import all_oracles

    return all_oracles()
