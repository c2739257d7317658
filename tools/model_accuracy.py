"""Measured accuracy contract for the langid cascade and the
perplexity LM (round 8, VERDICT r7 #2 — the ANN-recall precedent
applied to the last model slots whose quality was asserted by
construction rather than measured).

Both halves score through the fused Arrow UDF the pipeline runs, with
NULL audio (operators/fused.fused_text_udf).

Langid: runs the PRODUCTION cascade (functions/langid.lang_cascade with
charset='utf-8' + title column, model residual from langid.model_inputs
resolved by langid.resolve_model_lang) over the held-out corpus in
fixtures/langid_holdout.py
(authored disjoint from SEED_CORPUS; natural rows per language plus
threshold-straddling boundary rows) and reports per-language
precision/recall plus the confusion pairs.

Perplexity: scores every held-out sentence clean vs deterministically
shuffled (char-shuffle destroys trigram structure; word-shuffle only
breaks cross-word trigrams) and reports the concordance fraction
(ppl_shuffled > ppl_clean) and median ratio — the separation statistic
that makes the LM's "gibberish scores worse" contract measurable.

Prints one JSON line; the human-readable table lives in
BENCH/BASELINE.md. tests/test_model_accuracy.py pins floors.

Usage: python tools/model_accuracy.py
"""

from __future__ import annotations

import json
import sys
from collections import Counter

sys.path.insert(0, ".")


def run_langid(spark) -> dict:
    from pyspark.sql import functions as F

    from go_pkg_spider_spark.fixtures.langid_holdout import build_rows
    from go_pkg_spider_spark.functions import langid
    from go_pkg_spider_spark.operators.fused import fused_text_udf

    df = spark.createDataFrame(
        build_rows(), "lid long, true_lang string, title string, text string"
    )
    df = df.withColumn(
        "lang_res",
        langid.lang_cascade(
            F.col("text"), charset=F.lit("utf-8"), title=F.col("title")
        ),
    )
    model_text, marker = langid.model_inputs(F.col("lang_res"))
    df = df.withColumn(
        "fused", fused_text_udf(model_text, marker, F.lit(None).cast("string"))
    ).withColumn(
        "lang_res",
        langid.resolve_model_lang(F.col("lang_res"), F.col("fused")["model_lang"]),
    )
    rows = df.select(
        "lid", "true_lang", F.col("lang_res")["lang"].alias("pred")
    ).collect()

    tp: Counter = Counter()
    fp: Counter = Counter()
    fn: Counter = Counter()
    confusions: Counter = Counter()
    for r in rows:
        truth, pred = r["true_lang"], r["pred"]
        if pred == truth:
            tp[truth] += 1
        else:
            fn[truth] += 1
            if pred is not None:
                fp[pred] += 1
            confusions[f"{truth}->{pred}"] += 1
    langs = sorted({r["true_lang"] for r in rows})
    per_lang = {}
    for lang in langs:
        denom_p = tp[lang] + fp[lang]
        denom_r = tp[lang] + fn[lang]
        per_lang[lang] = {
            "support": denom_r,
            "precision": round(tp[lang] / denom_p, 4) if denom_p else None,
            "recall": round(tp[lang] / denom_r, 4) if denom_r else None,
        }
    n = len(rows)
    acc = sum(tp.values()) / n
    macro_r = sum(
        v["recall"] for v in per_lang.values() if v["recall"] is not None
    ) / len(langs)
    return {
        "rows": n,
        "accuracy": round(acc, 4),
        "macro_recall": round(macro_r, 4),
        "per_lang": per_lang,
        "confusions": dict(sorted(confusions.items())),
    }


_SCRIPT_GROUP = {
    "en": "latin", "fr": "latin", "de": "latin", "es": "latin",
    "pt": "latin",
    "ar": "other", "ru": "other", "hi": "other",
    "zh": "cjk", "ja": "cjk", "ko": "cjk",
}


def run_ppl(spark) -> dict:
    """Separation is reported PER SCRIPT GROUP because it is a property
    of the seed LM's trigram coverage, not of the scorer: latin /
    other-script rows have dense trigram hits (clean text scores far
    under shuffled); CJK rows are largely backoff-dominated (an
    out-of-vocabulary trigram scores the same shuffled or not), so
    clean-vs-gibberish separation there is WEAK by measurement — the
    production KenLM swap-in (functions/perplexity.py docstring) is
    required before ppl-gating CJK corpora. Word-shuffle is computed
    only over rows the shuffle actually changes (unspaced CJK text is
    identity) and is a measured NEGATIVE result: cross-word trigrams
    are too sparse in the seed LM to separate."""
    import numpy as np

    from go_pkg_spider_spark.fixtures.langid_holdout import (
        build_rows,
        shuffled_chars,
        shuffled_words,
    )
    from pyspark.sql import functions as F

    from go_pkg_spider_spark.operators.fused import fused_text_udf

    rows = [
        (lid, lang, text, shuffled_chars(text), shuffled_words(text))
        for lid, lang, _title, text in build_rows()
    ]
    df = spark.createDataFrame(
        rows, "lid long, lang string, clean string, sh_char string, sh_word string"
    )
    no_text = F.lit(None).cast("string")

    def ppl(col):
        return fused_text_udf(no_text, no_text, F.col(col))["ppl"]

    out = df.select(
        "lid",
        "lang",
        ppl("clean").alias("p_clean"),
        ppl("sh_char").alias("p_char"),
        ppl("sh_word").alias("p_word"),
    ).collect()

    def stats(rs, shuffled_key):
        pc = np.array([r["p_clean"] for r in rs])
        ps = np.array([r[shuffled_key] for r in rs])
        if len(rs) == 0:
            return {"rows": 0}
        return {
            "rows": len(rs),
            "concordance": round(float((ps > pc).mean()), 4),
            "median_ratio": round(float(np.median(ps / pc)), 3),
        }

    by_group: dict[str, list] = {"latin": [], "other": [], "cjk": []}
    for r in out:
        by_group[_SCRIPT_GROUP[r["lang"]]].append(r)
    word_rows = [
        r
        for r, row in zip(out, rows)
        if row[4] != row[2]  # word shuffle actually changed the text
    ]
    return {
        "rows": len(out),
        "char_shuffle": {
            "overall": stats(out, "p_char"),
            **{g: stats(rs, "p_char") for g, rs in by_group.items()},
        },
        "word_shuffle_nonidentity": stats(word_rows, "p_word"),
        "median_ppl_clean": round(
            float(np.median([r["p_clean"] for r in out])), 2
        ),
    }


def main() -> None:
    from go_pkg_spider_spark.session import get_spark

    spark = get_spark(app_name="model-accuracy")
    spark.sparkContext.setLogLevel("ERROR")
    result = {"langid": run_langid(spark), "perplexity": run_ppl(spark)}
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
