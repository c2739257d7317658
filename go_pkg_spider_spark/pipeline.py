"""The end-to-end quality-filter pipeline (north_rule):

    clips(clip_id, bytes, sr_hz, dur_ms, codec, transcript)
      -> charset stage (valid-utf8 fast path + codec normalization)
      -> language-ID cheap rules (JVM column expressions)
      -> ONE fused Arrow UDF: audio decode + n-gram langid model (only
         rows the rules left unresolved) + perplexity (only rows the
         lang-independent guards would keep)
      -> keep/drop rule chain with drop_reason
      -> PII scrub (frozen regex bank)

Output schema (SURVEY.md §1.2): clip_id, keep, drop_reason,
scrubbed_transcript, lang, lang_pos, ppl, quality_score (+ feature
structs for metrics).

Scale design: the whole per-clip path is ONE narrow stage (zero
shuffles) with exactly ONE Python round trip (operators/fused.py — the
single-pass computeInfo discipline of the reference; three separate
UDF eval nodes measured kernel-bound at local[32]). Partition count is
inherited from the source scan; `repartition_salted` is available for
writers that need balanced output files despite long-clip skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .functions import charset as cs
from .functions import langid, quality, rules, scrub, tokens
from .operators import fused


def is_valid_utf8(transcript: Column) -> Column:
    """UTF-8 validity fast path (charset.go:43-47). Transcripts arrive as
    Spark strings (already unicode) — validity = non-null. Kept as a
    column so byte-payload variants can swap in a real try-decode."""
    return transcript.isNotNull()


def with_charset(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "charset_res", cs.charset_of(F.col("codec"), is_valid_utf8(F.col("transcript")))
    )


def run_pipeline(
    clips: DataFrame,
    min_chars: int = 64,
    max_chars: int = 1_000_000,
    with_features: bool = False,
) -> DataFrame:
    df = with_charset(clips)

    # P1 tag-strip before any scoring (spider.go:137 invariant): lang
    # detection and classification see markup-free text; the scrub
    # output stays derived from the raw transcript.
    from .functions.textnorm import strip_markup

    df = df.withColumn("content_text", strip_markup(F.col("transcript")))

    # cheap lang rules (charset map -> body cascade), sentinels for model
    df = df.withColumn(
        "lang_res",
        langid.lang_cascade(
            F.col("content_text"), charset=F.col("charset_res")["charset"]
        ),
    )

    t = F.coalesce(F.col("transcript"), F.lit(""))
    pre_drop = rules.lang_independent_drop(t, min_chars, max_chars)
    model_text, marker = langid.model_inputs(
        F.col("lang_res"), F.col("content_text")
    )

    # ONE Python round trip: decode + model langid (residual rows only)
    # + ppl (rows passing the lang-independent guards only)
    df = df.withColumn(
        "fused",
        fused.fused_model_arrow_udf(
            F.col("bytes"),
            F.col("codec"),
            F.col("sr_hz"),
            model_text,
            marker,
            F.when(pre_drop.isNull(), t),
        ),
    )
    df = df.withColumn("audio", F.struct(*[F.col("fused")[f.name].alias(f.name) for f in fused.DECODE_SCHEMA.fields]))

    # resolve sentinels with the model's answer (provenance 'lingua')
    df = df.withColumn(
        "lang_res",
        langid.resolve_model_lang(F.col("lang_res"), F.col("fused")["model_lang"]),
    )

    # full keep/drop: decode failure -> lang-independent guards (on the
    # RAW transcript, exactly once) -> title-style classification of the
    # markup-stripped content (only 'content' survives). The guards must
    # NOT rerun on content_text: oracle_decide guards the raw transcript
    # only, and a raw>=64 / content<64 row would diverge ('too_short' vs
    # classified) — the frozen-oracle lockstep invariant.
    # link_type materializes FIRST and everything downstream references
    # the column: the classify_title tree is non-cheap and
    # multi-referenced (class_reason + reason + keep + output), so
    # inlining it re-embedded the whole cascade ~4x in the plan;
    # referencing the aliased column keeps one copy (CollapseProject
    # preserves non-cheap multi-referenced aliases).
    df = df.withColumn(
        "link_type",
        rules.classify_title(
            F.trim(F.col("content_text")), F.col("lang_res")["lang"], full_len=None
        ),
    )
    lt = F.col("link_type")
    class_reason = F.when(
        lt != rules.TYPE_CONTENT, F.concat(F.lit("class_"), lt)
    )
    decode_reason = F.when(
        ~F.col("audio")["ok"], F.concat(F.lit("decode_"), F.col("audio")["err"])
    )
    df = df.withColumn(
        "drop_reason", F.coalesce(decode_reason, pre_drop, class_reason)
    ).withColumn("keep", F.col("drop_reason").isNull())

    # scrub + surface ppl for kept rows only
    df = df.withColumn(
        "scrubbed_transcript", F.when(F.col("keep"), scrub.scrub(F.col("transcript")))
    ).withColumn("ppl", F.when(F.col("keep"), F.col("fused")["ppl"]))

    df = df.withColumn("lang", F.col("lang_res")["lang"]).withColumn(
        "lang_pos", F.col("lang_res")["lang_pos"]
    )
    df = tokens.with_quality_score(df, "transcript")
    cols = list(OUTPUT_COLUMNS)
    if with_features:
        df = df.withColumn("qf", quality.quality_features(F.col("transcript")))
        cols += ["qf", "audio", "link_type"]
    return df.select(*cols)


OUTPUT_COLUMNS = [
    "clip_id",
    "keep",
    "drop_reason",
    "scrubbed_transcript",
    "lang",
    "lang_pos",
    "ppl",
    "quality_score",
]


def repartition_salted(df: DataFrame, num_partitions: int, salt_buckets: int = 8) -> DataFrame:
    """Skew-safe repartition for writers: hash(clip_id) striped with a
    length-tier salt so long-transcript rows spread across buckets
    (SURVEY.md §4.1). Deterministic (no rand())."""
    salt = F.pmod(
        F.xxhash64(F.col("clip_id"), F.length(F.coalesce(F.col("transcript"), F.lit("")))),
        F.lit(salt_buckets),
    )
    return df.repartition(
        num_partitions, F.pmod(F.hash("clip_id"), F.lit(num_partitions)), salt
    )
