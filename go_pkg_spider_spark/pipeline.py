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
scrubbed_transcript, lang, lang_pos, ppl, quality_score. Per-clip audio
scalars come from operators/audio_features, not from this pipeline.

Scale design: the whole per-clip path is ONE narrow stage (zero
shuffles) with exactly ONE Python round trip (operators/fused.py — the
single-pass computeInfo discipline of the reference; three separate
UDF eval nodes measured kernel-bound at local[32]). Partition count is
inherited from the source scan; `repartition_salted` is available for
writers that need balanced output files despite long-clip skew.

The plan is built once per SparkContext: the first call for a
(SparkContext, min_chars, max_chars) key builds the
Columns of every step (`_plan`), and every later call (each
ManifestedRun wave, each streaming micro-batch) only applies them:
building them takes 3,200-3,900 py4j calls and 0.5-0.7 s at local[4],
applying them under 100 calls.
"""

from __future__ import annotations

import functools

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, functions as F

from .functions import charset as cs
from .functions import langid, rules, scrub, tokens
from .functions.textnorm import strip_markup
from .operators import fused as fused_op


def is_valid_utf8(transcript: Column) -> Column:
    """UTF-8 validity fast path (charset.go:43-47). Transcripts arrive as
    Spark strings (already unicode) — validity = non-null. Kept as a
    column so byte-payload variants can swap in a real try-decode."""
    return transcript.isNotNull()


def run_pipeline(
    clips: DataFrame,
    min_chars: int = 64,
    max_chars: int = 1_000_000,
) -> DataFrame:
    steps, cols = _plan(clips.sparkSession.sparkContext, min_chars, max_chars)
    df = clips
    for step in steps:
        df = df.withColumns(step)
    return df.select(*cols)


@functools.lru_cache(maxsize=8)
def _plan(
    sc: SparkContext, min_chars: int, max_chars: int
) -> tuple[list[dict[str, Column]], list[Column]]:
    """The pipeline's Columns, built once per (SparkContext, knobs):
    the projections run_pipeline applies in order, one withColumns each,
    and its output select. A step is a projection because a later step
    reads its columns several times; an expensive value read inline
    would be recomputed at every read. The fused UDF's Column is bound
    to `sc` (its accumulator), so a new context builds new Columns; the
    cache keeps 8 keys, so a stopped context's Columns are dropped as
    new keys arrive."""
    transcript = F.col("transcript")
    t = F.coalesce(transcript, F.lit(""))
    lang_res, fused = F.col("lang_res"), F.col("fused")
    pre_drop, drop_reason = F.col("pre_drop"), F.col("drop_reason")
    qs = tokens.quality_score_steps("transcript")
    # P1 tag-strip before any scoring (spider.go:137 invariant): lang
    # detection and classification see markup-free text; the scrub
    # output stays derived from the raw transcript. The lang-independent
    # guards (`pre_drop`) run once, on the raw transcript: they mask the
    # ppl input and lead the drop-reason chain.
    steps = [
        {
            "charset_res": cs.charset_of(F.col("codec"), is_valid_utf8(transcript)),
            "content_text": strip_markup(transcript),
            "pre_drop": rules.lang_independent_drop(t, min_chars, max_chars),
            **qs[0],
        },
        # cheap lang rules (charset map -> body cascade), sentinels and
        # the cleaned chunk for the model
        {
            "lang_res": langid.lang_cascade(
                F.col("content_text"), charset=F.col("charset_res")["charset"]
            ),
            **qs[1],
        },
        # ONE Python round trip: decode + model langid (residual rows
        # only) + ppl (rows passing the lang-independent guards only)
        {
            "fused": fused_op.fused_model_arrow_udf(
                F.col("bytes"),
                F.col("codec"),
                F.col("sr_hz"),
                *langid.model_inputs(lang_res),
                F.when(pre_drop.isNull(), t),
            ),
            **qs[2],
        },
        # resolve sentinels with the model's answer (provenance 'lingua')
        {"lang_res": langid.resolve_model_lang(lang_res, fused["model_lang"])},
        # title-style classification of the markup-stripped content (only
        # 'content' survives). The guards must NOT rerun on content_text:
        # oracle_decide guards the raw transcript only, and a raw>=64 /
        # content<64 row would diverge ('too_short' vs classified) — the
        # frozen-oracle lockstep invariant. link_type is its own
        # projection: class_reason reads it twice.
        {
            "link_type": rules.classify_title(
                F.trim(F.col("content_text")), lang_res["lang"], full_len=None
            )
        },
    ]
    # full keep/drop: decode failure -> lang-independent guards ->
    # classification
    lt = F.col("link_type")
    decode_reason = F.when(~fused["ok"], F.concat(F.lit("decode_"), fused["err"]))
    class_reason = F.when(lt != rules.TYPE_CONTENT, F.concat(F.lit("class_"), lt))
    steps.append({"drop_reason": F.coalesce(decode_reason, pre_drop, class_reason)})
    # scrub + surface ppl for kept rows only
    keep = drop_reason.isNull()
    out = {
        "clip_id": F.col("clip_id"),
        "keep": keep,
        "drop_reason": drop_reason,
        "scrubbed_transcript": F.when(keep, scrub.scrub(transcript)),
        "lang": lang_res["lang"],
        "lang_pos": lang_res["lang_pos"],
        "ppl": F.when(keep, fused["ppl"]),
        "quality_score": F.col("quality_score"),
    }
    return steps, [out[name].alias(name) for name in OUTPUT_COLUMNS]


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
