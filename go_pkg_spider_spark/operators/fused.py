"""Fused model stage: decode + langid-model + perplexity in ONE
Arrow-batched UDF.

The reference computes every per-page statistic in a single DOM pass
(computeInfo, /root/reference/extract/content.go:1020-1065); the Spark
analog (SURVEY.md §4 'single-pass ... compute all features in ONE
pandas UDF returning a struct') matters even more at high parallelism:
each ArrowEvalPython node is its own python-worker pool + localhost
socket round trip, and three separate nodes measured ~85% kernel time
at local[32] (fork/socket/page churn). One fused node cuts python
round trips 3x and never ships `bytes` past the first hop.

Inputs: bytes/codec/sr_hz (decode), cleaned text + NEEDS_MODEL marker
(langid residual, langid.model_inputs), the transcript of rows that
pass the lang-independent guards (ppl). Output: one struct column
(ok, err, model_lang, ppl): the decode verdict, the model's language
and the perplexity. The PCM never leaves `_fused_row`; the per-clip
audio scalars are operators/audio_features' job.

It is the only UDF that runs the langid model and the perplexity LM.
Text-only callers (entry(), tools/model_accuracy.py) go through
`fused_text_udf`, which passes NULL audio; the audio_decode_docs entry
passes NULL text.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from ..functions.langid import (
    LATIN_SET,
    NEEDS_MODEL_LATIN,
    OTHER_SET,
    _score_text,
)
from ..functions.perplexity import _ppl_one
from ..session import row_udf
from .decode import decode_blob

FUSED_SCHEMA = StructType(
    [
        StructField("ok", BooleanType()),
        StructField("err", StringType()),
        StructField("model_lang", StringType()),
        StructField("ppl", DoubleType()),
    ]
)


def _fused_row(b, c, s, mt, mk, pt) -> tuple:
    """One output row; b may be bytes OR a zero-copy memoryview (every
    decoder indexes/slices/frombuffers, which both types support)."""
    pcm, _, err = decode_blob(b, c, s)
    model_lang = None
    if mt is not None and mk is not None:
        langs = LATIN_SET if mk == NEEDS_MODEL_LATIN else OTHER_SET
        model_lang = _score_text(mt, langs)
    ppl = _ppl_one(pt) if pt else None
    return (pcm is not None, err, model_lang, ppl)


def fused_model_arrow_udf(*cols: Column) -> Column:
    """The fused UDF over (bytes, codec, sr_hz, model_text, marker,
    ppl_text): `_fused_row` through session.row_udf, a new UDF object
    per call for the active SparkContext. The ~100KB binary payloads
    reach it as zero-copy memoryviews instead of Python bytes objects
    (the round-4 profile attributed ~85% of the stage to that
    serialization; the Arrow transport won the round-5 A/B,
    BENCH/R5_NOTES.md). One plan node (ArrowEvalPython), no pandas on
    either side."""
    return row_udf(_fused_row, FUSED_SCHEMA)(*cols)


def fused_text_udf(model_text: Column, marker: Column, ppl_text: Column) -> Column:
    """The fused UDF with NULL bytes/codec/sr_hz, for callers that have
    text only: decode answers `empty_bytes` before any work, so only
    `model_lang` and `ppl` carry information. The NULL blob is typed
    binary because session.row_udf reads a binary column's buffers."""
    return fused_model_arrow_udf(
        F.lit(None).cast("binary"),
        F.lit(None).cast("string"),
        F.lit(None).cast("int"),
        model_text,
        marker,
        ppl_text,
    )
