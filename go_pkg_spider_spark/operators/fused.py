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
(langid residual), raw transcript + maybe_keep (ppl). Output: one
struct column with audio features, model_lang, ppl.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
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
from .decode import DECODE_SCHEMA, _features, decode_blob

FUSED_SCHEMA = StructType(
    list(DECODE_SCHEMA.fields)
    + [
        StructField("model_lang", StringType()),
        StructField("ppl", DoubleType()),
    ]
)


def _fused_row(b, c, s, mt, mk, pt) -> tuple:
    """One output row; b may be bytes OR a zero-copy memoryview (every
    decoder indexes/slices/frombuffers, which both types support)."""
    pcm, sr, err = decode_blob(b, c, s)
    if pcm is None:
        audio = (False, err, 0, 0, 0.0, 0.0, 0.0, 0.0, 0.0)
    else:
        audio = (True, None, *_features(pcm, sr))
    model_lang = None
    if mt is not None and mk is not None:
        langs = LATIN_SET if mk == NEEDS_MODEL_LATIN else OTHER_SET
        model_lang = _score_text(mt, langs)
    ppl = _ppl_one(pt) if pt else None
    return (*audio, model_lang, ppl)


def _binary_views(arr):
    """Zero-copy per-row memoryviews over a pyarrow Binary array (None
    for null rows). to_pandas()/as_py() copy every ~100KB payload into a
    fresh Python bytes object — measured ~18ms per 256-row batch, about
    the cost of the decode work itself; the views cost ~0.07ms."""
    n = len(arr)
    bufs = arr.buffers()
    if bufs[2] is None:
        return [None] * n
    width = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    offs = np.frombuffer(bufs[1], dtype=width, count=arr.offset + n + 1)
    # cast('B'): pyarrow buffers expose format 'b' (SIGNED bytes); the
    # decoders index lookup tables with these values and must see the
    # same unsigned 0..255 ints a bytes object yields (ADVICE r5)
    mv = memoryview(bufs[2]).cast("B")
    if arr.null_count:
        nulls = arr.is_null().to_numpy(zero_copy_only=False)
    else:
        nulls = None
    out = []
    for i in range(n):
        if nulls is not None and nulls[i]:
            out.append(None)
            continue
        o0, o1 = offs[arr.offset + i], offs[arr.offset + i + 1]
        out.append(mv[o0:o1])
    return out


@F.arrow_udf(FUSED_SCHEMA)
def fused_model_arrow_udf(
    blob: pa.Array,
    codec: pa.Array,
    sr_hz: pa.Array,
    model_text: pa.Array,
    marker: pa.Array,
    ppl_text: pa.Array,
) -> pa.Array:
    """The fused stage on raw Arrow batches: the ~100KB binary payloads
    are read as zero-copy memoryviews instead of being materialized
    into a pandas Series of bytes objects (the round-4 profile
    attributed ~85% of the stage to that serialization; the Arrow
    transport won the round-5 A/B, BENCH/R5_NOTES.md). One plan node
    (ArrowEvalPython), row semantics in _fused_row, no pandas on either
    side."""
    rows = [
        _fused_row(b, c, s, mt, mk, pt)
        for b, c, s, mt, mk, pt in zip(
            _binary_views(blob),
            codec.to_pylist(),
            sr_hz.to_pylist(),
            model_text.to_pylist(),
            marker.to_pylist(),
            ppl_text.to_pylist(),
        )
    ]
    cols = list(zip(*rows)) if rows else [[] for _ in FUSED_SCHEMA.fields]
    arrow_types = [
        pa.bool_(), pa.string(), pa.int32(), pa.int32(),
        pa.float64(), pa.float64(), pa.float64(), pa.float64(),
        pa.float64(), pa.string(), pa.float64(),
    ]
    return pa.StructArray.from_arrays(
        [pa.array(list(c), t) for c, t in zip(cols, arrow_types)],
        names=[f.name for f in FUSED_SCHEMA.fields],
    )
