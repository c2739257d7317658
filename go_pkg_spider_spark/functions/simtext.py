"""Text-similarity argmax (F15/A11) — fun.SimilarityText
(/root/reference/extract/content.go:820, 887, 963, 999, 1151) as a
vectorized per-row candidate-argmax UDF (the selector of the title
cascade's getTitleByEditDistance :956-978, h1/h2 match :876-925).

Per-row candidates only (no cross-row work, no shuffle): the UDF takes
(candidates array, target) and returns the best candidate + its ratio.
difflib.SequenceMatcher.ratio plays the reference's
longest-common-substring similarity role; thresholds stay the caller's.
"""

from __future__ import annotations

from difflib import SequenceMatcher

from pyspark.sql import Column
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from ..session import row_udf

BEST_MATCH_SCHEMA = StructType(
    [
        StructField("best", StringType()),
        StructField("ratio", DoubleType()),
    ]
)


def similarity_ratio(a: str | None, b: str | None) -> float:
    if not a or not b:
        return 0.0
    return SequenceMatcher(None, a, b).ratio()


def best_match(cands, t) -> tuple:
    best, best_r = None, 0.0
    for c in cands or []:
        r = similarity_ratio(c, t)
        if r > best_r:
            best, best_r = c, r
    return best, round(best_r, 6)


def best_match_udf(*cols) -> Column:
    """best_match over (candidates array<string>, target string)
    columns, as a BEST_MATCH_SCHEMA struct."""
    return row_udf(best_match, BEST_MATCH_SCHEMA)(*cols)
