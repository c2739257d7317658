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

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

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


@F.pandas_udf(BEST_MATCH_SCHEMA)
def best_match_udf(candidates: pd.Series, target: pd.Series) -> pd.DataFrame:
    rows = []
    for cands, t in zip(candidates, target):
        best, best_r = None, 0.0
        # Arrow hands arrays as numpy ndarrays — no truthiness
        for c in (cands if cands is not None else []):
            r = similarity_ratio(c, t)
            if r > best_r:
                best, best_r = c, r
        rows.append((best, round(best_r, 6)))
    return pd.DataFrame(rows, columns=["best", "ratio"])
