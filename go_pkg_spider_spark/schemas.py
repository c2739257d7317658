"""Fixed, declared schemas (the Go-struct discipline of the reference,
SURVEY.md §1.2 — schemas are declared, never inferred)."""

from __future__ import annotations

from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# BASELINE.json input_hint
CLIPS_SCHEMA = StructType(
    [
        StructField("clip_id", StringType()),
        StructField("bytes", BinaryType()),
        StructField("sr_hz", IntegerType()),
        StructField("dur_ms", IntegerType()),
        StructField("codec", StringType()),
        StructField("transcript", StringType()),
    ]
)

