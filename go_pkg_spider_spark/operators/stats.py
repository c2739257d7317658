"""Grouped statistics: gap sessionization and the two-pass per-group
z-score. The reference's per-site link statistics (A5/A6, its
extract/link.go:155-253) live in links.classify_links
(`_reclassify_by_publish_prob`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def sessionize(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    value_col: str,
    gap_minutes: int,
) -> DataFrame:
    """Gap-based sessionization (batch form): events more than
    `gap_minutes` apart start a new session. Classic two-window shape —
    lag to flag session starts, running sum to number them, then one
    grouped aggregate. ONE shuffle on the key (all three windows share
    the partitioning); deterministic tie-break by (ts, id).

    Output: (key, session_id, session_start, session_end, n_events,
    total_value)."""
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(ts_col, id_col)
    prev_ts = F.lag(ts_col).over(w)
    # Gap measured in MICROSECONDS — the same precision as the DuckDB
    # oracle's INTERVAL compare, so sub-second timestamps can't split
    # sessions differently on the two sides. events.ts is TIMESTAMP_NTZ:
    # cast to timestamp first (NTZ->numeric is not a valid ANSI cast).
    micros = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    new_s = (
        prev_ts.isNull()
        | (micros(F.col(ts_col)) - micros(prev_ts) > gap_minutes * 60 * 1_000_000)
    ).cast("int")
    run = Window.partitionBy(key_col).orderBy(ts_col, id_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        df.withColumn("_new_s", new_s)
        .withColumn("session_id", F.sum("_new_s").over(run))
        .groupBy(key_col, "session_id")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
    )


def per_group_zscore(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Generic two-pass shape on any numeric column: per-group mean/std
    (pass 1, partial-agg shuffle) broadcast-rejoined for per-row
    z-scores (pass 2). The per-partition metrics pattern of SURVEY.md
    §3.2's recast."""
    stats = df.groupBy(group_col).agg(
        F.avg(value_col).alias("_mean"), F.stddev_pop(value_col).alias("_std")
    )
    out = df.join(F.broadcast(stats), group_col)
    z = F.when(
        F.col("_std") > 0, (F.col(value_col) - F.col("_mean")) / F.col("_std")
    ).otherwise(F.lit(0.0))
    return out.withColumn("zscore", F.round(z, 6)).drop("_mean", "_std")
