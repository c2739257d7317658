"""Checkpoint / resume manifest: the reference's in-memory `seen` dedup
map (/root/reference/spider_news.go:15, 162-167, 202-205) made durable
and distributed (SURVEY.md §4.4).

The input is split into buckets keyed by `pmod(hash(clip_id),
num_buckets)`, and pending buckets are committed in WAVES of up to
BUCKETS_PER_WAVE. A wave costs one input scan (a `bucket IN (wave)`
filter), one transform, one partitioned write that replaces exactly the
wave's `bucket=b` partitions, and one read of the committed
`drop_reason` column for the metrics. One manifest row per bucket
records (bucket, input rows, kept rows, drop-reason histogram,
wall-clock, status). Resume = read the manifest, skip DONE buckets —
the left-anti-join / J6 shape, implemented as a bucket-set filter,
never a row-level anti-join against 10^12 processed ids. That filter
prunes at the scan only when the input is itself bucket-partitioned on
the key (an Iceberg `bucket(N, clip_id)` table); over a plain parquet
input each wave re-reads the input, so a run makes
ceil(pending / BUCKETS_PER_WAVE) scans, not one per bucket.

Resume semantics (the protocol StageRunner, io/stages.py, shares; the
helpers at the top of this module serve both):

- A bucket is reusable ONLY if its LATEST manifest row is `done` with
  the SAME parameter fingerprint (params_sig) as the current
  invocation. The sig covers every knob that changes the output
  (pipeline kwargs, scrub-bank version) plus num_buckets itself —
  bucket ids don't even align across num_buckets changes, so any
  change reruns everything. The wave size changes no output and is
  not in the sig.
- Before a wave's output partitions are replaced, one append writes a
  `running` row for each of its buckets; one append of `done` rows
  follows the commit. The manifest is append-only (cheap at 10^12
  scale — two Iceberg appends per wave, no code ever rewrites a
  manifest), and latest-row semantics make every crash window safe:
  die mid-write or before the done rows and the wave's latest rows
  say `running` → its buckets rerun whole.
- Rows from pre-params_sig manifests (no such column) never match the
  current sig → conservative rerun. Ties on (committed_at, seq) —
  only possible for legacy rows without seq — are treated as NOT
  done, also conservative.

Idempotence: a bucket either committed (latest manifest row done with
matching sig) or is re-run whole; a wave's write replaces its buckets'
partitions, including ones that come out empty (Catalog.write
replace_partitions), so re-running a half-written wave is safe.

Manifest I/O starts no Spark job on parquet: an append is one parquet
file the driver writes with pyarrow and renames into place, and a read
is one pyarrow.dataset scan under the manifest's known schema
(Catalog.append / Catalog.read_rows). Manifests that Spark wrote
before this stay readable, missing columns and all. On Iceberg both go
through Spark, as table commits must.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, Row, SparkSession, functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from .catalog import Catalog


def read_manifest(catalog: Catalog, table: str, schema: StructType) -> list[Row]:
    """Every row of a manifest table, [] before its first append
    (Catalog.read_rows: on parquet a driver-side read, no Spark job).
    Columns an older job version did not write read as NULL, so such
    rows never match the current params_sig."""
    return catalog.read_rows(table, schema)


def latest_rows(rows, unit_col: str) -> dict:
    """{unit: its latest row}, latest = max (committed_at_unix, seq), a
    NULL seq (legacy rows) ordering first. A unit whose latest key is
    shared by two rows is left out: the tie can't say which row
    describes the output on disk, so callers treat it as not done."""
    latest: dict = {}
    tied: set = set()
    for r in rows:
        unit, key = r[unit_col], (r.committed_at_unix, -1 if r.seq is None else r.seq)
        if unit not in latest or key > latest[unit][0]:
            latest[unit] = (key, r)
            tied.discard(unit)
        elif key == latest[unit][0]:
            tied.add(unit)
    return {u: r for u, (_, r) in latest.items() if u not in tied}


def append_rows(
    catalog: Catalog, table: str, schema: StructType, rows: list[dict]
) -> None:
    """One manifest append of `rows` (column -> value; absent columns
    are NULL), all stamped from one clock read: committed_at_unix in
    seconds, seq in nanoseconds. seq orders same-second rows ACROSS
    processes (a per-process counter can't: a crashed rerun's
    `running` row must outrank an earlier run's `done`). On parquet
    Catalog.append writes the rows as one file from the driver, with
    no Spark job."""
    now_ns = time.time_ns()
    stamp = {"committed_at_unix": now_ns // 1_000_000_000, "seq": now_ns}
    data = [tuple({**r, **stamp}.get(f.name) for f in schema.fields) for r in rows]
    catalog.append(data, schema, table)


MANIFEST_SCHEMA = StructType(
    [
        StructField("bucket", IntegerType(), False),
        StructField("status", StringType(), False),
        StructField("input_rows", LongType()),
        StructField("kept_rows", LongType()),
        StructField("drop_histogram", MapType(StringType(), LongType())),
        # wall-clock of the wave that committed the bucket
        StructField("wall_sec", DoubleType()),
        StructField("run_id", StringType()),
        StructField("committed_at_unix", LongType()),
        # parameter fingerprint the bucket's output embodies; resume
        # honors a done row only when this matches the current run's
        StructField("params_sig", StringType()),
        # wall-clock nanoseconds at append (append_rows)
        StructField("seq", LongType()),
    ]
)

MANIFEST_TABLE = "pipeline_manifest"

# buckets committed per input scan; also the most a crash makes a
# rerun redo
BUCKETS_PER_WAVE = 16


def bucket_of(col, num_buckets: int):
    return F.pmod(F.hash(col), F.lit(num_buckets))


class ManifestedRun:
    """Drives the pipeline wave-by-wave with durable per-bucket progress.

    At 10^12 rows each wave is a full Spark job over
    ~BUCKETS_PER_WAVE/num_buckets of the table (hundreds of GB);
    locally waves are small but the control flow is identical. The
    wave size trades scans per run against crash-rerun granularity: a
    crash reruns at most one wave.

    `params` must contain every knob that changes the transform's
    output (pipeline kwargs, scrub-bank version, ...); num_buckets is
    folded in automatically. The transform's output must keep
    `key_col`: it is re-bucketed to route rows to their partitions.
    """

    def __init__(
        self,
        spark: SparkSession,
        catalog: Catalog,
        num_buckets: int,
        run_id: str,
        key_col: str = "clip_id",
        params: dict | None = None,
    ):
        self.spark = spark
        self.catalog = catalog
        self.num_buckets = num_buckets
        self.run_id = run_id
        self.key_col = key_col
        self.params_sig = json.dumps(
            {**(params or {}), "num_buckets": num_buckets}, sort_keys=True
        )

    def done_buckets(self) -> set[int]:
        """Buckets whose latest manifest row is done with the current
        params_sig."""
        rows = read_manifest(self.catalog, MANIFEST_TABLE, MANIFEST_SCHEMA)
        return {
            b
            for b, r in latest_rows(rows, "bucket").items()
            if r.status == "done" and r.params_sig == self.params_sig
        }

    def pending_buckets(self) -> list[int]:
        done = self.done_buckets()
        return [b for b in range(self.num_buckets) if b not in done]

    def _append_rows(
        self,
        status: str,
        buckets: list[int],
        hists: dict[int, dict] | None = None,
        wall: float | None = None,
    ) -> None:
        """One manifest append: a `status` row for each bucket. hists
        maps bucket -> drop-reason histogram ("" counts kept rows); it
        gives the row's input and kept counts."""
        rows = []
        for b in buckets:
            row = {"bucket": b, "status": status, "wall_sec": wall,
                   "run_id": self.run_id, "params_sig": self.params_sig}
            if hists is not None:
                hist = hists[b]
                row.update(drop_histogram=hist, input_rows=sum(hist.values()),
                           kept_rows=hist.get("", 0))
            rows.append(row)
        append_rows(self.catalog, MANIFEST_TABLE, MANIFEST_SCHEMA, rows)

    def run(self, clips: DataFrame, transform, output_table: str) -> dict:
        """transform: DataFrame -> DataFrame with (keep, drop_reason).
        Returns summary counts. Restart-safe: completed buckets are
        skipped via the manifest. Single-writer: the whole run holds
        the output root's lease (io/stages.run_lease — the StageRunner
        guarantee extended to the bucket-grained job; without it two
        concurrent invocations would both pick up the same pending
        buckets and race their bucket=N overwrites)."""
        from .stages import run_lease

        with run_lease(self.catalog.root, self.run_id):
            return self._run_locked(clips, transform, output_table)

    def _run_locked(self, clips: DataFrame, transform, output_table: str) -> dict:
        pending = self.pending_buckets()
        step = BUCKETS_PER_WAVE
        for i in range(0, len(pending), step):
            self._commit_wave(clips, transform, output_table, pending[i : i + step])
        return {
            "buckets_run": len(pending),
            "buckets_skipped": self.num_buckets - len(pending),
        }

    def _commit_wave(
        self, clips: DataFrame, transform, output_table: str, wave: list[int]
    ) -> None:
        t0 = time.monotonic()
        # supersede any stale done rows BEFORE touching the output:
        # from here until the done rows land, latest-row = running
        # → any crash reruns the whole wave
        self._append_rows("running", wave)
        bucket = bucket_of(F.col(self.key_col), self.num_buckets)
        out = transform(clips.filter(bucket.isin(wave))).withColumn("bucket", bucket)
        self.catalog.write(
            out, output_table, partition_by=["bucket"], replace_partitions=wave
        )
        # metrics from the committed output: one read of the wave's
        # partitions, drop_reason column only. Exact for any reason
        # without naming them: the decode_<token> reasons are the closed
        # decode.DECODE_ERRORS set, but this count needs no list. A
        # bucket with no rows has no partition and keeps hist {}; the
        # known schema lets a table with no data files at all read as
        # empty.
        hists: dict[int, dict] = {b: {} for b in wave}
        for r in (
            self.catalog.read(output_table, schema=out.schema)
            .filter(F.col("bucket").isin(wave))
            .groupBy("bucket", "drop_reason")
            .count()
            .collect()
        ):
            hists[r.bucket][r.drop_reason or ""] = r["count"]
        self._append_rows("done", wave, hists, round(time.monotonic() - t0, 3))
