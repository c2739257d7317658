"""Production launcher (north_rule: `spark-submit --py-files pkg.zip
jobs/run_quality_filter.py ...`).

Examples:
    # package
    zip -qr /tmp/pkg.zip go_pkg_spider_spark
    # full run with manifest checkpointing + resume: pending buckets
    # commit in waves of 16 (one input scan, one partitioned write and
    # one metrics read per wave; a crash reruns at most the wave it hit)
    # (--driver-memory MUST be on the submit line: under spark-submit
    # the JVM starts before get_spark's conf applies, and the 1g
    # default OOMs on binary columnar batches)
    spark-submit --driver-memory 24g --py-files /tmp/pkg.zip \
        jobs/run_quality_filter.py \
        --input /data/clips --output-root /data/out \
        --num-buckets 256 --run-id nightly-2026-08-16
    # plain single-pass run (no manifest)
    spark-submit --py-files /tmp/pkg.zip jobs/run_quality_filter.py \
        --input /data/clips --output-root /data/out --no-manifest

On a real cluster pass the usual --master/--num-executors and Iceberg
catalog confs; the Catalog abstraction flips from parquet dirs to
Iceberg tables automatically when `spark.sql.catalog.graft` is set.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> None:
    p = argparse.ArgumentParser(description="quality-filter pipeline job")
    p.add_argument("--input", required=True, help="clips table path/identifier")
    p.add_argument("--output-root", required=True)
    p.add_argument("--output-table", default="decisions")
    p.add_argument("--num-buckets", type=int, default=64)
    p.add_argument("--run-id", default="adhoc")
    p.add_argument("--min-chars", type=int, default=64)
    p.add_argument("--no-manifest", action="store_true")
    p.add_argument("--repartition", type=int, default=0,
                   help="salted output repartition (0 = inherit scan splits)")
    args = p.parse_args()

    from go_pkg_spider_spark.session import get_spark
    from go_pkg_spider_spark import pipeline
    from go_pkg_spider_spark.functions.scrub import bank_fingerprint
    from go_pkg_spider_spark.io.catalog import Catalog
    from go_pkg_spider_spark.io.manifest import ManifestedRun

    spark = get_spark(app_name=f"quality-filter-{args.run_id}")
    clips = spark.read.parquet(args.input)

    def transform(df):
        out = pipeline.run_pipeline(df, min_chars=args.min_chars)
        if args.repartition:
            out = pipeline.repartition_salted(out, args.repartition)
        return out

    if args.no_manifest:
        transform(clips).write.mode("overwrite").parquet(
            f"{args.output_root}/{args.output_table}"
        )
        summary = {"mode": "single-pass"}
    else:
        cat = Catalog(spark, args.output_root)
        # every knob that changes a bucket's output: resume serves a
        # committed bucket only when its recorded fingerprint matches
        params = {
            "min_chars": args.min_chars,
            "repartition": args.repartition,
            "scrub_bank": bank_fingerprint(),
        }
        run = ManifestedRun(
            spark, cat, args.num_buckets, args.run_id, params=params
        )
        summary = run.run(clips, transform, args.output_table)
        summary["mode"] = "manifested"

    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
