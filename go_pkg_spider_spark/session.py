"""SparkSession factory tuned for the quality-filter pipeline.

Scale notes (100 TB / 1000-executor design, tested on local[N]):
- AQE on: runtime shuffle-partition coalescing + skew-join splitting is
  the backstop for long-transcript / long-clip skew (SURVEY.md §4.1).
- Arrow on, with a bounded records-per-batch so Arrow batches of binary
  audio `bytes` stay memory-safe inside Python UDFs (SURVEY.md §7 risk:
  PCM is ~100x input; never let a batch of decoded audio exceed RAM).
- shuffle.partitions default sized for local testing; production submit
  overrides via spark-submit conf (the code never hard-codes a plan that
  depends on the partition count).
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

# Arrow batch size: clips average ~100KB-1MB of audio bytes; 256 rows/batch
# keeps a decode batch under ~256MB even for heavy rows, while still
# amortizing Python/Arrow transfer overhead.
ARROW_MAX_RECORDS_PER_BATCH = 256


def get_spark(
    app_name: str = "go-pkg-spider-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """An unspecified master is $SPARK_GRAFT_MASTER, else
    local[$SPARK_GRAFT_CPUS], else local[*]; $SPARK_GRAFT_CPUS also
    replaces an explicit local[*]."""
    master = master or os.environ.get("SPARK_GRAFT_MASTER")
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    elif cpus and master == "local[*]":
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # match parallelism: one shuffle partition per core locally;
        # production overrides to ~2-3x total cores via submit conf.
        import re

        m = re.match(r"local\[(\d+|\*)\]", master)
        if m and m.group(1) != "*":
            shuffle_partitions = max(int(m.group(1)), 4)
        else:
            shuffle_partitions = os.cpu_count() or 8

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS_PER_BATCH),
        )
        # binary audio blobs (~100KB-1MB/row): the default 4096-row
        # columnar reader batch makes per-thread column vectors of
        # hundreds of MB and OOMs at high parallelism ("Cannot reserve
        # additional contiguous bytes") — cap rows per read batch.
        .config("spark.sql.parquet.columnarReaderBatchSize", "256")
        # Python-worker allocator: pyarrow's default (jemalloc) returns
        # batch buffers to the OS on every free; at 32 concurrent
        # workers the resulting mmap/munmap churn serializes in the
        # kernel (TLB shootdowns — measured 85% sys time, UDF stage
        # 53s -> 9.5s with these three envs). Keep arenas resident.
        .config("spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL", "system")
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "1073741824")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "-1")
        .config("spark.sql.session.timeZone", "UTC")
        # local[N] runs the whole engine in one JVM: N concurrent tasks
        # each hold a columnar read batch of binary audio (~33MB at 256
        # rows) plus Arrow/UDF buffers — size the heap for the thread
        # count, not the dataset (32 threads OOM an 8g heap).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def arrow_table(rows, schema: StructType) -> pa.Table:
    """`rows` (tuples in `schema` order; a MapType value is a dict or
    None) as a pyarrow Table with the schema's Arrow types. No pandas
    frame is made: pandas turns an int64 column holding a None into
    float64, which rounds values above 2**53 (a manifest `seq`, for
    one)."""
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [[] for _ in arrow_schema]
    return pa.Table.from_arrays(
        [pa.array(values, type=f.type) for f, values in zip(arrow_schema, columns)],
        schema=arrow_schema,
    )


def local_frame(spark: SparkSession, rows, schema: StructType) -> DataFrame:
    """A DataFrame of driver-built `rows` (as in arrow_table), built as
    a pyarrow Table so it plans as a LocalTableScan. A Python list given
    to createDataFrame plans as a scan of a parallelized RDD instead,
    and then even a one-row frame runs one Python-worker task per
    default partition."""
    return spark.createDataFrame(arrow_table(rows, schema), schema)
