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

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type
from pyspark.sql.types import DataType, StructType

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


def binary_views(arr: pa.Array) -> list:
    """Zero-copy per-row memoryviews over a pyarrow Binary array (None
    for null rows): the input side of a UDF's binary column. as_py()
    copies every ~100KB payload into a fresh Python bytes object —
    measured ~18ms per 256-row batch, about the cost of the decode work
    itself; the views cost ~0.07ms. Every other column enters a UDF
    through `to_pylist()`."""
    n = len(arr)
    bufs = arr.buffers()
    if bufs[2] is None:  # no value bytes: each row is null or empty
        return arr.to_pylist()
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


def vector_matrix(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """A list<double> column as an (n, dim) float64 matrix and its
    row-validity mask, read through one flatten().to_numpy(): the input
    side of a UDF's vector column. to_pylist() makes one Python float
    per element (~19k for a 50-member bucket of 384-dim vectors), the
    same order of work as the cosine that follows. A null row is a row
    of zeros, a null element NaN; non-null rows must share one length."""
    valid = arr.is_valid().to_numpy(zero_copy_only=False)
    lens = np.unique(pc.list_value_length(arr).to_numpy(zero_copy_only=False)[valid])
    if len(lens) > 1:
        raise ValueError(f"vector lengths differ within one batch: {lens.tolist()}")
    dim = int(lens[0]) if len(lens) else 0
    out = np.zeros((len(arr), dim), dtype=np.float64)
    if dim:
        out[valid] = arr.flatten().to_numpy(zero_copy_only=False).reshape(-1, dim)
    return out, valid


def _arrow_arrays(rows, schema: StructType) -> tuple[pa.Schema, list[pa.Array]]:
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [[] for _ in arrow_schema]
    return arrow_schema, [
        pa.array(values, type=f.type) for f, values in zip(arrow_schema, columns)
    ]


def arrow_table(rows, schema: StructType) -> pa.Table:
    """`rows` (tuples in `schema` order; a MapType value is a dict or
    None) as a pyarrow Table with the schema's Arrow types: the output
    side of every Python stage (a mapInArrow function yields its
    `to_batches()`) and of driver-built frames. No pandas frame is
    made: pandas turns an int64 column holding a None into float64,
    which rounds values above 2**53 (a manifest `seq`, for one)."""
    arrow_schema, arrays = _arrow_arrays(rows, schema)
    return pa.Table.from_arrays(arrays, schema=arrow_schema)


def arrow_column(values, data_type: DataType) -> pa.Array:
    """A scalar Arrow UDF's result of `data_type`: for a StructType,
    `values` are row tuples as in arrow_table and come back as one
    StructArray; otherwise they are the single column's values."""
    if isinstance(data_type, StructType):
        arrow_schema, arrays = _arrow_arrays(values, data_type)
        return pa.StructArray.from_arrays(arrays, fields=list(arrow_schema))
    return pa.array(values, type=to_arrow_type(data_type))


def _row_values(col: pa.Array) -> list:
    if pa.types.is_binary(col.type) or pa.types.is_large_binary(col.type):
        return binary_views(col)
    return col.to_pylist()


def _rows(cols) -> zip:
    return zip(*map(_row_values, cols))


def row_udf(kernel, return_type: DataType):
    """A scalar Arrow UDF of `kernel` applied to each row's values (a
    binary column's as binary_views, every other one's as to_pylist()),
    its results assembled by arrow_column. Each call makes a new UDF
    object: one keeps the Java function of the first SparkContext it
    was called in, which is dead after a context restart."""

    def run(*cols: pa.Array) -> pa.Array:
        return arrow_column([kernel(*row) for row in _rows(cols)], return_type)

    return F.arrow_udf(run, return_type)


def map_rows(df: DataFrame, kernel, schema: StructType) -> DataFrame:
    """df.mapInArrow of `kernel`, which maps each input row's values
    (in df's column order, taken as in row_udf) to an iterable of
    output rows in `schema` order; each Arrow batch's output leaves as
    arrow_table's record batches."""

    def run(batches):
        for batch in batches:
            out = [o for row in _rows(batch.columns) for o in kernel(*row)]
            yield from arrow_table(out, schema).to_batches()

    return df.mapInArrow(run, schema)


def local_frame(spark: SparkSession, rows, schema: StructType) -> DataFrame:
    """A DataFrame of driver-built `rows` (as in arrow_table), built as
    a pyarrow Table so it plans as a LocalTableScan. A Python list given
    to createDataFrame plans as a scan of a parallelized RDD instead,
    and then even a one-row frame runs one Python-worker task per
    default partition."""
    return spark.createDataFrame(arrow_table(rows, schema), schema)
