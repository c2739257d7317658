"""Table IO behind one interface: Iceberg when the runtime is on the
classpath, parquet-with-manifest otherwise (this sandbox has no network
to resolve iceberg-spark-runtime jars — SURVEY.md §7.1).

The API is identical either way, so production flips to Iceberg by
setting `spark.sql.catalog.<name>` configs at submit time — no code
change. Partition layout: bucket(hash(clip_id)) for clips-shaped
tables, matching the manifest's partition accounting.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Row, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import MapType, StructType

from ..session import arrow_table, local_frame


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:  # noqa: BLE001
        return False


class Catalog:
    """Minimal write/read/append interface over Iceberg or parquet dirs."""

    def __init__(self, spark: SparkSession, root: str, catalog_name: str = "graft"):
        self.spark = spark
        self.root = root
        self.catalog_name = catalog_name
        self.use_iceberg = iceberg_available(spark) and bool(
            spark.conf.get(f"spark.sql.catalog.{catalog_name}", None)
        )

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _ident(self, table: str) -> str:
        return f"{self.catalog_name}.db.{table}"

    def write(
        self,
        df: DataFrame,
        table: str,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
        replace_partitions: list | None = None,
    ) -> None:
        """partition_by: physical partition columns (parquet dir layout /
        Iceberg identity partition spec) — e.g. the IVF cell id, so a
        probe-cell equi-join prunes whole partitions at the scan.

        replace_partitions: values of the ONE partition_by column whose
        partitions this write replaces (`mode` is then ignored); every
        other partition is kept. A listed value with no rows in `df`
        ends up empty — unlike dynamic partition overwrite, which only
        touches the partitions the data happens to contain. Parquet:
        delete each `<table>/<col>=<v>` dir, then write with dynamic
        partition overwrite (not atomic; ManifestedRun's `running` row
        covers the window). Not an append: an append job commits every
        task dir it finds under `<table>/_temporary`, including those a
        killed earlier job left there, which would duplicate rows; a
        dynamic overwrite stages under its own per-job dir. Iceberg: one
        `overwrite(col IN values)` commit, or create the table on its
        first write."""
        if replace_partitions is not None and len(partition_by or []) != 1:
            raise ValueError("replace_partitions needs exactly one partition_by column")
        if self.use_iceberg:
            writer = df.writeTo(self._ident(table))
            if replace_partitions is not None and self.exists(table):
                writer.overwrite(F.col(partition_by[0]).isin(list(replace_partitions)))
                return
            if partition_by:
                writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
            if mode == "overwrite" or replace_partitions is not None:
                writer.createOrReplace()
            else:
                writer.append()
        else:
            if replace_partitions is None:
                w = df.write.mode(mode)
            else:
                for v in replace_partitions:
                    # a missing dir is fine; any other failure must stop
                    # the write, or surviving files sit next to new ones
                    part = os.path.join(self._path(table), f"{partition_by[0]}={v}")
                    if os.path.isdir(part):
                        shutil.rmtree(part)
                w = df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(self._path(table))

    def append(self, rows: list[tuple], schema: StructType, table: str) -> None:
        """Append driver-built `rows` (tuples in `schema` order, as
        session.local_frame takes them): the manifests' few-row commits.

        Parquet: one file written from the driver with pyarrow, no Spark
        job. It is written under a hidden `.`-prefixed name and then
        renamed into place (os.replace), so a crash leaves either the
        whole file or only the hidden one, which Spark and pyarrow
        readers both skip. Iceberg: one Spark append of the rows as a
        local relation."""
        if self.use_iceberg:
            local_frame(self.spark, rows, schema).writeTo(self._ident(table)).append()
            return
        path = self._path(table)
        os.makedirs(path, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(path, f".{name}.tmp")
        pq.write_table(arrow_table(rows, schema), tmp)
        os.replace(tmp, os.path.join(path, name))

    def read(self, table: str, schema: StructType | None = None) -> DataFrame:
        """schema (parquet only; an Iceberg table carries its own): the
        known table schema, partition columns included, e.g. the one a
        stage's done row records (StageRunner.read). Without it Spark
        starts a job to infer the schema from the files' footers. With
        it there is no such job, and a table dir holding no data files
        reads as empty instead of failing."""
        if self.use_iceberg:
            return self.spark.read.table(self._ident(table))
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(self._path(table))

    def read_rows(self, table: str, schema: StructType) -> list[Row]:
        """Every row of a small table (a manifest) in `schema`'s column
        order, [] before its first append. A column a file lacks
        (written by an older job version) reads as NULL.

        Parquet: read from the driver with pyarrow.dataset, no Spark
        job; it reads the files Spark wrote before the driver-side
        appends too. A MapType value comes back as a dict, as a Spark
        collect returns it. Iceberg: one Spark collect."""
        if not self.exists(table):
            return []
        if self.use_iceberg:
            df = self.read(table)
            return df.select(
                *[
                    F.col(f.name)
                    if f.name in df.columns
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in schema.fields
                ]
            ).collect()
        data = ds.dataset(
            self._path(table), format="parquet", schema=to_arrow_schema(schema)
        ).to_table()
        columns = [
            [None if v is None else dict(v) for v in data.column(f.name).to_pylist()]
            if isinstance(f.dataType, MapType)
            else data.column(f.name).to_pylist()
            for f in schema.fields
        ]
        row = Row(*schema.fieldNames())
        return [row(*values) for values in zip(*columns)]

    def exists(self, table: str) -> bool:
        if self.use_iceberg:
            return self.spark.catalog.tableExists(self._ident(table))
        p = self._path(table)
        return os.path.exists(p) and any(
            f.endswith(".parquet") or f == "_SUCCESS" for f in os.listdir(p)
        )
