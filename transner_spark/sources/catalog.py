"""Table catalog abstraction: Iceberg when the runtime jar is present,
identical-layout Parquet directories otherwise.

The sandbox's pyspark 4.1.2 ships no Iceberg jar, so the default backend
is Parquet with the same table layout and a snapshot-style commit protocol:
a stage output is "committed" iff its directory contains Spark's
``_SUCCESS`` marker — the Parquet stand-in for an Iceberg snapshot. The
orchestrator (plans/pipeline.py) resumes by skipping committed stages,
which is exactly the "resume from the last committed snapshot" contract of
the north rule, minus Iceberg's atomicity guarantees (documented).
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class Catalog:
    """Minimal warehouse: named tables under a root directory."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.use_iceberg = iceberg_available(spark)

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        p = self.path(table)
        return os.path.exists(os.path.join(p, "_SUCCESS"))

    def read(self, table: str, schema: StructType | None = None) -> DataFrame:
        """Read ``table``; a known ``schema`` skips the Spark job that
        infers it from the files."""
        if self.use_iceberg:  # pragma: no cover - no jar in sandbox
            return self.spark.read.format("iceberg").load(self.path(table))
        # a rerun may have replaced files under this path within the same
        # session — drop any cached file listing before reading
        self.spark.catalog.refreshByPath(self.path(table))
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(self.path(table))

    def write(self, df: DataFrame, table: str, partition_by: list[str] | None = None) -> None:
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        if self.use_iceberg:  # pragma: no cover
            writer.format("iceberg").save(self.path(table))
        else:
            writer.parquet(self.path(table))

    def append_rows(self, rows: pa.Table, table: str) -> None:
        """Append a small driver-side table. On the Parquet backend this
        writes one file locally — no Spark job — renamed into place so a
        concurrent reader never sees it half-written."""
        if self.use_iceberg:  # pragma: no cover
            df = self.spark.createDataFrame(rows.to_pandas())
            df.write.mode("append").format("iceberg").save(self.path(table))
            return
        p = self.path(table)
        os.makedirs(p, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(p, f".{name}.tmp")
        pq.write_table(rows, tmp)
        os.replace(tmp, os.path.join(p, name))
        open(os.path.join(p, "_SUCCESS"), "a").close()
