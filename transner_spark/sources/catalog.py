"""Table catalog: named Parquet tables under one root directory, and the
one record of what each commit wrote.

A stage output is "committed" iff its directory contains Spark's
``_SUCCESS`` marker, the Parquet writer's commit point. The orchestrator
(plans/pipeline.py) resumes by skipping committed stages — the "resume
from the last committed snapshot" contract of the north rule, without a
table format's atomic multi-file snapshots.

Commit records: every writer that commits data (a ``PipelineRun`` stage,
a streaming log append or compaction) appends one JSON line to
``<dir>/METRICS.jsonl`` through ``append_record`` — the reference's
one-line-per-request log (``logger.py``) — and every reader goes through
``read_records``. Row counts come from the parquet footers of the files
the commit wrote (``task_row_counts``), so recording a commit launches no
Spark job.
"""

from __future__ import annotations

import json
import os
import re

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

METRICS = "METRICS.jsonl"
_TASK_FILE = re.compile(r"part-(\d+)-.*\.parquet$")


def task_row_counts(path: str) -> dict[int, int]:
    """Rows per write task of the parquet files committed under ``path``,
    from their footers. The task number is the ``part-NNNNN`` prefix of
    Spark's file names, so bucket-suffixed files and ``bucket=``
    directories sum into the task that wrote them."""
    counts: dict[int, int] = {}
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            m = _TASK_FILE.match(f)
            if m:
                task = int(m[1])
                rows = pq.read_metadata(os.path.join(root, f)).num_rows
                counts[task] = counts.get(task, 0) + rows
    return counts


def append_record(directory: str, record: dict) -> None:
    """Append ``record`` as one JSON line to ``<directory>/METRICS.jsonl``.
    The file is append-only and never pruned: it is the audit trail of
    what each commit did."""
    with open(os.path.join(directory, METRICS), "a") as fh:
        fh.write(json.dumps(record, sort_keys=True) + "\n")


def read_records(directory: str) -> list[dict]:
    """Every commit record under ``directory``, in commit order. Raises
    FileNotFoundError when nothing there has committed a record."""
    with open(os.path.join(directory, METRICS)) as fh:
        return [json.loads(line) for line in fh]


class Catalog:
    """Minimal warehouse: named tables under a root directory."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        p = self.path(table)
        return os.path.exists(os.path.join(p, "_SUCCESS"))

    def read(self, table: str, schema: StructType | None = None) -> DataFrame:
        """Read ``table``; a known ``schema`` skips the Spark job that
        infers it from the files."""
        # a rerun may have replaced files under this path within the same
        # session — drop any cached file listing before reading
        self.spark.catalog.refreshByPath(self.path(table))
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(self.path(table))

    def write(self, df: DataFrame, table: str, partition_by: list[str] | None = None) -> None:
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self.path(table))
