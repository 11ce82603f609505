"""Partitioning helpers.

At warehouse scale the table scan arrives in >= core-count splits and
these helpers are no-ops; in local tests a small single-file parquet
yields ONE split, which would serialize every downstream narrow stage
(most damagingly the mapInPandas NER pass) on a single core.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the session's default parallelism —
    only when the input arrives under-partitioned. Never reduces
    partitioning; costs one small shuffle when it fires."""
    if df.isStreaming:  # micro-batch partitioning is the source's job
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    # Cheap scan-metadata fast path: a frame rooted in >= target input
    # files is already parallel — no physical planning needed. Valid for
    # frames whose partitioning follows the scan; the in-repo callers
    # pass raw scans. The precise df.rdd probe (which forces plan
    # analysis on the driver) covers everything else.
    if len(df.inputFiles()) >= target:
        return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
