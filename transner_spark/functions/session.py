"""SparkSession factory with the pipeline's standard configuration.

Single place for the scale-relevant knobs: Arrow batching for the UDF
stages, AQE (+ skew join) for the linking/materialize shuffles, UTC
session timezone so timestamps round-trip identically through parquet,
pandas, and DuckDB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# the heap a large host gets; smaller hosts get a share of their RAM
MAX_DRIVER_HEAP_GIB = 24

# maxRecordsPerBatch for UDF stages (session-wide). 4096 measures ~8%
# faster than 1024 on the text-only NER pass (amortized Arrow framing);
# pipelines carrying large binary media columns through mapInPandas
# should LOWER this — batch bytes scale with row size and the setting
# is Spark-session-global, not per-operator.
ARROW_BATCH_ROWS = 4096


def default_driver_memory(mem_total_kib: int | None = None) -> str:
    """Driver heap for local mode: half of the host's MemTotal, at least
    1g and at most ``MAX_DRIVER_HEAP_GIB``.

    In local mode the one driver JVM holds every "executor's" storage
    and execution memory, so a small heap at 1.5M-turn bench scale is
    heap-bound in the shuffle-heavy post-annotate stages. Measured on
    the local[8] scaling leg, same code and corpus, going from 8g to
    24g: triples 23.9s → 2.3s, links 27.7s → 6.2s, leg wall 109.7s →
    77.5s. A fixed 24g, though, overcommits a smaller host (the Python
    workers need the other half) and gets the JVM OOM-killed on a big
    leg, so the heap follows the host's RAM up to that cap. It does not
    vary with the parallelism level: memory is not the variable a
    scaling run tests.
    ``mem_total_kib`` defaults to /proc/meminfo's MemTotal; the cap is
    used where that file is missing."""
    if mem_total_kib is None:
        try:
            with open("/proc/meminfo") as fh:
                mem_total_kib = next(
                    int(line.split()[1]) for line in fh if line.startswith("MemTotal:")
                )
        except (OSError, StopIteration, ValueError):
            return f"{MAX_DRIVER_HEAP_GIB}g"
    gib = mem_total_kib // (2 * 2**20)
    return f"{min(MAX_DRIVER_HEAP_GIB, max(1, gib))}g"


def default_cpus() -> int:
    """Local-mode core count: ``SPARK_GRAFT_CPUS`` when set (a deployment
    setting), otherwise the cores this process may run on, so a default
    run never oversubscribes the host."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    master: str | None = None,
    app_name: str = "transner_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if master is None:
        # under spark-submit the cluster master arrives via spark.master —
        # never override it with a local default (that would silently run
        # the whole job single-node on the driver)
        from pyspark import SparkConf

        if SparkConf().get("spark.master", None) is None:
            master = f"local[{default_cpus()}]"
    if shuffle_partitions is None and master is not None and (
        master == "local" or master.startswith("local[")
    ):
        # plain local mode only (NOT local-cluster[m,c,mem] — its bracket
        # payload is not a core count): match the master's core count —
        # local[*] runs on the cores this process may use, bare local on
        # one. When the master is external (spark-submit / cluster),
        # leave the config UNSET so the cluster default + AQE coalescing
        # govern shuffle parallelism — hardcoding a count here would
        # silently cap a 1000-executor job.
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        n = inner.split(",")[0]  # local[N,maxFailures] is valid syntax
        shuffle_partitions = (
            len(os.sched_getaffinity(0)) if n == "*" else 1 if n == "" else int(n)
        )

    builder = SparkSession.builder
    if master is not None:
        builder = builder.master(master)
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    builder = (
        builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_BATCH_ROWS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce small shuffles by SIZE (advisoryPartitionSizeInBytes),
        # not down to defaultParallelism: the dim-sized linking/canonical
        # shuffles otherwise schedule `width` near-empty tasks per stage
        # (measured: links first pass 5.4s → 2.3s at sf0.1/local[32]).
        # At cluster scale a large shuffle still gets thousands of
        # advisory-sized partitions — this only collapses genuinely tiny
        # exchanges, exactly AQE's documented intent for the flag.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # SPARK_DRIVER_MEMORY overrides the host-sized default (see
        # default_driver_memory for why the heap is large)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
