"""The repository benchmark: one command, seeded inputs, checked outputs.

    python3 perfbench/run.py --workload kg_bulk --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run starts one local Spark session
sized to the host, generates (or reuses) the seed's inputs, sets up,
runs the workload's job for ``--seconds`` (at least one job), checks the
outputs against the DuckDB oracles outside the timed region, and prints
one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (see perfbench/README.md). A line before it holds the
run's record: input properties, sizing and raw samples.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("kg_bulk", "kg_longtail")


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# ------------------------------------------------------------ sizing
def host_sizing() -> dict:
    """local[nproc] with one shuffle partition per core, and a driver
    heap of 1/8 of MemTotal clamped to [1, 4] GiB: the host's memory is
    shared, and in local mode the one driver JVM holds every task."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kib = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    heap_gib = min(4, max(1, round(mem_kib / (8 * 2**20))))
    return {"cpus": cpus, "heap_gib": heap_gib, "mem_total_gib": round(mem_kib / 2**20, 1)}


def prepare_env(work: str, sizing: dict) -> None:
    """Keep every file Spark and its Python workers write inside the
    checkout, and make the package importable in the workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = f"{sizing['heap_gib']}g"
    # the JVMs' perf-data files would go to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = tmp


def spark_conf(work: str, event_log: str | None) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "tmp"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            # the logged plan strings are most of the log's bytes
            "spark.sql.ui.explainMode": "simple",
        }
    return conf


# ------------------------------------------------------------- memory
def _proc_tree() -> dict[int, list[str]]:
    """/proc/<pid>/stat fields (after the command name) of this process
    and all its descendants: the driver Python, the JVM and every Python
    worker."""
    procs: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                procs[int(d)] = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
    keep = {os.getpid()}
    grew = True
    while grew:
        grew = False
        for pid, fields in procs.items():
            if pid not in keep and int(fields[1]) in keep:
                keep.add(pid)
                grew = True
    return {p: procs[p] for p in keep if p in procs}


def _tree_rss_mib() -> float:
    pages = sum(int(f[21]) for f in _proc_tree().values())
    return pages * os.sysconf("SC_PAGESIZE") / 2**20


def tree_cpu_s() -> float:
    """User + system CPU of the process tree, including reaped children.
    Unlike wall time it leaves out time the host's other tenants took."""
    ticks = sum(sum(int(x) for x in f[11:15]) for f in _proc_tree().values())
    return ticks / os.sysconf("SC_CLK_TCK")


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, end the JVM it launched, and wait until every
    process the run started (the JVM, the Python worker daemon and its
    workers) has exited."""
    from pyspark import SparkContext

    started = set(_proc_tree()) - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits on EOF of its stdin
    gateway.proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while any(os.path.exists(f"/proc/{p}") for p in started):
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes {sorted(started)} outlived the session")
        time.sleep(0.1)


class PeakRss:
    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_mib())
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _tree_rss_mib())


# -------------------------------------------------------------- stages
def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    return total


def setup(spark) -> None:
    """Build and cache the session's alias dims. The Python workers spawn
    inside the first job, as they do in a ``scripts/run_job.py`` launch."""
    from transner_spark.config import PipelineConfig
    from transner_spark.operators.linking import alias_gram_dim, exact_alias_dim

    exact_alias_dim(spark).count()
    alias_gram_dim(spark, PipelineConfig().link_ngram).count()


def run_batch(spark, transcripts_path: str, workdir: str, seconds: float, tracer=None):
    """PipelineRun.run over the workload's transcripts, repeated while
    ``seconds`` have not elapsed (at least once). Each job writes a fresh
    catalog. Returns per-job [(wall_s, tree_cpu_s, workdir)]."""
    from transner_spark.plans.pipeline import PipelineRun

    from perfbench.trace import traced_pipeline

    jobs = []
    t_end = time.monotonic() + seconds
    while not jobs or time.monotonic() < t_end:
        wd = os.path.join(workdir, f"job{len(jobs)}")
        run = PipelineRun(spark, wd)
        transcripts = spark.read.parquet(transcripts_path)
        c0 = tree_cpu_s()
        if tracer is None:
            t0 = time.monotonic()
            run.run(transcripts)
            wall = time.monotonic() - t0
        else:
            with traced_pipeline(tracer, spark.sparkContext):
                t0 = time.monotonic()
                with tracer.span("pipeline"):
                    run.run(transcripts)
                wall = time.monotonic() - t0
        jobs.append((wall, tree_cpu_s() - c0, wd))
    return jobs


# ---------------------------------------------------------------- main
def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import transner_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    from perfbench import check, inputs

    sizing = host_sizing()
    run_id = uuid.uuid4().hex[:12]
    run_dir = os.path.join(WORK, "runs", run_id)
    os.makedirs(run_dir)
    prepare_env(WORK, sizing)
    meta = inputs.ensure_turns(WORK, args.workload, args.seed)
    if args.trace:
        meta |= inputs.ensure_docs(WORK, args.seed)

    from transner_spark.data.aliases import ensure_alias_dim_parquet
    from transner_spark.functions.session import get_spark

    alias_dim = ensure_alias_dim_parquet(ROOT)
    event_log = os.path.join(run_dir, "eventlog") if args.trace else None
    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer(run_id)
    t0 = time.monotonic()
    spark = get_spark(
        master=f"local[{sizing['cpus']}]",
        app_name=f"perfbench_{args.workload}",
        shuffle_partitions=sizing["cpus"],
        extra_conf=spark_conf(WORK, event_log),
    )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        setup(spark)
        setup_s = time.monotonic() - t0
        with PeakRss() as rss:
            jobs = run_batch(spark, meta["transcripts"], run_dir, args.seconds, tracer)
        if args.trace:
            from perfbench import legs

            layers = legs.traced_layers(spark, meta, jobs[-1][2], alias_dim, run_dir)
    finally:
        stop_spark(spark)

    t_check = time.monotonic()
    failures = {}
    for i, (_, _, wd) in enumerate(jobs):
        res = check.check_pipeline(wd, meta["transcripts"], alias_dim)
        failures |= {f"job{i}.{t}": r for t, r in res.items() if r}
    triples = [parquet_rows(os.path.join(wd, "triples")) for _, _, wd in jobs]
    surfaces = [parquet_rows(os.path.join(wd, "links")) for _, _, wd in jobs]
    walls = [w for w, _, _ in jobs]
    cpus = [c for _, c, _ in jobs]
    for _, _, wd in jobs:
        shutil.rmtree(wd)
    kept = meta["properties"]["kept_turns"]
    attempted = 3 * len(jobs)
    if args.trace:
        tracer.dump(os.path.join(run_dir, "spans.jsonl"))
        per_layer = legs.per_layer_metrics(layers, run_dir, tracer.spans, len(jobs))
        per_layer["process.peak_rss_mib"] = rss.peak
        metrics = {k: (v, legs.unit_of(k)) for k, v in per_layer.items()}
        attempted += layers["checks_attempted"]
        failures |= layers["check_failures"]
    else:
        metrics = {
            "triples_per_s": (statistics.median(n / w for n, w in zip(triples, walls)), "1/s"),
            "core_us_per_turn": (statistics.median(cpus) * 1e6 / kept, "us/turn"),
            "setup_s": (setup_s, "s"),
        }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "run_id": run_id,
        "inputs": meta["properties"]
        | {"distinct_surfaces": surfaces[0]}
        | ({"documents": meta["documents"]} if args.trace else {}),
        "sizing": sizing,
        "job_walls_s": walls,
        "job_tree_cpu_s": cpus,
        "triples": triples,
        "setup_s": setup_s,
        "peak_rss_mib": rss.peak,
        "check_s": time.monotonic() - t_check,
        "traced_leg_s": layers["leg_s"] if args.trace else None,
        "check_failures": failures,
    }
    print(json.dumps({"record": record}))
    print(
        json.dumps(
            {
                "correct": not failures,
                "attempted": attempted,
                "failed": len(failures),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
