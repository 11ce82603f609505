"""Tracing for the benchmark's traced run.

Spans are recorded from the benchmark's own files, around the calls the
pipeline makes into each layer: ``PipelineRun`` is driven unchanged,
and the operator functions it imports plus ``Catalog.write`` are
wrapped for the duration of one run. Each wrapper also sets the Spark
job group, so the Spark-layer numbers in the event log can be
attributed to the stage that ran them.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

# catalog table -> stage name
TABLE_STAGE = {
    "annotated": "annotate",
    "quarantine": "quarantine",
    "mentions": "mentions",
    "triples": "triples",
    "links": "links",
    "canonical": "canonical",
    "edges": "edges",
}
# operator functions PipelineRun calls -> the stage they belong to
OP_STAGE = {
    "annotate_turns": "annotate",
    "split_quarantine": "quarantine",
    "explode_mentions": "mentions",
    "explode_triples": "triples",
    "node_surfaces": "links",
    "link_surfaces": "links",
    "canonicalize": "canonical",
    "materialize_edges": "edges",
}
STAGES = (
    "annotate", "quarantine", "mentions", "triples",
    "links", "canonical", "edges", "serving",
)
BOOKKEEPING = "bookkeeping"


class Tracer:
    """In-memory spans: id, name, start, end, parent id and run id.
    Written out only by ``dump``, after the measured work."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def begin(self, name: str) -> int:
        self.spans.append(
            {
                "id": len(self.spans),
                "name": name,
                "start": time.monotonic(),
                "end": None,
                "parent": self._stack[-1] if self._stack else None,
                "run_id": self.run_id,
            }
        )
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def end(self, idx: int) -> None:
        if self._stack[-1] != idx:
            raise RuntimeError(f"span {self.spans[idx]['name']} closed out of order")
        self._stack.pop()
        self.spans[idx]["end"] = time.monotonic()

    @contextmanager
    def span(self, name: str):
        idx = self.begin(name)
        try:
            yield
        finally:
            self.end(idx)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per span name: each span's duration minus the part of
    its interval covered by its children, summed over spans of a name."""
    out: dict[str, float] = {}
    for s in spans:
        kids = [
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in spans
            if c["parent"] == s["id"]
            and c["run_id"] == s["run_id"]
            and c["start"] < s["end"]
            and c["end"] > s["start"]
        ]
        own = (s["end"] - s["start"]) - _union_length(kids)
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


@contextmanager
def traced_pipeline(tracer: Tracer, sc):
    """Wrap the calls ``PipelineRun.run`` makes into each layer.

    A stage span opens at the first operator call of the stage and closes
    when the stage's catalog write returns; everything in between stages
    (lineage jobs, catalog re-reads) is the pipeline's bookkeeping."""
    from transner_spark.plans import pipeline as pl
    from transner_spark.sources.catalog import Catalog

    state: dict = {"idx": None}

    def open_stage(stage: str) -> None:
        if state["idx"] is not None and tracer.spans[state["idx"]]["name"] == stage:
            return
        close_stage()
        state["idx"] = tracer.begin(stage)
        sc.setJobGroup(stage, stage)

    def close_stage() -> None:
        if state["idx"] is not None:
            tracer.end(state["idx"])
            state["idx"] = None
            sc.setJobGroup(BOOKKEEPING, BOOKKEEPING)

    def wrap_op(fn, stage):
        def call(*a, **k):
            open_stage(stage)
            return fn(*a, **k)
        return call

    orig_write = Catalog.write
    orig_serving = pl.write_edges_bucketed
    orig_ops = {name: getattr(pl, name) for name in OP_STAGE}

    def write(self, df, table, partition_by=None):
        open_stage(TABLE_STAGE[table])
        try:
            return orig_write(self, df, table, partition_by)
        finally:
            close_stage()

    def serving(*a, **k):
        open_stage("serving")
        try:
            return orig_serving(*a, **k)
        finally:
            close_stage()

    Catalog.write = write
    pl.write_edges_bucketed = serving
    for name, stage in OP_STAGE.items():
        setattr(pl, name, wrap_op(orig_ops[name], stage))
    sc.setJobGroup(BOOKKEEPING, BOOKKEEPING)
    try:
        yield
    finally:
        close_stage()
        Catalog.write = orig_write
        pl.write_edges_bucketed = orig_serving
        for name, fn in orig_ops.items():
            setattr(pl, name, fn)
        sc.setLocalProperty("spark.jobGroup.id", None)


# ------------------------------------------------------------ event log
def _lines(paths: list[str]):
    for p in paths:
        with open(p) as fh:
            yield from fh


def parse_event_log(paths: list[str]) -> dict[str, dict]:
    """Spark-layer totals per job group from a local event log.

    Returns {group: {tasks, run_s, task_cpu_s, gc_s, shuffle_write_bytes,
    spill_bytes, task_skew}}. ``task_skew`` is max/mean task run time in
    the group's heaviest Spark stage (1.0 = balanced)."""
    stage_group: dict[int, str] = {}
    per_stage: dict[int, list[dict]] = {}
    for line in _lines(paths):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group or "")
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            per_stage.setdefault(ev["Stage ID"], []).append(
                {
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ),
                    "spill": m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                }
            )
    out: dict[str, dict] = {}
    heaviest: dict[str, tuple[float, list[int]]] = {}
    for sid, tasks in per_stage.items():
        g = stage_group.get(sid, "")
        agg = out.setdefault(
            g,
            {"tasks": 0, "run_s": 0.0, "task_cpu_s": 0.0, "gc_s": 0.0,
             "shuffle_write_bytes": 0, "spill_bytes": 0, "task_skew": 1.0},
        )
        runs = [t["run_ms"] for t in tasks]
        agg["tasks"] += len(tasks)
        agg["run_s"] += sum(runs) / 1e3
        agg["task_cpu_s"] += sum(t["cpu_ns"] for t in tasks) / 1e9
        agg["gc_s"] += sum(t["gc_ms"] for t in tasks) / 1e3
        agg["shuffle_write_bytes"] += sum(t["shuffle_write"] for t in tasks)
        agg["spill_bytes"] += sum(t["spill"] for t in tasks)
        if g not in heaviest or sum(runs) > heaviest[g][0]:
            heaviest[g] = (sum(runs), runs)
    for g, (total, runs) in heaviest.items():
        mean = statistics.fmean(runs)
        out[g]["task_skew"] = max(runs) / mean if mean > 0 else 1.0
    return out


def event_log_files(log_dir: str) -> list[str]:
    """The event files of the one application logged under ``log_dir``,
    in order (Spark 4 writes a directory of rolled ``events_<n>_`` files)."""
    apps = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(apps) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {apps}")
    app = os.path.join(log_dir, apps[0])
    if not os.path.isdir(app):
        return [app]
    parts = [f for f in os.listdir(app) if f.startswith("events_")]
    parts.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(app, f) for f in parts]
