"""Staged KG pipeline with per-stage commit, one commit record per
stage, and resume-from-last-committed-stage.

Stage graph (each stage consumes its inputs as read once from the
catalog, writes its output table, then appends its commit record — one
JSON line in ``<workdir>/METRICS.jsonl``, the Spark analogue of the
reference's JSON-lines request log):

    transcripts ─→ annotated ─→ mentions
                        │  └──→ triples ─→ links ─→ canonical ─→ edges
                        └─────→ quarantine

The ``edges`` stage commits the one edge table as the bucketed layout
(operators/materialize.write_edges_bucketed), one bucket per core of
the session, written one task per bucket: downstream subj_id joins/aggs
read it shuffle-free and point lookups bucket-prune (BENCH.md bucketed
section) — the KG is born co-located, as part of the resumable run
rather than a separate job. Its commit record carries the bucket count,
so a resumed run re-attaches the table with the count it was written
with, whatever the resuming session's width.

Commits cost no Spark job beyond the write itself. The record's row
counts are read from the parquet footers of the files the write just
committed (``sources/catalog.task_row_counts``), in the same record
format the streaming log writes (``sources/catalog.append_record``);
each committed table is read once per run, with the schema it was just
written with (no schema-inference job), and that DataFrame feeds
downstream stages and the returned dict alike.

On rerun, any stage whose output is already committed (``_SUCCESS``
present — the Parquet stand-in for an Iceberg snapshot) is skipped and
appends no record; a mid-run kill therefore resumes exactly after the
last committed stage.
"""

from __future__ import annotations

import hashlib
import os
import time
import uuid
from collections.abc import Callable
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

from transner_spark.config import PipelineConfig
from transner_spark.operators.annotate import (
    annotate_turns,
    explode_mentions,
    explode_triples,
    split_quarantine,
)
from transner_spark.operators.canonicalize import canonicalize
from transner_spark.operators.linking import link_surfaces, node_surfaces
from transner_spark.operators.materialize import (
    ensure_edges_bucketed_table,
    materialize_edges,
    write_edges_bucketed,
)
from transner_spark.sources.catalog import (
    Catalog,
    append_record,
    read_records,
    task_row_counts,
)

STAGES = (
    "annotated",
    "quarantine",
    "mentions",
    "triples",
    "links",
    "canonical",
    "edges",
)


class PipelineRun:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        cfg: PipelineConfig | None = None,
        run_id: str | None = None,
    ):
        self.spark = spark
        self.catalog = Catalog(spark, workdir)
        self.cfg = cfg or PipelineConfig()
        self.run_id = run_id or uuid.uuid4().hex[:12]
        # workdir-stable (NOT run-scoped): reruns and resumed sessions
        # re-attach the same catalog entry instead of leaking one per run
        digest = hashlib.md5(
            os.path.abspath(workdir).encode("utf-8")
        ).hexdigest()[:10]
        self.edges_table = f"edges_{digest}"
        self.stages_run: list[str] = []
        self.stages_skipped: list[str] = []

    # -- commit record -------------------------------------------------
    def _commit(self, stage: str, t0: float, **layout: int) -> None:
        """Record ``stage`` as committed: append one line to the workdir's
        METRICS.jsonl with its rows per write task (from the parquet
        footers, so no Spark job), its wall time and any ``layout`` facts
        a reader needs (the ``edges`` bucket count). The wall runs from
        ``t0``, taken before the stage's plan is built: building can
        checkpoint eagerly (links, canonical), and that work belongs to
        the stage. A stage that wrote no file records 0 rows, so every
        committed stage is on record."""
        wall_ms = (time.monotonic() - t0) * 1000.0
        counts = task_row_counts(self.catalog.path(stage))
        append_record(
            self.catalog.root,
            {
                "action": "commit",
                "stage": stage,
                "run_id": self.run_id,
                "rows_written": sum(counts.values()),
                "task_rows": {str(t): n for t, n in sorted(counts.items())},
                "wall_ms": wall_ms,
                "committed_at": datetime.now(timezone.utc).isoformat(),
                **layout,
            },
        )
        self.stages_run.append(stage)

    def recorded_buckets(self) -> int:
        """The committed ``edges`` table's bucket count, from the newest
        ``edges`` commit record. Raises when no record carries one: the
        table was written before counts were recorded, and guessing a
        count would bind the files to the wrong buckets."""
        try:
            records = read_records(self.catalog.root)
        except FileNotFoundError:
            records = []
        edges = [r for r in records if r.get("stage") == "edges"]
        if not edges or "buckets" not in edges[-1]:
            raise RuntimeError(
                f"{self.catalog.path('edges')} is committed, but no commit "
                "record gives its bucket count (it predates recorded counts); "
                "delete that directory and rerun to rebuild the edges stage"
            )
        return edges[-1]["buckets"]

    def _done(self, stage: str) -> bool:
        if self.catalog.exists(stage):
            self.stages_skipped.append(stage)
            return True
        return False

    def _stage(self, stage: str, build: Callable[[], DataFrame]) -> DataFrame:
        """Commit ``stage`` unless it is already committed, then read it
        back — the one read of this table in the run. A fresh commit is
        read with the schema it was written with, so the read infers
        nothing; a resumed stage infers it from the files."""
        if self._done(stage):
            return self.catalog.read(stage)
        t0 = time.monotonic()
        df = build()
        self.catalog.write(df, stage)
        self._commit(stage, t0)
        return self.catalog.read(stage, schema=df.schema)

    # -- stages ----------------------------------------------------------
    def run(self, transcripts: DataFrame) -> dict[str, DataFrame]:
        cfg = self.cfg
        out: dict[str, DataFrame] = {}
        out["annotated"] = self._stage(
            "annotated", lambda: annotate_turns(transcripts, cfg)
        )
        out["quarantine"] = self._stage(
            "quarantine", lambda: split_quarantine(transcripts)[1]
        )
        out["mentions"] = self._stage(
            "mentions", lambda: explode_mentions(out["annotated"])
        )
        out["triples"] = self._stage(
            "triples", lambda: explode_triples(out["annotated"])
        )
        out["links"] = self._stage(
            "links",
            lambda: link_surfaces(self.spark, node_surfaces(out["triples"]), cfg),
        )
        out["canonical"] = self._stage(
            "canonical", lambda: canonicalize(out["links"])
        )
        # the bucketed layout bypasses catalog.write; the durable
        # artifact is the path, the bucket spec is catalog metadata
        edges_path = self.catalog.path("edges")
        if not self._done("edges"):
            t0 = time.monotonic()
            edges = materialize_edges(out["triples"], out["canonical"])
            buckets = write_edges_bucketed(edges, self.edges_table, edges_path)
            self._commit("edges", t0, buckets=buckets)
        else:
            # resumed run / fresh session: re-attach the recorded bucket
            # spec so downstream reads keep the zero-Exchange property
            ensure_edges_bucketed_table(
                self.spark, self.edges_table, edges_path, self.recorded_buckets()
            )
        # read through the catalog entry, never the bare path
        out["edges"] = self.spark.table(self.edges_table)
        return out

