"""Staged KG pipeline with per-stage commit, per-write-task lineage rows,
and resume-from-last-committed-stage.

Stage graph (each stage consumes its inputs as read once from the
catalog, writes its output table, then appends lineage rows — the Spark
analogue of the reference's JSON-lines request log, upgraded to a
checkpoint-table contract):

    transcripts ─→ annotated ─→ mentions
                        │  └──→ triples ─→ links ─→ canonical ─→ edges ─→ serving
                        └─────→ quarantine

The final ``serving`` stage re-publishes the committed edge table as the
bucketed layout (operators/materialize.write_edges_bucketed): downstream
subj_id joins/aggs read it shuffle-free and point lookups bucket-prune
(BENCH.md bucketed section) — the KG is born co-located, as part of the
resumable run rather than a separate job.

Commits cost no Spark job beyond the write itself. Lineage is read from
the parquet footers of the files the write just committed (one row per
write task, keyed by the ``part-NNNNN`` task number) and appended on the
driver as one small file; each committed table is read once per run and
that DataFrame feeds downstream stages, the serving write and the
returned dict alike.

On rerun, any stage whose output is already committed (``_SUCCESS``
present — the Parquet stand-in for an Iceberg snapshot) is skipped; a
mid-run kill therefore resumes exactly after the last committed stage.
"""

from __future__ import annotations

import hashlib
import os
import re
import time
import uuid
from collections.abc import Callable
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
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
from transner_spark.sources.catalog import Catalog

STAGES = (
    "annotated",
    "quarantine",
    "mentions",
    "triples",
    "links",
    "canonical",
    "edges",
    "serving",
)


LINEAGE_SCHEMA = pa.schema(
    [
        ("run_id", pa.string()),
        ("stage", pa.string()),
        ("partition_id", pa.int32()),
        ("rows_out", pa.int64()),
        ("wall_ms", pa.float64()),
        # UTC-adjusted micros: Spark reads it as TIMESTAMP, the same type
        # as the INT96 column of lineage files Spark itself wrote
        ("committed_at", pa.timestamp("us", tz="UTC")),
    ]
)
_TASK_FILE = re.compile(r"part-(\d+)-.*\.parquet$")


def _task_row_counts(path: str) -> dict[int, int]:
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
        self.serving_table = f"edges_serving_{digest}"
        self.stages_run: list[str] = []
        self.stages_skipped: list[str] = []

    # -- lineage ---------------------------------------------------------
    def _lineage(self, stage: str, wall_ms: float) -> None:
        """One lineage row per write task of the stage's committed output:
        its row count from the parquet footers, plus the write's wall
        time. Runs on the driver and launches no Spark job; a stage that
        wrote no file gets a single zero row, so every committed stage
        is on record."""
        counts = _task_row_counts(self.catalog.path(stage)) or {0: 0}
        tasks = sorted(counts)
        n = len(tasks)
        rows = pa.table(
            {
                "run_id": [self.run_id] * n,
                "stage": [stage] * n,
                "partition_id": tasks,
                "rows_out": [counts[t] for t in tasks],
                "wall_ms": [float(wall_ms)] * n,
                "committed_at": [datetime.now(timezone.utc)] * n,
            },
            schema=LINEAGE_SCHEMA,
        )
        self.catalog.append_rows(rows, "_lineage")

    def _commit(self, stage: str, write: Callable[[], None]) -> None:
        t0 = time.monotonic()
        write()
        self._lineage(stage, (time.monotonic() - t0) * 1000.0)
        self.stages_run.append(stage)

    def _done(self, stage: str) -> bool:
        if self.catalog.exists(stage):
            self.stages_skipped.append(stage)
            return True
        return False

    def _stage(
        self,
        stage: str,
        build: Callable[[], DataFrame],
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Commit ``stage`` unless it is already committed, then read it
        back — the one read of this table in the run."""
        if not self._done(stage):
            df = build()
            self._commit(
                stage, lambda: self.catalog.write(df, stage, partition_by=partition_by)
            )
        return self.catalog.read(stage)

    # -- stages ----------------------------------------------------------
    def run(self, transcripts: DataFrame) -> dict[str, DataFrame]:
        cfg = self.cfg
        out: dict[str, DataFrame] = {}
        out["annotated"] = self._stage(
            "annotated", lambda: annotate_turns(transcripts, cfg)
        )
        out["quarantine"] = self._stage(
            "quarantine", lambda: split_quarantine(transcripts, cfg)[1]
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
        out["edges"] = self._stage(
            "edges",
            lambda: materialize_edges(out["triples"], out["canonical"], cfg),
            partition_by=["bucket"],
        )
        if not self._done("serving"):
            # bucketed serving twin of the edge table — bypasses
            # catalog.write (the layout IS the point) but keeps the same
            # lineage + commit bookkeeping; the catalog name is
            # workdir-stable, the durable artifact is the path
            self._commit(
                "serving",
                lambda: write_edges_bucketed(
                    out["edges"], self.serving_table, self.catalog.path("serving"), cfg
                ),
            )
        else:
            # resumed run / fresh session: the files are committed but
            # the bucket spec is session-catalog metadata — re-attach it
            # so downstream reads keep the zero-Exchange property
            ensure_edges_bucketed_table(
                self.spark, self.serving_table, self.catalog.path("serving"), cfg
            )
        # read through the catalog entry (never the bare path): the
        # bucketed distribution only exists via the table metadata
        out["serving"] = self.spark.table(self.serving_table)
        return out

