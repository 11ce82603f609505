"""bench.py times the shipped ``PipelineRun`` and reads each stage's wall
and rows from the run's commit records; the recorded wall covers the
whole stage, and a freshly committed stage is read back without schema
inference."""

from __future__ import annotations

import importlib.util
import os
import time

import pyarrow.dataset as ds
import pytest

from transner_spark.plans import pipeline as pl
from transner_spark.plans.pipeline import STAGES, PipelineRun
from transner_spark.sources.catalog import Catalog, read_records
from transner_spark.sources.transcripts import ensure_transcripts_parquet

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def bench():
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _footer_rows(path: str) -> int:
    return ds.dataset(path, format="parquet").count_rows()


def test_bench_reads_stage_walls_and_rows_from_lineage(spark, bench, tmp_path):
    transcripts = spark.read.parquet(ensure_transcripts_parquet(REPO, "sf0.001"))
    workdir = str(tmp_path / "bench")
    res = bench.run_pipeline_bench(spark, transcripts, workdir, passes=1)

    keys = ["annotate" if s == "annotated" else s for s in STAGES]
    assert list(res["timings"]) == keys
    assert all(wall > 0 for wall in res["timings"].values())
    assert res["total"] == pytest.approx(sum(res["timings"].values()))
    assert res["rss"] > 0

    # the timed pass's committed tables, counted from their footers
    committed = os.path.join(workdir, "r0")
    assert res["turns"] == _footer_rows(os.path.join(committed, "annotated"))
    assert res["mentions"] == _footer_rows(os.path.join(committed, "mentions"))
    assert res["triples"] == _footer_rows(os.path.join(committed, "triples"))
    assert res["triples"] > 0
    # every pass drops the edge table it registered
    for sub in ("warm", "r0"):
        table = PipelineRun(spark, os.path.join(workdir, sub)).edges_table
        assert not spark.catalog.tableExists(table)


def test_lineage_wall_covers_plan_build(spark, tiny_df, tmp_path, monkeypatch):
    """``canonicalize`` checkpoints eagerly while its plan is built; that
    time belongs to the stage's ``wall_ms``, not only the write's."""
    real = pl.canonicalize

    def slow(*a, **k):
        time.sleep(0.5)
        return real(*a, **k)

    monkeypatch.setattr(pl, "canonicalize", slow)
    workdir = str(tmp_path / "kg")
    run = PipelineRun(spark, workdir)
    run.run(tiny_df)
    spark.sql(f"DROP TABLE IF EXISTS {run.edges_table}")
    walls = {r["stage"]: r["wall_ms"] for r in read_records(workdir)}
    assert walls["canonical"] >= 500


def _run_jobs(spark, df, workdir: str) -> tuple[PipelineRun, dict, int]:
    sc = spark.sparkContext
    group = "bench_pipeline_" + os.path.basename(workdir)
    sc.setJobGroup(group, group)
    try:
        run = PipelineRun(spark, workdir)
        out = run.run(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    spark.sql(f"DROP TABLE IF EXISTS {run.edges_table}")
    return run, out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_fresh_stage_read_infers_no_schema(spark, tiny_df, tmp_path, monkeypatch):
    _run_jobs(spark, tiny_df, str(tmp_path / "warm"))  # compile every plan once
    run, out, jobs = _run_jobs(spark, tiny_df, str(tmp_path / "known"))
    # the schema the stage wrote is the schema Spark infers from its files
    for stage in STAGES[:-1]:
        assert out[stage].schema == run.catalog.read(stage).schema, stage

    # control: reads that drop the passed schema infer it, one job each
    read = Catalog.read
    monkeypatch.setattr(Catalog, "read", lambda self, table, schema=None: read(self, table))
    _, _, inferring = _run_jobs(spark, tiny_df, str(tmp_path / "inferred"))
    assert inferring - jobs == len(STAGES) - 1
