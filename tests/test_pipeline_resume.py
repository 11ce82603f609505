"""Orchestrator tests: staged commits, lineage metrics, resume after kill."""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from transner_spark.plans.pipeline import STAGES, PipelineRun


def _stage_rows(lineage, run_id: str) -> dict[str, int]:
    mine = lineage[lineage["run_id"] == run_id]
    return mine.groupby("stage")["rows_out"].sum().to_dict()


def test_pipeline_commits_and_resume(spark, tiny_df, tmp_path):
    workdir = str(tmp_path / "kg")

    run1 = PipelineRun(spark, workdir, run_id="run1")
    out = run1.run(tiny_df)
    assert set(run1.stages_run) == set(STAGES)
    assert run1.stages_skipped == []
    assert out["edges"].count() > 0

    # every stage's lineage rows sum to its committed table's row count
    lineage1 = run1.catalog.read("_lineage").toPandas()
    assert _stage_rows(lineage1, "run1") == {s: out[s].count() for s in STAGES}

    e1 = out["edges"].toPandas().sort_values(["subj_id", "pred", "obj_id"]).reset_index(drop=True)

    # simulate a mid-run kill: wipe the trailing stages, rerun
    shutil.rmtree(run1.catalog.path("canonical"))
    shutil.rmtree(run1.catalog.path("edges"))
    run2 = PipelineRun(spark, workdir, run_id="run2")
    out2 = run2.run(tiny_df)
    assert set(run2.stages_run) == {"canonical", "edges"}
    assert set(run2.stages_skipped) == set(STAGES) - {"canonical", "edges"}

    # run2 logs only the stages it committed; run1's rows are intact
    lineage2 = run2.catalog.read("_lineage").toPandas()
    assert set(lineage2["run_id"]) == {"run1", "run2"}
    assert _stage_rows(lineage2, "run2") == {
        s: out2[s].count() for s in ("canonical", "edges")
    }
    key = ["run_id", "stage", "partition_id"]
    old = lineage2[lineage2["run_id"] == "run1"]
    assert old.sort_values(key).reset_index(drop=True).equals(
        lineage1.sort_values(key).reset_index(drop=True)
    )

    # identical final edge table
    e2 = out2["edges"].toPandas().sort_values(["subj_id", "pred", "obj_id"]).reset_index(drop=True)
    assert e1.equals(e2)

    # full rerun: everything skipped
    run3 = PipelineRun(spark, workdir, run_id="run3")
    run3.run(tiny_df)
    assert run3.stages_run == []
    assert set(run3.stages_skipped) == set(STAGES)


def test_quarantine_routes_overlong(spark, tiny_df, tmp_path):
    from transner_spark.operators.annotate import split_quarantine

    kept, rejected = split_quarantine(tiny_df)
    total = tiny_df.count()
    assert kept.count() + rejected.count() == total
    assert rejected.count() > 0  # the 160-word template occurs in the fixture
    # every quarantined row really is overlong
    for r in rejected.select("text").toPandas()["text"]:
        assert len(r.split()) > 150


def test_stage_commit_launches_no_bookkeeping_job(spark, tiny_df, tmp_path, monkeypatch):
    """Lineage comes from the committed files' footers: committing a
    stage runs no Spark job beyond the write itself."""
    sc = spark.sparkContext
    group = "pipeline_lineage_" + tmp_path.name
    calls = []
    lineage = PipelineRun._lineage

    def in_group(self, stage, wall_ms):
        calls.append(stage)
        sc.setJobGroup(group, "lineage")
        try:
            return lineage(self, stage, wall_ms)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    monkeypatch.setattr(PipelineRun, "_lineage", in_group)
    PipelineRun(spark, str(tmp_path / "kg")).run(tiny_df)
    assert calls == list(STAGES)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    # control: a job in a group is visible to the tracker
    sc.setJobGroup(group + "_control", "control")
    try:
        tiny_df.count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group + "_control"))


def test_footer_lineage_appends_to_spark_written_lineage(spark, tiny_df, tmp_path):
    """A workdir whose _lineage/ holds rows the earlier Spark job wrote
    (INT96 committed_at, required partition_id) still reads as one
    table after footer-derived rows are appended, with the same column
    types whichever file a read infers its schema from."""
    run = PipelineRun(spark, str(tmp_path / "kg"), run_id="new")
    lineage_dir = run.catalog.path("_lineage")
    old = (
        tiny_df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count(F.lit(1)).alias("rows_out"))
        .withColumn("run_id", F.lit("old"))
        .withColumn("stage", F.lit("annotated"))
        .withColumn("wall_ms", F.lit(12.5))
        .withColumn("committed_at", F.current_timestamp())
        .select("run_id", "stage", "partition_id", "rows_out", "wall_ms", "committed_at")
    )
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        old.write.mode("append").parquet(lineage_dir)
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    old_files = [f for f in os.listdir(lineage_dir) if f.startswith("part-")]
    meta = pq.read_metadata(os.path.join(lineage_dir, old_files[0])).schema
    assert meta.column(5).physical_type == "INT96"
    assert meta.column(2).max_definition_level == 0  # required: non-null
    old_types = run.catalog.read("_lineage").dtypes

    run.catalog.write(tiny_df, "annotated")
    run._lineage("annotated", 3.0)
    new_files = [
        f for f in os.listdir(lineage_dir)
        if f.startswith("part-") and f not in old_files
    ]
    assert len(new_files) == 1
    new_only = spark.read.parquet(os.path.join(lineage_dir, new_files[0]))
    assert new_only.dtypes == old_types

    both = run.catalog.read("_lineage")
    assert both.dtypes == old_types
    got = both.toPandas()
    total = tiny_df.count()
    assert _stage_rows(got, "old") == {"annotated": total}
    assert _stage_rows(got, "new") == {"annotated": total}
    assert got["committed_at"].notna().all()
    assert got["partition_id"].notna().all()
