"""Orchestrator tests: staged commits, commit records, resume after kill."""

from __future__ import annotations

import shutil

from transner_spark.plans.pipeline import STAGES, PipelineRun
from transner_spark.sources.catalog import read_records


def _stage_rows(records, run_id: str) -> dict[str, int]:
    rows: dict[str, int] = {}
    for r in records:
        if r["run_id"] == run_id:
            # the per-write-task rows sum to the stage's total
            assert sum(r["task_rows"].values()) == r["rows_written"]
            rows[r["stage"]] = rows.get(r["stage"], 0) + r["rows_written"]
    return rows


def test_pipeline_commits_and_resume(spark, tiny_df, tmp_path):
    workdir = str(tmp_path / "kg")

    run1 = PipelineRun(spark, workdir, run_id="run1")
    out = run1.run(tiny_df)
    assert set(run1.stages_run) == set(STAGES)
    assert run1.stages_skipped == []
    assert out["edges"].count() > 0

    # one record per stage, whose rows are its committed table's row count
    records1 = read_records(workdir)
    assert [r["stage"] for r in records1] == list(STAGES)
    assert _stage_rows(records1, "run1") == {s: out[s].count() for s in STAGES}

    e1 = out["edges"].toPandas().sort_values(["subj_id", "pred", "obj_id"]).reset_index(drop=True)

    # simulate a mid-run kill: wipe the trailing stages, rerun
    shutil.rmtree(run1.catalog.path("canonical"))
    shutil.rmtree(run1.catalog.path("edges"))
    run2 = PipelineRun(spark, workdir, run_id="run2")
    out2 = run2.run(tiny_df)
    assert set(run2.stages_run) == {"canonical", "edges"}
    assert set(run2.stages_skipped) == set(STAGES) - {"canonical", "edges"}

    # run2 logs only the stages it committed; run1's records are intact
    records2 = read_records(workdir)
    assert {r["run_id"] for r in records2} == {"run1", "run2"}
    assert _stage_rows(records2, "run2") == {
        s: out2[s].count() for s in ("canonical", "edges")
    }
    assert [r for r in records2 if r["run_id"] == "run1"] == records1

    # identical final edge table
    e2 = out2["edges"].toPandas().sort_values(["subj_id", "pred", "obj_id"]).reset_index(drop=True)
    assert e1.equals(e2)

    # full rerun: everything skipped, nothing recorded
    run3 = PipelineRun(spark, workdir, run_id="run3")
    run3.run(tiny_df)
    assert run3.stages_run == []
    assert set(run3.stages_skipped) == set(STAGES)
    assert read_records(workdir) == records2


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
    """Commit records take their rows from the committed files' footers:
    committing a stage runs no Spark job beyond the write itself."""
    sc = spark.sparkContext
    group = "pipeline_commit_" + tmp_path.name
    calls = []
    commit = PipelineRun._commit

    def in_group(self, stage, t0, **layout):
        calls.append(stage)
        sc.setJobGroup(group, "commit")
        try:
            return commit(self, stage, t0, **layout)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    monkeypatch.setattr(PipelineRun, "_commit", in_group)
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
