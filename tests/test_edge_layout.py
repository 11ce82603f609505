"""The committed edge table is the one bucketed layout: one bucket per
core of the session, its count kept in the ``edges`` commit record;
whatever the shuffle width, each bucket is one file holding only the six
edge columns, and subj_id reads plan no shuffle — also once the catalog
entry is lost and the run resumes with the recorded count."""

from __future__ import annotations

import json
import os
import re
from contextlib import contextmanager

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from transner_spark.plans.pipeline import PipelineRun
from transner_spark.sources.catalog import METRICS, read_records

# Spark's bucketed writer names files part-NNNNN-<uuid>_BBBBB.c000...
_BUCKET_FILE = re.compile(r"part-\d+-.*_(\d{5})\.c\d+.*\.parquet$")
EDGE_COLS = ["subj_id", "pred", "obj_id", "weight", "first_ts", "last_ts"]


@contextmanager
def _confs(spark, confs: dict[str, str]):
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _edges_record(workdir: str) -> dict:
    return [r for r in read_records(workdir) if r["stage"] == "edges"][-1]


@pytest.mark.parametrize("tasks", [4, 6, 16])
def test_edges_commit_one_file_per_bucket(spark, tiny_df, tmp_path, tasks):
    workdir = str(tmp_path / "kg")
    with _confs(
        spark,
        {
            "spark.sql.shuffle.partitions": str(tasks),
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        },
    ):
        run = PipelineRun(spark, workdir)
        out = run.run(tiny_df)
        try:
            path = run.catalog.path("edges")
            buckets = {}
            for root, dirs, files in os.walk(path):
                assert not [d for d in dirs if d.startswith("bucket=")], dirs
                for f in files:
                    if not f.endswith(".parquet"):
                        continue
                    m = _BUCKET_FILE.match(f)
                    assert m, f"no bucket-id suffix: {f}"
                    assert f not in buckets, f
                    buckets[f] = int(m[1])
                    assert pq.read_schema(os.path.join(root, f)).names == EDGE_COLS
            assert buckets, "no edge file written"
            assert len(buckets) == len(set(buckets.values())), sorted(buckets.values())
            # the record keeps the count the write chose: one per core
            n = _edges_record(workdir)["buckets"]
            assert n == spark.sparkContext.defaultParallelism
            assert all(b < n for b in buckets.values()), buckets
            # each file holds exactly the subjects of the bucket its name
            # records: Spark's bucket id is pmod(hash(subj_id), n)
            hashed = (
                spark.read.parquet(path)
                .select(
                    F.input_file_name().alias("f"),
                    F.pmod(F.hash("subj_id"), F.lit(n)).alias("b"),
                )
                .distinct()
                .collect()
            )
            got: dict[str, set[int]] = {}
            for r in hashed:
                got.setdefault(os.path.basename(r["f"]), set()).add(r["b"])
            assert got == {f: {b} for f, b in buckets.items()}

            pattern = "Exchange hashpartitioning"
            assert pattern not in _plan(out["edges"].groupBy("subj_id").count())
            n_edges = out["edges"].count()

            # fresh session: the files stay, the catalog entry is gone
            spark.sql(f"DROP TABLE {run.edges_table}")
            rerun = PipelineRun(spark, workdir)
            again = rerun.run(tiny_df)
            assert rerun.stages_run == []
            assert pattern not in _plan(again["edges"].groupBy("subj_id").count())
            assert again["edges"].count() == n_edges
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {run.edges_table}")


def test_resume_reattaches_under_a_quoted_workdir(spark, tiny_df, tmp_path):
    """A workdir whose path holds a quote resumes its edges stage: the
    re-attach escapes the path it splices into the table's LOCATION."""
    workdir = str(tmp_path / "o'brien" / "kg")
    run = PipelineRun(spark, workdir)
    try:
        n_edges = run.run(tiny_df)["edges"].count()
        spark.sql(f"DROP TABLE {run.edges_table}")
        rerun = PipelineRun(spark, workdir)
        again = rerun.run(tiny_df)
        assert rerun.stages_run == []
        assert again["edges"].count() == n_edges
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {run.edges_table}")


def test_resume_without_a_recorded_count_fails_loud(spark, tiny_df, tmp_path):
    """An edges directory whose commit record carries no bucket count
    (written before counts were recorded) is not re-attached with a
    guessed count: resume raises and names the directory to delete."""
    workdir = str(tmp_path / "kg")
    run = PipelineRun(spark, workdir)
    try:
        run.run(tiny_df)
        metrics = os.path.join(workdir, METRICS)
        records = read_records(workdir)
        with open(metrics, "w") as fh:
            for r in records:
                r.pop("buckets", None)
                fh.write(json.dumps(r, sort_keys=True) + "\n")
        spark.sql(f"DROP TABLE {run.edges_table}")
        with pytest.raises(RuntimeError, match="delete that directory") as err:
            PipelineRun(spark, workdir).run(tiny_df)
        assert run.catalog.path("edges") in str(err.value)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {run.edges_table}")
