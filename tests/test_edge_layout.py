"""The committed edge table is the one bucketed layout: whatever the
write's task count, each bucket is one file holding only the six edge
columns, and subj_id reads plan no shuffle — also once the catalog entry
is lost and the run resumes."""

from __future__ import annotations

import os
import re
from contextlib import contextmanager

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from transner_spark.plans.pipeline import PipelineRun

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
            # each file holds exactly the subjects of the bucket its name
            # records: Spark's bucket id is pmod(hash(subj_id), n)
            n = run.cfg.edge_buckets
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
