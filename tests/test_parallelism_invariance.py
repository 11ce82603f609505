"""Determinism across parallelism: the KG pipeline's outputs must be
IDENTICAL (not just statistically equal) under a different core count
and shuffle-partition count — the property that makes the N-vs-4N
scaling claim meaningful and reruns reproducible.

The alternate-parallelism run (local[2], 5 shuffle partitions) executes
in a SUBPROCESS because a JVM hosts one SparkContext; its outputs are
written as parquet and compared row-for-row against the session-fixture
run (local[4], 4 shuffle partitions).
"""

from __future__ import annotations

import os
import subprocess
import sys

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_ALT_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
import pandas as pd
from transner_spark.functions.session import get_spark
from transner_spark.operators.annotate import annotate_turns, explode_triples
from transner_spark.operators.canonicalize import canonicalize
from transner_spark.operators.linking import link_surfaces, node_surfaces
from transner_spark.operators.materialize import materialize_edges

spark = get_spark(master="local[2]", app_name="invariance_alt",
                  shuffle_partitions=5)
pdf = pd.read_parquet({pdf_path!r})
t = spark.createDataFrame(pdf)
triples = explode_triples(annotate_turns(t))
links = link_surfaces(spark, node_surfaces(triples))
canon = canonicalize(links)
edges = materialize_edges(triples, canon)
out = {out_dir!r}
triples.drop("ts").toPandas().to_parquet(out + "/triples.parquet")
links.toPandas().to_parquet(out + "/links.parquet")
canon.toPandas().to_parquet(out + "/canonical.parquet")
edges.toPandas().to_parquet(out + "/edges.parquet")
spark.stop()
"""

SORT_KEYS = {
    "triples": ["conv_id", "turn_idx", "subj_norm", "pred", "obj_norm"],
    "links": ["norm_key"],
    "canonical": ["node_id"],
    "edges": ["subj_id", "pred", "obj_id"],
}


def test_pipeline_invariant_under_parallelism(spark, tiny_pdf, tmp_path):
    from transner_spark.operators.annotate import annotate_turns, explode_triples
    from transner_spark.operators.canonicalize import canonicalize
    from transner_spark.operators.linking import link_surfaces, node_surfaces
    from transner_spark.operators.materialize import materialize_edges

    t = spark.createDataFrame(tiny_pdf)
    triples = explode_triples(annotate_turns(t))
    links = link_surfaces(spark, node_surfaces(triples))
    canon = canonicalize(links)
    edges = materialize_edges(triples, canon)
    base = {
        "triples": triples.drop("ts").toPandas(),
        "links": links.toPandas(),
        "canonical": canon.toPandas(),
        "edges": edges.toPandas(),
    }

    pdf_path = str(tmp_path / "input.parquet")
    tiny_pdf.to_parquet(pdf_path)
    out_dir = str(tmp_path / "alt")
    os.makedirs(out_dir)
    script = _ALT_SCRIPT.format(repo=REPO, pdf_path=pdf_path, out_dir=out_dir)
    subprocess.run(
        [sys.executable, "-c", script],
        check=True,
        timeout=600,
        capture_output=True,
    )

    for name, keys in SORT_KEYS.items():
        l = (
            base[name]
            .sort_values(keys, kind="mergesort")
            .reset_index(drop=True)
        )
        r = (
            pd.read_parquet(os.path.join(out_dir, f"{name}.parquet"))[
                l.columns.tolist()
            ]
            .sort_values(keys, kind="mergesort")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(l, r, check_dtype=False)
        assert len(l) > 0, name
