"""The linking rules through an ``alias_dim`` override, against the
independent DuckDB derivation (``oracles.kg_links_sql``) over the same
dictionary parquet; the width of the linking pass; and empty input."""

from __future__ import annotations

import duckdb
import pandas as pd

from transner_spark.operators.annotate import explode_triples
from transner_spark.operators.linking import link_surfaces, node_surfaces
from transner_spark.oracles import kg_links_sql
from transner_spark.sources.catalog import read_records, task_row_counts

LINK_COLUMNS = ["norm_key", "entity_key", "score", "method"]
TRIPLE_COLUMNS = ["subj_type", "subj_norm", "obj_type", "obj_norm"]
TRIPLE_SCHEMA = ", ".join(f"{c} string" for c in TRIPLE_COLUMNS)


def _links_both_ways(spark, tmp_path, aliases, triples):
    """(Spark links, DuckDB links) for ``triples`` against a dictionary
    of ``aliases`` = [(entity_key, alias/norm)], each sorted by norm_key."""
    dim = str(tmp_path / "alias_dim.parquet")
    pd.DataFrame(
        [(i, k, a, "MISCELLANEOUS", a) for i, (k, a) in enumerate(aliases)],
        columns=["alias_id", "entity_key", "alias", "type", "norm"],
    ).to_parquet(dim, index=False)
    tri = pd.DataFrame(triples, columns=TRIPLE_COLUMNS, dtype="object")

    got = link_surfaces(
        spark,
        node_surfaces(spark.createDataFrame(tri, TRIPLE_SCHEMA)),
        alias_dim=spark.read.parquet(dim),
    ).toPandas()
    con = duckdb.connect()
    con.register("tri", tri)
    want = con.execute(kg_links_sql("tri", dim)).fetchdf()
    return (
        got.sort_values("norm_key").reset_index(drop=True),
        want.sort_values("norm_key").reset_index(drop=True),
    )


def _rows(df) -> list[tuple]:
    return [
        (r.norm_key, None if pd.isna(r.entity_key) else r.entity_key, r.score, r.method)
        for r in df.itertuples(index=False)
    ]


def test_exact_norm_under_two_keys_resolves_to_min_key(spark, tmp_path):
    got, want = _links_both_ways(
        spark,
        tmp_path,
        [("misc:zeta", "porta nuova"), ("misc:alpha", "porta nuova")],
        [("MISCELLANEOUS", "porta nuova", "MISCELLANEOUS", "qqq")],
    )
    assert _rows(got) == _rows(want) == [
        ("porta nuova", "misc:alpha", 1.0, "exact"),
        ("qqq", None, 0.0, "none"),
    ]


def test_fuzzy_tie_resolves_to_min_entity_key(spark, tmp_path):
    # "abcdefz" shares 5 of 9 grams with each alias: J = 5/9 for both.
    # The smaller alias belongs to the larger key, so entity_key, not
    # alias, must decide.
    got, want = _links_both_ways(
        spark,
        tmp_path,
        [("misc:b", "abcdefx"), ("misc:a", "abcdefy")],
        [("MISCELLANEOUS", "abcdefz", "AGENT", "agent:user")],
    )
    assert _rows(got) == _rows(want) == [("abcdefz", "misc:a", 5 / 9, "fuzzy")]


def test_empty_surfaces_give_empty_links(spark, tmp_path):
    got, want = _links_both_ways(spark, tmp_path, [("misc:a", "abcdefy")], [])
    assert got.empty and want.empty
    assert list(got.columns) == LINK_COLUMNS
    links = link_surfaces(spark, spark.createDataFrame([], "norm_key string"))
    assert links.schema.simpleString() == (
        "struct<norm_key:string,entity_key:string,score:double,method:string>"
    )
    assert links.count() == 0


def test_surfaces_are_linked_by_default_parallelism_tasks(spark, annotated, tmp_path):
    dp = spark.sparkContext.defaultParallelism
    surfaces = node_surfaces(explode_triples(annotated))
    assert surfaces.count() >= dp
    path = str(tmp_path / "links")
    link_surfaces(spark, surfaces).write.parquet(path)
    assert len(task_row_counts(path)) == dp


def test_pipeline_without_node_surfaces_commits_empty_links(spark, tiny_pdf, tmp_path):
    from transner_spark.plans.pipeline import PipelineRun

    # no entity in any turn; the tool turns still give (structural)
    # agent → tool triples
    pdf = tiny_pdf.head(6).assign(text="ok, thanks", tool="search")
    run = PipelineRun(spark, str(tmp_path / "kg"), run_id="r")
    try:
        out = run.run(spark.createDataFrame(pdf))
        n_links = out["links"].count()
        n_triples = out["triples"].count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {run.edges_table}")
    assert n_triples > 0
    assert "links" in run.stages_run
    [commit] = [r for r in read_records(run.catalog.root) if r["stage"] == "links"]
    assert commit["rows_written"] == 0 and n_links == 0
    assert list(out["links"].columns) == LINK_COLUMNS

