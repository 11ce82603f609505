"""Correctness checks, run outside every timed region.

The batch check re-derives links, canonical and edges with the DuckDB
oracle chain (``oracles.kg_links_sql`` -> ``kg_canonical_sql`` ->
``kg_edges_sql``) from the triples table the run itself committed, and
compares them with the committed links, canonical and edges tables.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Order- and dtype-insensitive form of a result table."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        dt = str(df[c].dtype)
        if dt.startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        elif dt.startswith("float"):
            df[c] = df[c].astype("float64").round(9)
        elif dt == "object":
            df[c] = df[c].where(pd.notna(df[c]), None)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal, else a one-line reason."""
    g, w = normalize(got), normalize(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return str(e).splitlines()[0]
    return None


def _src(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = false)"


def _oracle_chain(con, alias_dim: str, transcripts: str) -> pd.DataFrame:
    """Derive links, canonical (as tables) and edges (returned) in DuckDB
    from the ``triples`` view already defined on ``con``."""
    from transner_spark.oracles import kg_canonical_sql, kg_edges_sql, kg_links_sql

    con.execute(f"CREATE TABLE want_links AS {kg_links_sql('triples', alias_dim)}")
    con.execute(f"CREATE TABLE want_canon AS {kg_canonical_sql('want_links')}")
    return con.sql(kg_edges_sql("triples", "want_canon", transcripts)).df()


def _triples_view(con, workdir: str, where: str = "") -> None:
    con.execute(
        "CREATE VIEW triples AS SELECT * EXCLUDE (ts) FROM "
        + _src(os.path.join(workdir, "triples"))
        + where
    )


def check_pipeline(workdir: str, transcripts: str, alias_dim: str) -> dict[str, str | None]:
    """Compare one committed PipelineRun catalog with the oracle chain run
    on the triples the job committed. Returns {table: None | reason}."""
    con = duckdb.connect()
    try:
        _triples_view(con, workdir)
        want_edges = _oracle_chain(con, alias_dim, transcripts)
        got = {
            t: con.sql(f"SELECT * FROM {_src(os.path.join(workdir, t))}").df()
            for t in ("links", "canonical")
        }
        got["edges"] = con.sql(
            "SELECT subj_id, pred, obj_id, CAST(weight AS BIGINT) AS weight, "
            "CAST(floor(epoch(first_ts)) AS BIGINT) AS first_epoch, "
            "CAST(floor(epoch(last_ts)) AS BIGINT) AS last_epoch "
            f"FROM {_src(os.path.join(workdir, 'edges'))}"
        ).df()
        want_links = con.sql("SELECT * FROM want_links").df()
        want_canon = con.sql("SELECT * FROM want_canon").df()
    finally:
        con.close()
    return {
        "links": frames_equal(
            got["links"][["norm_key", "entity_key", "score", "method"]], want_links
        ),
        "canonical": frames_equal(got["canonical"][["node_id", "canon_id"]], want_canon),
        "edges": frames_equal(got["edges"], want_edges),
    }


def check_served_edges(
    served: pd.DataFrame,
    workdir: str,
    conv_ids: list[str],
    transcripts: str,
    alias_dim: str,
) -> str | None:
    """Compare served edges (subj_id, pred, obj_id, weight, first_epoch,
    last_epoch) of the conversations ``conv_ids`` with the oracle chain
    run on those conversations' triples from a committed job catalog."""
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE fed (conv_id VARCHAR)")
        con.executemany("INSERT INTO fed VALUES (?)", [(c,) for c in conv_ids])
        _triples_view(con, workdir, " WHERE conv_id IN (SELECT conv_id FROM fed)")
        want = _oracle_chain(con, alias_dim, transcripts)
    finally:
        con.close()
    return frames_equal(served, want)
