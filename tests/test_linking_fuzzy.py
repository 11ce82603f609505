"""The linker's threshold boundary, checked against the independent
DuckDB derivation (``oracles.kg_links_sql``).

``link_surfaces`` keeps a fuzzy pair when its Jaccard score is
``>= threshold``. Each ``BOUNDARY`` surface's best alias scores the
threshold exactly, so a linker that dropped pairs AT the threshold (a
``>`` for the ``>=``) leaves that surface unlinked while the SQL links
it. The Spark side links against the built-in dictionary
(``kernels/linking.alias_index``); the SQL reads the committed
dictionary parquet, the same rows."""

from __future__ import annotations

import os
import random

import duckdb
import pandas as pd
import pytest

from transner_spark.config import PipelineConfig
from transner_spark.data.aliases import build_alias_rows, ensure_alias_dim_parquet
from transner_spark.kernels.linking import char_ngrams
from transner_spark.kernels.triples import normalize_surface
from transner_spark.operators.linking import link_surfaces, node_surfaces
from transner_spark.oracles import kg_links_sql

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TRIPLE_COLUMNS = ["subj_type", "subj_norm", "obj_type", "obj_norm"]

# surface, alias, threshold: the alias's grams are a subset of the
# surface's, and |alias grams| / |surface grams| == threshold exactly
# (6/12, 14/25, 7/10); 0.56 is not exactly representable as a double
BOUNDARY = {
    0.5: ("a smit de a smit", "a smit"),
    0.56: ("abn amro s p a algiers abn amro s p a", "abn amro s p a"),
    0.7: ("a bruno a bruno", "a bruno"),
}


def _surfaces() -> list[str]:
    """Long-tail 2-4-name person chains, a few exact aliases and every
    boundary surface — normalized keys, as node_surfaces emits them."""
    rows = build_alias_rows()
    people = sorted({normalize_surface(a) for _, a, t in rows if t == "PERSON"})
    names = sorted({w for p in people for w in p.split()})
    rng = random.Random(7)
    chains = {
        " ".join(rng.sample(names, rng.randint(2, 4))) for _ in range(300)
    }
    # a real full name plus one more name: the shape most chains take
    chains |= {f"{p} {rng.choice(names)}" for p in rng.sample(people, 60)}
    exact = set(rng.sample(people, 20))
    return sorted(chains | exact | {s for s, _ in BOUNDARY.values()})


@pytest.mark.parametrize("threshold", sorted(BOUNDARY))
def test_boundary_links_match_sql_oracle(spark, threshold):
    surface, alias = BOUNDARY[threshold]
    m, a = char_ngrams(surface), char_ngrams(alias)
    assert a <= m and len(a) / len(m) == threshold

    tri = pd.DataFrame(
        [("MISCELLANEOUS", s, "AGENT", "agent:user") for s in _surfaces()],
        columns=TRIPLE_COLUMNS,
    )
    got = sorted(
        tuple(r)
        for r in link_surfaces(
            spark,
            node_surfaces(spark.createDataFrame(tri)),
            PipelineConfig(link_jaccard_threshold=threshold),
        ).collect()
    )
    con = duckdb.connect()
    con.register("tri", tri)
    sql = kg_links_sql("tri", ensure_alias_dim_parquet(REPO), threshold)
    want = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert got == want
    # the boundary pair links in the oracle, at exactly the threshold
    [row] = [r for r in want if r[0] == surface]
    assert row[2:] == (threshold, "fuzzy")
    # the surface set is not vacuous at this threshold
    assert {r[3] for r in want} == {"exact", "fuzzy", "none"}
