"""Alias-dictionary delta maintenance (operators/linking.py):
pluggable dim + relink_for_alias_delta — after appending new aliases to
the dictionary, only gram-overlapping surfaces are re-linked, and the
result equals a full recompute against the updated dictionary."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tests.conftest import assert_pdf_equal
from transner_spark.data.aliases import ensure_alias_dim_parquet
from transner_spark.operators.annotate import explode_triples
from transner_spark.operators.linking import (
    link_surfaces,
    node_surfaces,
    relink_for_alias_delta,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_alias_delta_relink_equals_full(spark, annotated):
    """Dictionary-append two-speed path: link against a dictionary
    missing ~1/5 of its aliases, append the slice as a delta, re-link
    ONLY the gram-affected surfaces — identical to linking everything
    against the full dictionary (which the kg_links gate already pins
    against SQL)."""
    surfaces = node_surfaces(explode_triples(annotated))
    full_dim = spark.read.parquet(ensure_alias_dim_parquet(REPO))
    is_delta = F.pmod(F.abs(F.xxhash64("alias")), F.lit(5)) == F.lit(0)
    base_dim = full_dim.where(~is_delta)
    delta = full_dim.where(is_delta)
    assert delta.count() > 0 and base_dim.count() > 0

    base_links = link_surfaces(spark, surfaces, alias_dim=base_dim)
    got = relink_for_alias_delta(
        spark, base_links, delta, alias_dim=full_dim
    ).toPandas()
    want = link_surfaces(spark, surfaces).toPandas()  # default: full dim
    assert_pdf_equal(got, want, ["norm_key"])
    assert len(got) == len(want)  # still one row per surface


def test_alias_delta_relink_bounds_work(spark, annotated):
    """The asymptote claim: a delta whose grams overlap nothing leaves
    the link table untouched without re-linking anything (affected set
    empty), and a real delta re-links strictly fewer surfaces than a
    full recompute would."""
    surfaces = node_surfaces(explode_triples(annotated))
    full_dim = spark.read.parquet(ensure_alias_dim_parquet(REPO))
    links = link_surfaces(spark, surfaces)

    # a delta alias over an alphabet no surface uses: zero affected
    noop_delta = spark.createDataFrame(
        [(999_999, "E_NOOP", "@@@@@@@@", "PER", "@@@@@@@@")],
        "alias_id long, entity_key string, alias string, type string,"
        " norm string",
    ).select(*full_dim.columns)
    got = relink_for_alias_delta(
        spark, links, noop_delta, alias_dim=full_dim.unionByName(noop_delta)
    ).toPandas()
    assert_pdf_equal(got, links.toPandas(), ["norm_key"])

    # a real slice affects some surfaces but far from all
    is_delta = F.pmod(F.abs(F.xxhash64("alias")), F.lit(5)) == F.lit(0)
    delta = full_dim.where(is_delta)
    from transner_spark.operators.linking import _affected_surfaces

    n_affected = _affected_surfaces(links, delta).count()
    n_total = links.count()
    assert 0 < n_affected < n_total
