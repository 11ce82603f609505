"""Exactness of the fuzzy linker's Jaccard size filter.

``link_surfaces`` prunes gram-join pairs with ``a_n >= t*m_n`` and
``m_n >= t*a_n`` (minus a small slack) before the pair count. The
filter must never drop a pair the ``score >= t`` filter keeps, so the
Spark operator stays value-identical to the in-memory Python linker
``kernels/linking.link_one`` at any threshold — including one whose
products ``t*n`` are not exactly representable, and at pairs whose
Jaccard equals the threshold exactly, where the size bound is tight."""

from __future__ import annotations

import random

import pytest

from transner_spark.config import PipelineConfig
from transner_spark.data.aliases import build_alias_rows
from transner_spark.kernels.linking import char_ngrams, link_one
from transner_spark.kernels.triples import normalize_surface
from transner_spark.operators.linking import link_surfaces

# surface, alias, threshold: the alias's grams are a subset of the
# surface's, and |alias grams| / |surface grams| == threshold exactly
# (6/12, 14/25, 7/10), so the winning pair sits on the size bound; at
# 0.56 the float product 0.56*25 rounds ABOVE 14, so the pair survives
# only through the filter's slack
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
def test_size_filter_matches_python_linker(spark, threshold):
    surfaces = _surfaces()
    surface, alias = BOUNDARY[threshold]
    m, a = char_ngrams(surface), char_ngrams(alias)
    assert a <= m and len(a) / len(m) == threshold
    # on the size bound in float arithmetic (past it at 0.56)
    assert threshold * len(m) >= len(a)
    assert link_one(surface, threshold)[1:] == (threshold, "fuzzy")

    df = spark.createDataFrame([(s,) for s in surfaces], "norm_key string")
    got = sorted(
        tuple(r)
        for r in link_surfaces(
            spark, df, PipelineConfig(link_jaccard_threshold=threshold)
        ).collect()
    )
    want = sorted((s, *link_one(s, threshold)) for s in surfaces)
    assert got == want
    # the surface set is not vacuous at this threshold
    methods = {r[3] for r in got}
    assert methods == {"exact", "fuzzy", "none"}
