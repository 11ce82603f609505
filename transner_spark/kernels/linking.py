"""Entity-linking kernel: char n-grams, the alias index, and the one
linking pass every engine runs.

North-rule stage: blocking + candidate generation + similarity scoring
against the alias dictionary. ``link_norms`` is the one implementation:

1. exact match on the normalized surface → (min entity_key, 1.0, exact);
2. otherwise, candidates = aliases sharing ≥1 character n-gram with the
   surface (the index's gram postings also count the shared grams),
   scored by exact Jaccard over the distinct gram sets;
3. keep score ≥ threshold; pick the best by score desc, entity_key asc,
   alias asc → fuzzy, else (None, 0.0, none).

``build_index`` is the one index builder: the Spark operator
(operators/linking.link_surfaces) calls ``link_norms`` in one
``mapInArrow`` pass over ``alias_index`` (or over an index built from
an ``alias_dim`` override's rows), and ``link_one`` and the single-node
oracle (kernels/oracle.oracle_links) over ``alias_index`` too. The
DuckDB ``oracles.kg_links_sql`` re-derives the same rules independently.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterable, Iterator
from functools import lru_cache
from typing import NamedTuple

from transner_spark.data.aliases import build_alias_rows
from transner_spark.kernels.triples import normalize_surface


def char_ngrams(s: str, n: int = 3) -> frozenset[str]:
    """Character n-grams of the padded normalized string. Padding with
    word-boundary markers keeps short strings linkable."""
    padded = f"^{s}$"
    if len(padded) < n:
        return frozenset((padded,))
    return frozenset(padded[i : i + n] for i in range(len(padded) - n + 1))


class AliasIndex(NamedTuple):
    """The alias dictionary as ``link_norms`` reads it. ``exact`` maps a
    normalized alias to its min entity_key; ``postings`` maps a gram to
    the positions of the aliases holding it; alias ``i`` has
    ``n_grams[i]`` distinct grams and is ``names[i]`` = (entity_key,
    alias)."""

    ngram: int
    exact: dict[str, str]
    postings: dict[str, list[int]]
    n_grams: list[int]
    names: list[tuple[str, str]]


def build_index(rows: Iterable[tuple[str, str, str]], ngram: int) -> AliasIndex:
    """Index dictionary rows ``(entity_key, alias, norm)``: the exact
    map keeps the min entity_key for each norm (duplicate normalized
    aliases resolve to it), and each alias posts its ``char_ngrams``."""
    exact: dict[str, str] = {}
    postings: dict[str, list[int]] = {}
    n_grams: list[int] = []
    names: list[tuple[str, str]] = []
    for i, (entity_key, alias, norm) in enumerate(rows):
        if norm not in exact or exact[norm] > entity_key:
            exact[norm] = entity_key
        grams = char_ngrams(norm, ngram)
        names.append((entity_key, alias))
        n_grams.append(len(grams))
        for gram in grams:
            postings.setdefault(gram, []).append(i)
    return AliasIndex(ngram, exact, postings, n_grams, names)


@lru_cache(maxsize=None)
def alias_index(ngram: int = 3) -> AliasIndex:
    """The index over the built-in alias dictionary (data/aliases)."""
    return build_index(
        ((k, a, normalize_surface(a)) for k, a, _type in build_alias_rows()), ngram
    )


def link_norms(
    norms: Iterable[str], index: AliasIndex, threshold: float
) -> Iterator[tuple[str | None, float, str]]:
    """(entity_key | None, score, method) for each normalized surface."""
    postings, n_grams, names = index.postings, index.n_grams, index.names
    for norm in norms:
        key = index.exact.get(norm)
        if key is not None:
            yield key, 1.0, "exact"
            continue
        best: tuple[float, str, str] | None = None  # (-score, entity_key, alias)
        if norm:
            grams = char_ngrams(norm, index.ngram)
            shared: Counter[int] = Counter()
            for gram in grams:
                shared.update(postings.get(gram, ()))
            m = len(grams)
            for i, inter in shared.items():
                score = inter / (m + n_grams[i] - inter)
                cand = (-score, *names[i])
                if score >= threshold and (best is None or cand < best):
                    best = cand
        if best is None:
            yield None, 0.0, "none"
        else:
            yield best[1], -best[0], "fuzzy"


def link_one(
    value: str, threshold: float = 0.5, ngram: int = 3
) -> tuple[str | None, float, str]:
    """Link one mention surface → (entity_key | None, score, method)."""
    return next(
        link_norms([normalize_surface(value)], alias_index(ngram), threshold)
    )
