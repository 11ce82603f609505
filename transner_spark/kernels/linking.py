"""Entity-linking kernel: normalization, char n-grams, Jaccard scoring.

North-rule stage: blocking + candidate generation + similarity scoring
against the alias dictionary. The *deterministic* algorithm (used by both
the oracle and the default Spark operator) is:

1. exact match on the normalized surface (a broadcast equi-join in Spark);
2. for the residual, candidates = aliases sharing ≥1 character 3-gram with
   the mention (an inverted-index join in Spark — explode n-grams, equi-join
   on the gram, dedupe pairs), scored by exact Jaccard over the 3-gram sets;
3. keep score ≥ threshold; pick the best per mention with a total
   deterministic order (score desc, entity_key asc, alias asc).

The Spark operator (operators/linking.link_surfaces) runs this same
deterministic algorithm and has no probabilistic (MinHash-LSH) variant;
its Jaccard size filter is exact, so ``link_one`` is its reference.
"""

from __future__ import annotations

from functools import lru_cache

from transner_spark.data.aliases import build_alias_rows
from transner_spark.kernels.triples import normalize_surface


def char_ngrams(s: str, n: int = 3) -> frozenset[str]:
    """Character n-grams of the padded normalized string. Padding with
    word-boundary markers keeps short strings linkable."""
    padded = f"^{s}$"
    if len(padded) < n:
        return frozenset((padded,))
    return frozenset(padded[i : i + n] for i in range(len(padded) - n + 1))


def jaccard(a: frozenset[str], b: frozenset[str]) -> float:
    if not a and not b:
        return 0.0
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


@lru_cache(maxsize=None)
def alias_index(ngram: int = 3):
    """(exact_map, gram_index, alias_grams) over the alias dictionary —
    the oracle's in-memory analogue of the broadcast dim table."""
    exact: dict[str, tuple[str, str]] = {}
    gram_index: dict[str, set[int]] = {}
    alias_rows = build_alias_rows()
    grams_list = []
    for idx, (entity_key, alias, _type) in enumerate(alias_rows):
        norm = normalize_surface(alias)
        if norm not in exact or (exact[norm][0] > entity_key):
            # deterministic winner on duplicate normalized aliases
            exact[norm] = (entity_key, alias)
        g = char_ngrams(norm, ngram)
        grams_list.append(g)
        for gram in g:
            gram_index.setdefault(gram, set()).add(idx)
    return exact, gram_index, grams_list, alias_rows


def link_one(
    value: str, threshold: float = 0.5, ngram: int = 3
) -> tuple[str | None, float, str]:
    """Link one mention surface → (entity_key | None, score, method)."""
    norm = normalize_surface(value)
    exact, gram_index, grams_list, alias_rows = alias_index(ngram)
    hit = exact.get(norm)
    if hit is not None:
        return hit[0], 1.0, "exact"
    if not norm:
        return None, 0.0, "none"
    g = char_ngrams(norm, ngram)
    cand_ids: set[int] = set()
    for gram in g:
        cand_ids |= gram_index.get(gram, set())
    best: tuple[float, str, str] | None = None  # (-score, entity_key, alias)
    for idx in cand_ids:
        score = jaccard(g, grams_list[idx])
        if score < threshold:
            continue
        entity_key, alias, _ = alias_rows[idx]
        cand = (-score, entity_key, alias)
        if best is None or cand < best:
            best = cand
    if best is None:
        return None, 0.0, "none"
    return best[1], -best[0], "fuzzy"
