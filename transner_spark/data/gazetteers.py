"""Gazetteer loading.

Reference semantics: /root/reference/transner/transner/ner.py:117-126 —
worldcities.csv is reduced to ``lower(city) ∪ lower(city_ascii)``;
religions.txt is a lowercased line set skipping blanks.

The sets are tiny (hundreds to a few tens of thousands of entries even at
full size), so on Spark they travel either as an ``sc.broadcast`` or simply
as module-level lazy singletons inside each Python worker — both avoid any
shuffle. Loaders are cached per process.

Without a ``path``, loaders read the packaged fixture through
``importlib.resources``, so the ``make dist`` zip works too.
"""

from __future__ import annotations

import csv
from functools import lru_cache
from importlib import resources


def _open(path: str | None, fixture: str):
    """``path`` if given, else the packaged ``fixture``, opened as text."""
    if path:
        return open(path, newline="", encoding="utf-8")
    fixture_file = resources.files(__package__).joinpath(fixture)
    return fixture_file.open("r", newline="", encoding="utf-8")


@lru_cache(maxsize=None)
def load_cities_set(path: str | None = None) -> frozenset[str]:
    """lower(city) ∪ lower(city_ascii) — ner.py:117-119."""
    out: set[str] = set()
    with _open(path, "cities_fixture.csv") as f:
        for row in csv.DictReader(f):
            out.add(row["city"].lower())
            out.add(row["city_ascii"].lower())
    return frozenset(out)


@lru_cache(maxsize=None)
def load_religions_set(path: str | None = None) -> frozenset[str]:
    """Nonblank lines, stripped and lowercased — ner.py:121-126.

    Multi-word entries are kept in the set even though the reference's
    single-token matcher (ner.py:244-246) can never match them — a pinned
    quirk (FIXTURES.md F2).
    """
    out: set[str] = set()
    with _open(path, "religions_fixture.txt") as f:
        for line in f:
            if line.strip() != "":
                out.add(line.strip().lower())
    return frozenset(out)


@lru_cache(maxsize=None)
def load_cities_rows(path: str | None = None) -> tuple[dict, ...]:
    """Full fixture rows (for the alias dictionary and dim-table tests)."""
    with _open(path, "cities_fixture.csv") as f:
        return tuple(csv.DictReader(f))
