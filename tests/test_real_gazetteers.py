"""Run the gazetteer rule kernels against the REAL reference data files
(/root/reference/worldcities/worldcities.csv — 15,493 cities;
/root/reference/transner/transner/religions.txt — 744 lines), not the
small committed fixtures. VERDICT r1 item 4: multiword, diacritic, and
punctuation-bearing entries ('s-Hertogenbosch, Zürich, Shintō) could
expose R2 edge cases the fixture masks.

These tests read the reference data files as INPUT DATA (the loaders
take a path); no reference code is imported.
"""

from __future__ import annotations

import os

import pytest

from transner_spark.data.gazetteers import load_cities_set, load_religions_set
from transner_spark.kernels.rules import find_religions

REAL_CITIES = "/root/reference/worldcities/worldcities.csv"
REAL_RELIGIONS = "/root/reference/transner/transner/religions.txt"

needs_real = pytest.mark.skipif(
    not (os.path.exists(REAL_CITIES) and os.path.exists(REAL_RELIGIONS)),
    reason="reference gazetteer files not present",
)


@needs_real
def test_real_sets_load_at_full_size():
    cities = load_cities_set(REAL_CITIES)
    religions = load_religions_set(REAL_RELIGIONS)
    # 15,493 data rows; city ∪ city_ascii lowered dedupes to ~15.6k
    assert len(cities) > 15000
    # both the unicode and the ascii spelling must be present
    assert "zürich" in cities and "zurich" in cities
    assert "’s-hertogenbosch" in cities and "'s-hertogenbosch" in cities
    assert "new york" in cities
    # the real set contains common words too ("nord" is a city) — the
    # false-positive surface the fixture masks
    assert "nord" in cities
    assert 600 < len(religions) <= 744
    assert "shinto" in religions


@needs_real
def test_religion_first_occurrence_with_real_set():
    """R2 on the real set, including the first-occurrence offset quirk:
    the offset of every hit is sentence.lower().index(word) — so a
    repeated religion word reports the FIRST occurrence twice."""
    religions = load_religions_set(REAL_RELIGIONS)
    s = "Shinto shrines and Shinto rituals"
    got = find_religions(s, religions)
    assert [(e["type"], e["value"], e["offset"]) for e in got] == [
        ("RELIGION", "Shinto", 0),
        ("RELIGION", "Shinto", 0),  # quirk: .index() finds the first
    ]


@needs_real
def test_religion_diacritic_entry_real_set():
    religions = load_religions_set(REAL_RELIGIONS)
    got = find_religions("il culto Koshintō è antico", religions)
    assert [(e["value"], e["offset"]) for e in got] == [("Koshintō", 9)]


@needs_real
def test_full_ner_batch_with_real_gazetteers():
    """End-to-end ner_batch with the REAL religion set wired in via the
    config's gazetteer path: the religion hit appears in the pipeline output
    with the first-occurrence offset and rule confidence 0.9."""
    from transner_spark.config import PipelineConfig
    from transner_spark.kernels.ner_pipeline import ner_batch

    cfg = PipelineConfig(religions_path=REAL_RELIGIONS)
    sentence = "I monaci seguono lo Shinto in Giappone ."
    out = ner_batch([sentence], cfg=cfg)
    hits = [
        e
        for e in out[0]["entities"]
        if e["type"] == "RELIGION" and e["source"] == "gazetteer"
    ]
    assert [(e["value"], e["offset"], e["confidence"]) for e in hits] == [
        ("Shinto", 20, 0.9)
    ]
    # prove the REAL file (not the fixture) was loaded: an entry only
    # the real religions.txt contains must also hit end-to-end
    assert "amish" not in load_religions_set()  # the packaged fixture
    out2 = ner_batch(["the Amish community settled here"], cfg=cfg)
    assert any(
        e["type"] == "RELIGION" and e["value"] == "Amish"
        for e in out2[0]["entities"]
    )
