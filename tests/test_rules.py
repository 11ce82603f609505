"""Kernel tests: regex PII, gazetteers, overlap predicate
(reference ner.py:212-362)."""

from __future__ import annotations

import pytest

from transner_spark.data.gazetteers import load_religions_set
from transner_spark.kernels.rules import (
    check_opening_time,
    find_from_regex,
    find_overlap,
    find_religions,
)


def _one(sentence, type_):
    return [e for e in find_from_regex(sentence) if e["type"] == type_]


@pytest.mark.parametrize(
    "sentence,type_,value",
    [
        ("codice DMRFNC80E01F205B qui", "IT_FISCAL_CODE", "DMRFNC80E01F205B"),
        ("iban IT6012345678901234567890 ok", "EU_IBAN", "IT6012345678901234567890"),
        ("bsn 123456789 daar", "NL_CITIZEN_SERVICE_NUMBER", "123456789"),
        ("nino AB123456C here", "UK_NATIONAL_ID_NUMBER", "AB123456C"),
        ("call 0865989886 now", "EU_PHONE_NUMBER", "0865989886"),
        # ([\.0-9]+){10} needs no digit: a digit-only prefilter would drop it
        ("wait .......... ok", "EU_PHONE_NUMBER", ".........."),
        ("mail a.b@example.com x", "EMAIL_ADDRESS", "a.b@example.com"),
        ("ip 192.168.0.1. x", "IPV4_ADDRESS", "192.168.0.1."),
        ("vedi [URL_3] ora", "URI", "[URL_3]"),
    ],
)
def test_regex_positive(sentence, type_, value):
    hits = _one(sentence, type_)
    assert value in [h["value"] for h in hits]
    h = [x for x in hits if x["value"] == value][0]
    assert sentence[h["offset"] : h["offset"] + len(h["value"])] == h["value"]
    assert h["confidence"] == 0.9


def test_regex_boundary_trim_positions():
    # sentence-initial, mid, final, adjacent to '.,:' (FIXTURES.md F3)
    for s in ["AB123456C in testa", "in coda AB123456C", "x: AB123456C, y"]:
        hits = _one(s, "UK_NATIONAL_ID_NUMBER")
        assert [h["value"] for h in hits] == ["AB123456C"]
        h = hits[0]
        assert s[h["offset"] : h["offset"] + 9] == "AB123456C"


def test_regex_no_substring_match():
    # a 10-digit run must not yield a 9-digit NL bsn (ner.py:50-51 comment)
    assert _one("num 1234567890 x", "NL_CITIZEN_SERVICE_NUMBER") == []


def test_religion_first_occurrence_quirk():
    rels = load_religions_set()
    assert "taoism" in rels
    s = "Taoism here and Taoism there; Taoism everywhere"
    hits = find_religions(s, rels)
    # three words match but all offsets point at the FIRST occurrence
    assert len(hits) == 3
    assert all(h["offset"] == 0 for h in hits)
    assert all(h["value"] == "Taoism" for h in hits)


def test_religion_multiword_never_matches():
    rels = load_religions_set()
    multi = [r for r in rels if " " in r]
    assert multi, "fixture must keep multi-word religions (FIXTURES.md F2)"
    s = f"discussing {multi[0]} today"
    values = [h["value"].lower() for h in find_religions(s, rels)]
    assert multi[0] not in values


@pytest.mark.parametrize(
    "cs,ce,expected",
    [
        (0, 7, True),    # case 1: partial overlap left
        (6, 8, True),    # case 2: containment
        (8, 20, True),   # case 3: partial overlap right
        (5, 10, True),   # case 4: identity
        (5, 7, True),    # case 5: shared start
        (0, 5, True),    # case 5bis: candidate ends AT entity start (adjacency!)
        (7, 10, True),   # case 6: shared end
        (10, 14, True),  # case 6bis: candidate starts AT entity end (adjacency!)
        (2, 12, True),   # case 7: candidate contains entity
        (0, 3, False),
        (12, 15, False),
    ],
)
def test_overlap_predicate_cases(cs, ce, expected):
    # entity spans [5, 10)
    entities = [{"offset": 5, "value": "abcde"}]
    assert find_overlap(entities, cs, ce) is expected


def test_check_opening_time():
    assert check_opening_time([{"type": "LOCATION"}]) == "T_OPENING"
    assert check_opening_time([{"type": "ORGANIZATION"}]) == "T_OPENING"
    assert check_opening_time([{"type": "PERSON"}]) == "TIME"
    assert check_opening_time([]) == "TIME"


class TestFindDates:
    def test_numeric_and_textual_dates(self):
        from transner_spark.kernels.rules import find_dates

        out = find_dates("Nato il 13/08/1983 e il 14 agosto 1990.", [])
        assert [e["value"] for e in out] == ["13/08/1983", "14 agosto 1990"]
        assert all(e["type"] == "TIME" for e in out)
        assert all(e["confidence"] == 0.9 for e in out)

    def test_t_opening_with_org_present(self):
        from transner_spark.kernels.rules import find_dates

        ents = [{"type": "ORGANIZATION", "value": "ACME", "offset": 0,
                 "confidence": 0.9}]
        out = find_dates("ACME opens 13/08/1983.", ents)
        assert out[0]["type"] == "T_OPENING"

    def test_overlap_with_entity_skipped(self):
        from transner_spark.kernels.rules import find_dates

        # entity span covers the date → reference skips it (ner.py:299-301)
        ents = [{"type": "MISCELLANEOUS", "value": "il 13/08/1983", "offset": 5,
                 "confidence": 0.9}]
        out = find_dates("Nato il 13/08/1983.", ents)
        assert out == []

    def test_spark_flag_emits_date_mentions(self, spark):
        import pandas as pd

        from transner_spark.config import PipelineConfig
        from transner_spark.operators.annotate import annotate_turns, explode_mentions

        df = spark.createDataFrame(pd.DataFrame({
            "conv_id": ["c0"], "turn_idx": [0], "role": ["user"],
            "text": ["Meeting on 1983-08-13."], "tool": [None],
            "ts": [pd.Timestamp("2026-01-01")],
        }))
        cfg = PipelineConfig(apply_dates=True)
        m = explode_mentions(annotate_turns(df, cfg)).collect()
        assert any(r["source"] == "date" and r["value"] == "1983-08-13" for r in m)

    def test_dates_off_by_default(self):
        from transner_spark.config import PipelineConfig

        assert PipelineConfig().apply_dates is False


class TestFindDatesProperties:
    def test_random_text_never_crashes_and_offsets_valid(self):
        import random

        from transner_spark.kernels.rules import find_dates

        rng = random.Random(42)
        vocab = ["13/08/1983", "word", "1983-08-13", ".", "a", "14 agosto 1990",
                 "x" * 30, "12/31/2020", "99/99/9999"]
        for _ in range(200):
            s = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 12)))
            out = find_dates(s, [])
            for e in out:
                assert s[e["offset"]:e["offset"] + len(e["value"])] == e["value"]
            # spans are non-overlapping and ordered
            ends = [e["offset"] + len(e["value"]) for e in out]
            starts = [e["offset"] for e in out]
            assert all(a >= b for a, b in zip(starts[1:], ends[:-1]))
