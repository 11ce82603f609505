"""Rule-based extractors: regex PII, gazetteers, date overlap predicate.

Reference semantics: /root/reference/transner/transner/ner.py:48-64 (the
patterns — copied verbatim because they ARE the semantics, including the
Python-`re`-specific ``[]?`` construct in EU_IBAN, which parses as a
character class ``[]?[0-9]``), ner.py:212-269 (regex + gazetteers),
ner.py:312-350 (overlap predicate), ner.py:353-362 (opening-time class).

Note the patterns rely on Python `re` parsing rules; do NOT translate them
to RE2/Java regex dialects — evaluation must stay in Python (inside the
pandas UDF), which is also why the regex stage is a kernel, not a Spark
``regexp_extract``.
"""

from __future__ import annotations

import re

RULE_BASED_SCORE = float("0.9000")  # ner.py:64 (kept as string there)

# ner.py:53-63 — boundary guards ensure whole-token matches.
_CLEAN_START_REGEX = r"(\s|^|[.,:])"
_CLEAN_END_REGEX = r"(\s|$|[.,])"
REGEX_PATTERNS = {
    "IT_FISCAL_CODE": _CLEAN_START_REGEX
    + "[A-Z]{6}[0-9]{2}[A-E,H,L,M,P,R-T][0-9]{2}[A-Z0-9]{5}"
    + _CLEAN_END_REGEX,
    "EU_IBAN": _CLEAN_START_REGEX
    + "[A-Z]{2}?[ ]?[0-9]{2}[]?[0-9]{4}[ ]?[0-9]{4}[ ]?[0-9]{4}[ ]?[0-9]{4}[ ]?[0-9]{4}"
    + _CLEAN_END_REGEX,
    "NL_CITIZEN_SERVICE_NUMBER": _CLEAN_START_REGEX + "[0-9]{9}" + _CLEAN_END_REGEX,
    "UK_NATIONAL_ID_NUMBER": _CLEAN_START_REGEX
    + "[A-CEGHJ-PR-TW-Z][A-CEGHJ-NPR-TW-Z]{1}[0-9]{6}[A-DFM]?"
    + _CLEAN_END_REGEX,
    "EU_PHONE_NUMBER": _CLEAN_START_REGEX
    + r"([+]*[(]?[0-9]{1,4}[)]?){0,1}([\.0-9]+){10}"
    + _CLEAN_END_REGEX,
    "EMAIL_ADDRESS": _CLEAN_START_REGEX
    + r"[a-zA-Z0-9_.+-]+@[a-zA-Z0-9-]+\.[a-zA-Z0-9-.]+"
    + _CLEAN_END_REGEX,
    "IPV4_ADDRESS": _CLEAN_START_REGEX
    + r"((25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)(\.|$)){4}"
    + _CLEAN_END_REGEX,
    "URI": r"\[URL_[0-9]+\]",
}
# Precompiled once at import (the reference re-passes raw strings to
# re.finditer per call, ner.py:221 — Python's internal cache makes that
# equivalent; we make it explicit).
COMPILED_PATTERNS = {k: re.compile(v) for k, v in REGEX_PATTERNS.items()}


def find_from_regex(sentence: str) -> list[dict]:
    """PII regex extraction over the ORIGINAL sentence (ner.py:212-237).

    Boundary trim: drop one leading char if in '.,: ' (offset += 1) and one
    trailing char if in '., ' (ner.py:227-231).
    """
    out: list[dict] = []
    for field, pattern in COMPILED_PATTERNS.items():
        for match in pattern.finditer(sentence):
            matched_string = match.group(0)
            offset = match.span(0)[0]
            if matched_string[0] in ".,: ":
                matched_string = matched_string[1:]
                offset += 1
            if matched_string[-1] in "., ":
                matched_string = matched_string[:-1]
            out.append(
                {
                    "type": field,
                    "confidence": RULE_BASED_SCORE,
                    "value": matched_string,
                    "offset": offset,
                }
            )
    return out


def find_religions(sentence: str, religions_set: frozenset[str]) -> list[dict]:
    """Single-token religion gazetteer match (ner.py:242-251).

    Faithful quirk: the offset is ``sentence.lower().index(word)`` — the
    FIRST occurrence, so repeated words all map to the first position; the
    value is sliced from the original (cased) string.
    """
    out: list[dict] = []
    lowered = sentence.lower()
    for word in lowered.split():
        if word in religions_set:
            offset = lowered.index(word)
            out.append(
                {
                    "type": "RELIGION",
                    "value": sentence[offset : offset + len(word)],
                    "confidence": RULE_BASED_SCORE,
                    "offset": offset,
                }
            )
    return out


def find_overlap(entities: list[dict], candidate_start: int, candidate_end: int) -> bool:
    """Interval-overlap predicate (ner.py:312-350) — counts containment,
    identity, partial overlap AND touching endpoints (adjacency) as overlap
    (cases 5/6, ner.py:341-345)."""
    for entity in entities:
        entity_start = entity["offset"]
        entity_end = entity["offset"] + len(entity["value"])
        if candidate_start < entity_start < candidate_end < entity_end:
            return True
        if candidate_start > entity_start and candidate_end < entity_end:
            return True
        if entity_start < candidate_start < entity_end < candidate_end:
            return True
        if candidate_start == entity_start and candidate_end == entity_end:
            return True
        if candidate_start == entity_start or candidate_end == entity_start:
            return True
        if candidate_end == entity_end or candidate_start == entity_end:
            return True
        if candidate_start < entity_start and candidate_end > entity_end:
            return True
    return False


def check_opening_time(entities: list[dict]) -> str:
    """'T_OPENING' if any ORGANIZATION/LOCATION present, else 'TIME'
    (ner.py:353-362)."""
    for entity in entities:
        if entity["type"] in ("ORGANIZATION", "LOCATION"):
            return "T_OPENING"
    return "TIME"


# ---------------------------------------------------------------- dates (R4)
# The reference's find_dates (ner.py:272-309) is an OPTIONAL path the
# service never invokes (api.py:59 passes only the regex and gazetteer flags)
# and it depends on fasttext lang-id + dateparser — neither deterministic
# nor available here. This port keeps the reference's *mechanics* (left-to-
# right relocation of each found date string, overlap skip against existing
# entities, TIME vs T_OPENING via check_opening_time) over a deterministic
# regex date finder instead of dateparser. Default OFF, like the service.
_MONTHS = (
    "january|february|march|april|may|june|july|august|september|october"
    "|november|december"
    "|gennaio|febbraio|marzo|aprile|maggio|giugno|luglio|agosto|settembre"
    "|ottobre|novembre|dicembre"
    "|januari|februari|maart|mei|juni|juli|augustus|oktober"
)
DATE_PATTERNS = (
    r"\b[0-3]?[0-9][/.-][01]?[0-9][/.-][0-9]{4}\b",      # 13/08/1983
    r"\b[0-9]{4}-[01][0-9]-[0-3][0-9]\b",                # 1983-08-13
    rf"\b[0-3]?[0-9] (?:{_MONTHS}) [0-9]{{4}}\b",        # 13 agosto 1983
    rf"\b(?:{_MONTHS}) [0-3]?[0-9], [0-9]{{4}}\b",       # august 13, 1983
)
COMPILED_DATE_PATTERNS = tuple(re.compile(p, re.IGNORECASE) for p in DATE_PATTERNS)


def find_dates(sentence: str, entities: list[dict]) -> list[dict]:
    """Deterministic R4: regex date spans, relocated left-to-right
    (ner.py:292-297), skipped when overlapping an existing entity
    (ner.py:299-301, adjacency counts), typed via check_opening_time
    (ner.py:353-362)."""
    out: list[dict] = []
    date_type = check_opening_time(entities)
    spans: list[tuple[int, str]] = []
    for pat in COMPILED_DATE_PATTERNS:
        for m in pat.finditer(sentence):
            spans.append((m.start(), m.group(0)))
    # left-to-right like the reference's sequential .find relocation
    curr = 0
    for start, value in sorted(spans):
        if start < curr:  # overlapping an earlier date match
            continue
        end = start + len(value)
        if find_overlap(entities + out, start, end):
            continue
        out.append(
            {
                "type": date_type,
                "value": value,
                "offset": start,
                "confidence": RULE_BASED_SCORE,
                "source": "date",
            }
        )
        curr = end
    return out
