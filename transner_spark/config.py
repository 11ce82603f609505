"""Pipeline configuration.

Mirrors the reference service's confidence threshold (reference
api.py:121) plus the options a caller of this pipeline sets: the optional
date rule, the gazetteer file and the linking parameters. The salt
factor (operators/materialize.SALT_PARTITIONS) and the Arrow batch size
(functions/session.ARROW_BATCH_ROWS) are constants; the edge table's
bucket count is the session's default parallelism
(operators/materialize.bucket_count), recorded in its commit record.
"""

from __future__ import annotations

from dataclasses import dataclass


# The reference service rejects sentences longer than 150 whitespace words
# (/root/reference/api.py:27,53-55). We route them to a quarantine table
# instead of aborting the job.
MAX_TURN_WORDS = 150

# Rule-based extractions carry a constant confidence of 0.9
# (/root/reference/transner/transner/ner.py:64).
RULE_BASED_SCORE = 0.9

# The served model's confidence threshold (/root/reference/api.py:121).
SERVICE_THRESHOLD = 0.75

# Closed entity-type vocabulary (/root/reference/supported_types.json:1 plus
# the model-side types DOCUMENT/PROCEDURE that the public list omits —
# /root/reference/transner/transner/ner.py:40-46).
SUPPORTED_TYPES = (
    "PERSON",
    "LOCATION",
    "ORGANIZATION",
    "MISCELLANEOUS",
    "DOCUMENT",
    "PROCEDURE",
    "IT_FISCAL_CODE",
    "EU_IBAN",
    "NL_CITIZEN_SERVICE_NUMBER",
    "UK_NATIONAL_ID_NUMBER",
    "EU_PHONE_NUMBER",
    "EMAIL_ADDRESS",
    "IPV4_ADDRESS",
    "URI",
    "RELIGION",
)


@dataclass
class PipelineConfig:
    """End-to-end pipeline configuration.

    The NER kernel keeps the reference's quirks unconditionally
    (first-occurrence gazetteer offsets, adjacency-as-overlap, confidence
    string truncation) and has no nested-LOC rule: the reference's
    raises on its first hit (reference ner.py:266), so it never emits
    anything.
    """

    threshold: float = SERVICE_THRESHOLD
    # R4 date detection (reference ner.py:272-309): an optional path the
    # service never calls (api.py:59) — deterministic regex port, default
    # off for parity; see kernels/rules.find_dates.
    apply_dates: bool = False
    lowercase: bool = True
    # Religion gazetteer file (None → the committed fixture). Point it at
    # the reference's religions.txt to run with the full set (ner.py:117-126).
    religions_path: str | None = None

    # Linking
    link_jaccard_threshold: float = 0.5
    link_ngram: int = 3
