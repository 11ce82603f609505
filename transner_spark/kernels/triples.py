"""OpenIE-lite triple extraction over (role, text, mentions) turns.

North-rule stage (BASELINE.json): pattern-based triple extraction between
entity-mention pairs using a multilingual predicate lexicon, plus tool-call
predicates from the ``tool`` column. Pure per-turn kernel — shared by the
single-node oracle and the Spark ``mapInPandas`` operator; no cross-turn
state, hence embarrassingly parallel with no shuffle.
"""

from __future__ import annotations

import re
import unicodedata

from transner_spark.config import PipelineConfig
from transner_spark.data.lexicons import PREDICATE_LEXICON

# longest phrase first so e.g. "ha effettuato un pagamento a" wins over "a"
_LEXICON = sorted(PREDICATE_LEXICON, key=lambda t: -len(t[0]))
_PHRASE_RE = {
    phrase: re.compile(r"(?<![a-z0-9])" + re.escape(phrase) + r"(?![a-z0-9])")
    for phrase, _, _ in _LEXICON
}

# Mention types that can participate in triples (PII regex types are
# attributes, not graph nodes).
_NODE_TYPES = frozenset(
    {"PERSON", "LOCATION", "ORGANIZATION", "MISCELLANEOUS", "DOCUMENT",
     "PROCEDURE", "RELIGION"}
)


def normalize_surface(value: str) -> str:
    """Canonical surface form: casefold, strip accents, collapse spaces,
    trim edge punctuation. Used as the linking block key too."""
    v = unicodedata.normalize("NFKD", value)
    v = "".join(c for c in v if not unicodedata.combining(c))
    v = v.casefold()
    v = re.sub(r"[^a-z0-9]+", " ", v).strip()
    return re.sub(r" +", " ", v)


def extract_triples_turn(
    text: str,
    mentions: list[dict],
    role: str | None,
    tool: str | None,
    cfg: PipelineConfig | None = None,
) -> list[dict]:
    """Extract (subj, pred, obj, confidence) triples from one turn.

    Rules, applied to mentions sorted by offset (ties by append order):
    1. for each ADJACENT mention pair (i, i+1) of node types, if a
       predicate-lexicon phrase occurs word-bounded in the lowercased text
       strictly between the two spans, emit (i, pred, i+1) — or reversed
       for passive phrases;
    2. if ``tool`` is set, emit (agent:<role>, used_tool, tool:<tool>).

    Confidence = min of the participating mention confidences (rule 1),
    1.0 for the structural tool triple (rule 2). ``cfg`` is accepted so
    callers can pass the pipeline config through; no field of it changes
    the triples.
    """
    out: list[dict] = []
    lowered = text.lower()

    nodes = [m for m in mentions if m["type"] in _NODE_TYPES]
    nodes = sorted(enumerate(nodes), key=lambda im: (im[1]["offset"], im[0]))
    nodes = [m for _, m in nodes]

    for a, b in zip(nodes, nodes[1:]):
        between_start = a["offset"] + len(a["value"])
        between_end = b["offset"]
        if between_end <= between_start:
            continue
        between = lowered[between_start:between_end]
        for phrase, pred, reversed_ in _LEXICON:
            if _PHRASE_RE[phrase].search(between):
                subj, obj = (b, a) if reversed_ else (a, b)
                out.append(
                    {
                        "subj_value": subj["value"],
                        "subj_type": subj["type"],
                        "subj_norm": normalize_surface(subj["value"]),
                        "pred": pred,
                        "obj_value": obj["value"],
                        "obj_type": obj["type"],
                        "obj_norm": normalize_surface(obj["value"]),
                        "confidence": min(a["confidence"], b["confidence"]),
                    }
                )
                break

    if tool:
        subj = f"agent:{role or 'unknown'}"
        obj = f"tool:{tool}"
        out.append(
            {
                "subj_value": subj,
                "subj_type": "AGENT",
                "subj_norm": subj,  # structural node: key is the value itself
                "pred": "used_tool",
                "obj_value": obj,
                "obj_type": "TOOL",
                "obj_norm": obj,
                "confidence": 1.0,
            }
        )

    return out
