"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``seed``: the same seed writes
byte-identical parquet. The program under test only ever sees the
written files.

- ``kg_bulk``: standard ``sources.transcripts.gen_turn`` turns with the
  conversation index offset by the seed. The offset is a multiple of 5,
  so the generator's hot "Mario Rossi" entity keeps its 20% share.
- ``kg_longtail``: the same turns with every person-name run rewritten
  into a seeded 2-4 token chain of lexicon names. Almost every chain is
  a new surface, so linking sees a long tail of residual (non-exact)
  surfaces.
- ``docs_tables`` feeds the curation leg of the traced run.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from transner_spark.data import lexicons
from transner_spark.sources.transcripts import gen_turn

BULK_CONVS = 4000  # 40,000 turns
LONGTAIL_CONVS = 700  # 7,000 turns
TURNS_PER_CONV = 10
# seeds map to disjoint conversation ranges (seed mod SEED_SLOTS). The
# stride is a multiple of 5, the hot-entity period. gen_turn puts turn
# ts conv_idx hours after 2026, and the NER UDF's Arrow->pandas step
# needs it before 2262 (the nanosecond limit): conv_idx < ~2.07M.
SEED_STRIDE = 5_000
SEED_SLOTS = 400

_NAMES_FIRST = tuple(n.title() for n in lexicons.FIRST_NAMES)
_NAMES_ANY = _NAMES_FIRST + tuple(n.title() for n in lexicons.SURNAMES)
_FIRST_SET = frozenset(lexicons.FIRST_NAMES)
_NAME_SET = _FIRST_SET | frozenset(lexicons.SURNAMES)
_TRAIL = ".,;:!?"


def conv_offset(seed: int) -> int:
    return (seed % SEED_SLOTS) * SEED_STRIDE


def _frame(rows: list[dict]) -> pd.DataFrame:
    df = pd.DataFrame(rows)
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df


def write_transcripts(df: pd.DataFrame, path: str) -> None:
    table = pa.Table.from_pandas(df, preserve_index=False)
    schema = table.schema.set(
        table.schema.get_field_index("ts"), pa.field("ts", pa.timestamp("us"))
    )
    tmp = path + ".tmp"
    pq.write_table(table.cast(schema), tmp)
    os.replace(tmp, path)


def bulk_turns(seed: int, n_convs: int = BULK_CONVS) -> pd.DataFrame:
    off = conv_offset(seed)
    return _frame(
        [
            gen_turn(off + c, t)
            for c in range(n_convs)
            for t in range(TURNS_PER_CONV)
        ]
    )


def _core(tok: str) -> tuple[str, str]:
    core = tok.rstrip(_TRAIL)
    return core, tok[len(core):]


def rewrite_person_runs(text: str, rng: random.Random) -> str:
    """Replace every capitalized lexicon person run (a first name followed
    by first names or surnames) with a chain of 2-4 lexicon names. The
    chain keeps the run's trailing punctuation, so templates stay valid.
    """
    toks = text.split(" ")
    out: list[str] = []
    i = 0
    while i < len(toks):
        core, trail = _core(toks[i])
        if core.istitle() and core.lower() in _FIRST_SET:
            j = i + 1
            while not trail and j < len(toks):
                nxt, nxt_trail = _core(toks[j])
                if not (nxt.istitle() and nxt.lower() in _NAME_SET):
                    break
                trail = nxt_trail
                j += 1
            chain = [rng.choice(_NAMES_FIRST)] + [
                rng.choice(_NAMES_ANY) for _ in range(rng.randint(1, 3))
            ]
            out.append(" ".join(chain) + trail)
            i = j
        else:
            out.append(toks[i])
            i += 1
    return " ".join(out)


def longtail_turns(seed: int, n_convs: int = LONGTAIL_CONVS) -> pd.DataFrame:
    off = conv_offset(seed)
    rows = []
    for c in range(n_convs):
        for t in range(TURNS_PER_CONV):
            row = gen_turn(off + c, t)
            rng = random.Random(f"{seed}:{off + c}:{t}")
            row["text"] = rewrite_person_runs(row["text"], rng)
            rows.append(row)
    return _frame(rows)


# ------------------------------------------------------------- docs
# Modeled on the documents/embeddings tables the training-data gates run
# on: 10-100 words drawn uniformly from a 30-word technical vocabulary,
# five language labels, five sources, a share of near-duplicates marked
# by the word "dup", and clustered 64-dimensional embeddings.
_DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row "
    "the agg key query a scan batch"
).split()
_DOC_LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
DOCS_TOTAL = 300
DOCS_KEEP = 0.9
EMB_DIM = 64
EMB_CLUSTERS = 10


def docs_tables(seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """A seeded corpus of DOCS_TOTAL documents, of which a seeded 90%
    sample is kept, and one embedding per kept document."""
    rng = random.Random(f"docs:{seed}")
    texts: list[str] = []
    docs = []
    for doc_id in range(DOCS_TOTAL):
        if texts and rng.random() < 0.05:
            words = rng.choice(texts).split()
            words[rng.randrange(len(words))] = "dup"
        else:
            words = [rng.choice(_DOC_WORDS) for _ in range(rng.randint(10, 100))]
        text = " ".join(words)
        texts.append(text)
        docs.append(
            {
                "doc_id": doc_id,
                "text": text,
                "lang": rng.choice(_DOC_LANGS),
                "source": f"src{doc_id % 5}",
                "n_chars": len(text),
            }
        )
    docs_df = pd.DataFrame([d for d in docs if rng.random() < DOCS_KEEP])
    nrng = np.random.default_rng(seed % (2**32))
    centers = nrng.normal(size=(EMB_CLUSTERS, EMB_DIM))
    labels = nrng.integers(0, EMB_CLUSTERS, size=len(docs_df))
    vecs = centers[labels] + 0.3 * nrng.normal(size=(len(docs_df), EMB_DIM))
    emb_df = pd.DataFrame(
        {
            "vec_id": docs_df["doc_id"].astype("int64"),
            "embedding": [v.astype("float32") for v in vecs],
            "label": labels.astype("int32"),
        }
    )
    return docs_df, emb_df


# ------------------------------------------------------------ cache
def _cached(work: str, key: str, build) -> dict:
    """``build(dir) -> meta`` once per key under ``work/inputs``. Keys
    name the generator's size and offset, so changing them regenerates."""
    d = os.path.join(work, "inputs", key)
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return json.load(fh)
    os.makedirs(d, exist_ok=True)
    meta = build(d)
    with open(meta_path + ".tmp", "w") as fh:
        json.dump(meta, fh)
    os.replace(meta_path + ".tmp", meta_path)
    return meta


def ensure_turns(work: str, workload: str, seed: int) -> dict:
    """The workload's transcripts parquet for ``seed`` and its input
    properties, generated outside every timed region."""
    gen = bulk_turns if workload == "kg_bulk" else longtail_turns

    def build(d: str) -> dict:
        df = gen(seed)
        path = os.path.join(d, "transcripts.parquet")
        write_transcripts(df, path)
        return {"transcripts": path, "properties": turn_properties(df)}

    n_convs = BULK_CONVS if workload == "kg_bulk" else LONGTAIL_CONVS
    key = f"{workload}-s{seed}-o{conv_offset(seed)}-c{n_convs}"
    return _cached(work, key, build)


def ensure_docs(work: str, seed: int) -> dict:
    """The seed's documents/embeddings tables (one directory)."""

    def build(d: str) -> dict:
        docs_df, emb_df = docs_tables(seed)
        for name, df in (("documents", docs_df), ("embeddings", emb_df)):
            pq.write_table(
                pa.Table.from_pandas(df, preserve_index=False),
                os.path.join(d, f"{name}.parquet"),
            )
        return {"docs_dir": d, "documents": len(docs_df)}

    return _cached(work, f"docs-s{seed}-n{DOCS_TOTAL}", build)


def turn_properties(df: pd.DataFrame) -> dict:
    """Input properties the workload's behaviour depends on. The
    regex-bearing share is estimated on every 10th kept turn."""
    from transner_spark.config import MAX_TURN_WORDS
    from transner_spark.kernels.rules import find_from_regex

    kept = df[df["text"].str.split().str.len() <= MAX_TURN_WORDS]
    probe = kept["text"].iloc[::10]
    return {
        "turns": len(df),
        "kept_turns": len(kept),
        "hot_entity_share": float(kept["text"].str.contains("Mario Rossi").mean()),
        "regex_bearing_share": sum(1 for t in probe if find_from_regex(t)) / max(1, len(probe)),
    }
