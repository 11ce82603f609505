"""Fused per-turn annotation: NER mentions + OpenIE-lite triples in ONE
``mapInPandas`` pass.

This is the performance-critical stage. Design decisions for scale
(SURVEY.md §4):

- the word-count guard is a plain ``filter`` placed BEFORE the opaque UDF
  (Catalyst cannot push predicates through ``mapInPandas``, so we hand-order
  it — the Spark analogue of the reference's early 400 rejection,
  /root/reference/api.py:53-55);
- preprocess → classify → softmax → decode → remap → rules → triples all
  run inside one Arrow batch loop: a single JVM↔Python round trip instead
  of four (one per stage);
- the classifier is a process-level singleton inside the Python worker
  (kernels/classifier.default_classifier) — the Spark analogue of the
  reference's per-service model reuse (/root/reference/api.py:118-122);
- no shuffle anywhere: annotation is embarrassingly parallel per turn; the
  first shuffle of the whole pipeline appears at linking.

Output: one row per kept turn with ``mentions`` and ``triples`` array
columns; ``explode_mentions`` / ``explode_triples`` project them to flat
tables. Overlong turns go to the quarantine DataFrame, never aborting the
job.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from transner_spark.config import MAX_TURN_WORDS, PipelineConfig

MENTION_STRUCT = StructType(
    [
        StructField("mention_id", IntegerType()),
        StructField("type", StringType()),
        StructField("value", StringType()),
        StructField("offset", IntegerType()),
        StructField("confidence", DoubleType()),
        StructField("source", StringType()),
    ]
)
TRIPLE_STRUCT = StructType(
    [
        StructField("subj_value", StringType()),
        StructField("subj_type", StringType()),
        StructField("subj_norm", StringType()),
        StructField("pred", StringType()),
        StructField("obj_value", StringType()),
        StructField("obj_type", StringType()),
        StructField("obj_norm", StringType()),
        StructField("confidence", DoubleType()),
    ]
)
ANNOTATED_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
        StructField("mentions", ArrayType(MENTION_STRUCT)),
        StructField("triples", ArrayType(TRIPLE_STRUCT)),
    ]
)


def _make_annotate_fn(cfg: PipelineConfig, classifier_factory=None):
    """Build the mapInPandas function. cfg is captured by value (it is a
    small dataclass) and shipped in the task closure.

    ``classifier_factory`` (optional zero-arg callable → TokenClassifier)
    is the weights plug point: shipped in the closure, called ONCE per
    task and the instance reused across that task's Arrow batches — a
    real transformer drops in here without touching any pipeline code
    (the factory itself should memoize per process if model load is
    expensive, as kernels/classifier.default_classifier does). None =
    the process-singleton lexicon classifier."""

    def annotate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # heavy imports inside the worker, once per process
        from transner_spark.kernels.ner_pipeline import ner_batch
        from transner_spark.kernels.triples import extract_triples_turn

        classifier = classifier_factory() if classifier_factory else None
        for pdf in batches:
            if pdf.empty:
                continue
            results = ner_batch(
                pdf["text"].tolist(), classifier=classifier, cfg=cfg
            )
            mentions_col = []
            triples_col = []
            for text, role, tool, res in zip(
                pdf["text"], pdf["role"], pdf["tool"], results
            ):
                # the entity dicts carry MENTION_STRUCT's other five keys
                ents = res["entities"]
                for mid, e in enumerate(ents):
                    e["mention_id"] = mid
                mentions_col.append(ents)
                triples_col.append(extract_triples_turn(text, ents, role, tool))
            out = pdf[["conv_id", "turn_idx", "role", "text", "tool", "ts"]].copy()
            out["mentions"] = mentions_col
            out["triples"] = triples_col
            yield out

    return annotate


def split_quarantine(transcripts: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Length guard (reference api.py:27,53-55): returns (kept, quarantined).
    Expressed as a native filter so it is pushed into the scan."""
    # whitespace-collapsing count, matching Python str.split() semantics
    # (the reference counts len(s.split()), api.py:54)
    n_words = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    kept = transcripts.where(n_words <= MAX_TURN_WORDS)
    rejected = transcripts.where(n_words > MAX_TURN_WORDS)
    return kept, rejected


def annotate_turns(
    transcripts: DataFrame,
    cfg: PipelineConfig | None = None,
    classifier_factory=None,
) -> DataFrame:
    """transcripts → annotated turns (mentions + triples array columns).

    ``classifier_factory`` swaps the token classifier (alternative
    weights / a real transformer) without touching the pipeline — see
    _make_annotate_fn and tests/test_classifier_swap.py."""
    from transner_spark.functions.partitioning import fan_out

    cfg = cfg or PipelineConfig()
    kept, _ = split_quarantine(transcripts)
    # fan_out: the NER pass is embarrassingly parallel — never let a
    # single-split local input serialize it (no-op on cluster scans)
    return fan_out(
        kept.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    ).mapInPandas(
        _make_annotate_fn(cfg, classifier_factory), schema=ANNOTATED_SCHEMA
    )


def explode_mentions(annotated: DataFrame) -> DataFrame:
    """annotated → flat mentions table (the reference's per-entity output,
    /root/reference/transner/transner/ner.py:401-404, plus lineage keys)."""
    return annotated.select(
        "conv_id",
        "turn_idx",
        F.explode("mentions").alias("m"),
    ).select(
        "conv_id",
        "turn_idx",
        F.col("m.mention_id").alias("mention_id"),
        F.col("m.type").alias("type"),
        F.col("m.value").alias("value"),
        F.col("m.offset").alias("offset"),
        F.col("m.confidence").alias("confidence"),
        F.col("m.source").alias("source"),
    )


def explode_triples(annotated: DataFrame) -> DataFrame:
    return annotated.select(
        "conv_id",
        "turn_idx",
        "ts",
        F.explode("triples").alias("t"),
    ).select(
        "conv_id",
        "turn_idx",
        "ts",
        "t.subj_value",
        "t.subj_type",
        "t.subj_norm",
        "t.pred",
        "t.obj_value",
        "t.obj_type",
        "t.obj_norm",
        "t.confidence",
    )


def preprocessed_turns(
    transcripts: DataFrame, cfg: PipelineConfig | None = None
) -> DataFrame:
    """P1/P2 exposed as a queryable surface: the punctuation-separating
    preprocess (kernels/preprocess.preprocess_one — with its
    space-after-punct drop and offset-0 ``s[-1]`` wraparound quirks)
    applied per kept turn. Exists so the correctness gate can verify the
    NER core's first stage against an INDEPENDENT DuckDB re-derivation
    (a per-character list comprehension — the emission rule is a pure
    per-position function, see __spark_entry__'s preprocess oracle)."""
    from transner_spark.kernels.preprocess import preprocess_one

    cfg = cfg or PipelineConfig()
    kept, _ = split_quarantine(transcripts)

    def run(batches):
        for pdf in batches:
            out = pdf[["conv_id", "turn_idx"]].copy()
            out["proc_text"] = [
                preprocess_one(t, do_lower_case=cfg.lowercase)[0]
                for t in pdf["text"]
            ]
            yield out

    return kept.mapInPandas(
        run, schema="conv_id string, turn_idx int, proc_text string"
    )
