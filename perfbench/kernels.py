"""Single-process timing of the NER kernel phases on the workload's turns.

Calls the public kernel functions in the order ``ner_batch`` composes
them, timing each phase, then times ``ner_batch`` itself on the same
batches; ``glue`` is ``ner_batch`` minus the sum of its phases. All
figures are µs per turn on one core, from the fastest of REPEATS
passes: the host's noise only ever adds time, and one pass keeps the
phases and their glue consistent.
"""

from __future__ import annotations

import time

import pandas as pd

BATCH = 4096  # the pipeline's Arrow batch size (PipelineConfig.arrow_batch_rows)
REPEATS = 3
PHASES = ("preprocess", "classify", "confidence", "decode", "regex", "gazetteer")


def kernel_profile(turns: pd.DataFrame) -> dict[str, float]:
    def busy(p: dict) -> float:
        return p["kernels.ner_batch_us"] + sum(p[f"kernels.{ph}_us"] for ph in PHASES)

    return min((_one_pass(turns) for _ in range(REPEATS)), key=busy)


def _one_pass(turns: pd.DataFrame) -> dict[str, float]:
    from transner_spark.config import PipelineConfig
    from transner_spark.data.gazetteers import load_religions_set
    from transner_spark.kernels import preprocess, rules
    from transner_spark.kernels.classifier import default_classifier
    from transner_spark.kernels.decode import decode_bio, softmax_max
    from transner_spark.kernels.ner_pipeline import ner_batch
    from transner_spark.kernels.triples import extract_triples_turn

    cfg = PipelineConfig()
    clf = default_classifier()
    religions = load_religions_set()
    t = dict.fromkeys(PHASES + ("triples", "ner_batch"), 0.0)
    n_mentions = 0
    regex_turns = 0
    clock = time.perf_counter
    for lo in range(0, len(turns), BATCH):
        part = turns.iloc[lo:lo + BATCH]
        texts = part["text"].tolist()

        c0 = clock()
        proc = [preprocess.preprocess_one(s, do_lower_case=cfg.lowercase) for s in texts]
        c1 = clock()
        preds, logits = clf.predict([p[0] for p in proc])
        c2 = clock()
        # unwrapping the per-token dicts is glue: left out of every phase
        toks = [[next(iter(p)) for p in row] for row in preds]
        tags = [[next(iter(p.values())) for p in row] for row in preds]
        vecs = [[next(iter(lg.values())) for lg in row] for row in logits]
        c2u = clock()
        scores = [[softmax_max(v) for v in row] for row in vecs]
        c3 = clock()
        for s, (ps, omap), tk, tg, sc in zip(texts, proc, toks, tags, scores):
            ents = decode_bio(ps, tk, tg, sc, threshold=cfg.threshold)
            preprocess.adjust_entities_one(s, ents, omap, adjust_case=True)
        c4 = clock()
        hits = [rules.find_from_regex(s) for s in texts]
        c5 = clock()
        for s in texts:
            rules.find_religions(s, religions)
        c6 = clock()
        t["preprocess"] += c1 - c0
        t["classify"] += c2 - c1
        t["confidence"] += c3 - c2u
        t["decode"] += c4 - c3
        t["regex"] += c5 - c4
        t["gazetteer"] += c6 - c5
        regex_turns += sum(1 for h in hits if h)

        c7 = clock()
        results = ner_batch(texts, classifier=clf, cfg=cfg)
        c8 = clock()
        t["ner_batch"] += c8 - c7
        for text, role, tool, res in zip(part["text"], part["role"], part["tool"], results):
            extract_triples_turn(text, res["entities"], role, tool, cfg)
        t["triples"] += clock() - c8
        n_mentions += sum(len(r["entities"]) for r in results)

    n = max(1, len(turns))
    out = {f"kernels.{k}_us": v * 1e6 / n for k, v in t.items()}
    out["kernels.glue_us"] = out["kernels.ner_batch_us"] - sum(
        out[f"kernels.{p}_us"] for p in PHASES
    )
    out["kernels.mentions_per_turn"] = n_mentions / n
    out["kernels.regex_hit_ratio"] = regex_turns / n
    return out
