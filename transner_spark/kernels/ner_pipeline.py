"""The per-sentence NER dataflow — preprocess → classify → softmax →
BIO-decode → offset-remap → regex → gazetteers.

This is the faithful composition of the reference's ``Transner.ner``
(/root/reference/transner/transner/ner.py:168-209) as a pure function:
it is called per Arrow batch inside the Spark ``mapInPandas`` operator
(transner_spark/operators/annotate.py) AND per list-of-strings by the
single-node oracle (kernels/oracle.py) — identical code path, parity by
construction.
"""

from __future__ import annotations

from transner_spark.config import PipelineConfig
from transner_spark.data.gazetteers import load_cities_set, load_religions_set
from transner_spark.kernels import preprocess, rules
from transner_spark.kernels.classifier import TokenClassifier, default_classifier
from transner_spark.kernels.decode import decode_bio, softmax_max


def ner_batch(
    input_strings: list[str],
    classifier: TokenClassifier | None = None,
    cfg: PipelineConfig | None = None,
) -> list[dict]:
    """Run the full NER dataflow over a batch of sentences.

    Returns one dict per sentence: ``{'sentence': original, 'entities':
    [{'type','value','offset','confidence','source'}, ...]}`` — entity
    append order matches the reference exactly (model spans in decode
    order, then regex in pattern order, then gazetteer hits; ner.py:232-251).
    ``source`` is our extension ('model' | 'regex' | 'gazetteer').
    """
    cfg = cfg or PipelineConfig()
    classifier = classifier or default_classifier()

    # P1/P2 — punctuation-separating preprocess with offset maps
    proc = [preprocess.preprocess_one(s, do_lower_case=cfg.lowercase) for s in input_strings]
    proc_strings = [p[0] for p in proc]
    offset_maps = [p[1] for p in proc]

    # P3 — token classification
    predictions, logits = classifier.predict(proc_strings)
    assert len(predictions) == len(input_strings), "Batch sizes do not match"

    results: list[dict] = []
    for s_orig, s_proc, omap, preds, logs in zip(
        input_strings, proc_strings, offset_maps, predictions, logits
    ):
        # P4 — per-token softmax-max confidence (ner.py:188-195)
        tokens = [next(iter(p)) for p in preds]
        tags = [next(iter(p.values())) for p in preds]
        scores = [softmax_max(next(iter(l.values()))) for l in logs]
        assert len(tags) == len(scores), "Prediction and scores size mismatch"

        # P6/P7 — BIO decode + threshold (processed coordinates)
        entities = decode_bio(s_proc, tokens, tags, scores, threshold=cfg.threshold)

        # P8 — offset re-map + case restore (original coordinates)
        entities = preprocess.adjust_entities_one(s_orig, entities, omap, adjust_case=True)
        for e in entities:
            e["source"] = "model"

        # R1 — regex PII over the ORIGINAL sentence
        if cfg.apply_regex:
            for e in rules.find_from_regex(s_orig):
                e["source"] = "regex"
                entities.append(e)

        # R2 — religion gazetteer (cfg paths override the fixtures)
        if cfg.apply_gazetteers:
            religions = (
                load_religions_set(cfg.religions_path)
                if cfg.religions_path
                else load_religions_set()
            )
            for e in rules.find_religions(s_orig, religions):
                e["source"] = "gazetteer"
                entities.append(e)
            # R3 — nested LOC in MISC (dead code in the reference; flag-gated)
            if cfg.apply_nested_loc:
                cities = (
                    load_cities_set(cfg.cities_path)
                    if cfg.cities_path
                    else load_cities_set()
                )
                for e in rules.find_nested_loc(entities, cities):
                    e["source"] = "gazetteer"
                    entities.append(e)

        # R4 — optional deterministic date detection (service-default off)
        if cfg.apply_dates:
            entities.extend(rules.find_dates(s_orig, entities))

        results.append({"sentence": s_orig, "entities": entities})
    return results
