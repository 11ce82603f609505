"""Regenerate the PLANS.md audit data: print join strategies, scan
schemas (column pruning), and pushed filters for each operator family.
Usage: python scripts/audit_plans.py [sf_dir]"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def audit(name, df) -> None:
    p = df._jdf.queryExecution().executedPlan().toString()
    joins = sorted(
        set(
            re.findall(
                r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin"
                r"|BroadcastNestedLoopJoin|CartesianProduct)",
                p,
            )
        )
    )
    pushed = [s for s in re.findall(r"PushedFilters: \[([^\]]*)\]", p) if s]
    schema = re.findall(r"ReadSchema: ([^\n]*)", p)
    print(f"== {name}: joins={joins} exchanges={p.count('Exchange')}")
    for s in schema[:3]:
        print("   read:", s[:110])
    for s in pushed[:3]:
        print("   pushed:", s[:110])


def main() -> None:
    from transner_spark.functions.session import get_spark

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(master="local[4]", shuffle_partitions=4)
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))

    from transner_spark.operators.annotate import annotate_turns
    from transner_spark.operators.dedup import (
        dedup_embedding_cosine,
        dedup_exact,
        dedup_minhash_lsh,
        dedup_simhash,
    )
    from transner_spark.operators.relational import region_containment
    from transner_spark.operators.simsearch import ann_bruteforce, ann_lsh
    from transner_spark.operators.textops import text_stats
    from transner_spark.sources.transcripts import ensure_transcripts_parquet

    audit("text_stats", text_stats(docs))
    from transner_spark.operators.curation import (
        decontaminate,
        doc_repetition,
        eval_split,
        pack_sequences,
        sample_quota,
        sample_to_mixture,
    )

    ev = eval_split(docs)
    audit("decontaminate", decontaminate(docs.where(~ev), docs.where(ev)))
    audit("sample_quota", sample_quota(docs))
    audit("sample_to_mixture", sample_to_mixture(docs))
    from transner_spark.operators.curation import train_shards

    audit("train_shards", train_shards(docs))
    from transner_spark.operators.textops import VOCAB_GATE_K, vocab_topk

    audit("vocab_topk", vocab_topk(docs, k=VOCAB_GATE_K))
    from transner_spark.operators.textops import tfidf_keywords

    audit("tfidf_keywords", tfidf_keywords(docs))
    from transner_spark.operators.textops import snapshot_split, token_drift

    _half = snapshot_split(docs)
    audit("token_drift", token_drift(docs.where(_half), docs.where(~_half)))
    audit("doc_repetition", doc_repetition(docs))
    audit("pack_sequences", pack_sequences(docs))
    audit("dedup_exact", dedup_exact(docs))
    audit("dedup_minhash_lsh", dedup_minhash_lsh(docs))
    from transner_spark.operators.dedup import dedup_substring

    audit("dedup_substring", dedup_substring(docs))
    audit("dedup_simhash", dedup_simhash(docs))
    audit("dedup_embedding_cosine", dedup_embedding_cosine(emb))
    audit("ann_bruteforce", ann_bruteforce(emb))
    audit("ann_lsh", ann_lsh(spark, emb))
    audit("region_containment", region_containment(docs))
    tr = spark.read.parquet(ensure_transcripts_parquet(REPO, sf))
    audit("annotate", annotate_turns(tr))
    from transner_spark.operators.curation import pii_spans, redact_pii

    audit(
        "redact_pii",
        redact_pii(
            tr.select("conv_id", "turn_idx", "text"),
            pii_spans(
                spark.read.parquet(
                    os.path.join(
                        REPO, "data", "golden", os.path.basename(sf.rstrip("/")),
                        "mentions.parquet",
                    )
                )
            ),
        ),
    )

    from transner_spark.operators.curation import mention_contexts

    audit(
        "mention_contexts",
        mention_contexts(
            tr.select("conv_id", "turn_idx", "text"),
            spark.read.parquet(
                os.path.join(
                    REPO, "data", "golden", os.path.basename(sf.rstrip("/")),
                    "mentions.parquet",
                )
            ),
        ),
    )

    from transner_spark.operators.dedup import dedup_clusters
    from transner_spark.operators.inline_annotation import (
        inline_annotate,
        inline_conll,
    )
    from transner_spark.operators.wikiner import (
        read_wikiner_lines,
        wikiner_conll,
        wikiner_scan,
        wikiner_sentences,
    )
    from transner_spark.sources.wikiner import ensure_wikiner_raw

    txt, _ = ensure_wikiner_raw(REPO, sf)
    toks = wikiner_scan(read_wikiner_lines(spark, txt))
    audit("wikiner_scan", toks)
    audit("wikiner_conll", wikiner_conll(wikiner_sentences(toks), augment=True))
    ann = inline_annotate(docs.select("doc_id", "text"))
    audit("t10_inline_annotate", ann)
    audit("t10_inline_conll", inline_conll(ann))
    audit("dedup_clusters", dedup_clusters(docs))

    from transner_spark.operators.simsearch import ann_ivf, ann_recall
    from transner_spark.operators.textops import corpus_filter

    audit("corpus_filter", corpus_filter(docs))
    audit("ann_ivf", ann_ivf(spark, emb))
    audit("ann_recall_lsh", ann_recall(spark, emb, method="lsh"))

    from pyspark.sql import functions as F

    from transner_spark.operators.dedup import dedup_minhash_incremental
    from transner_spark.operators.skew import profile_skew

    audit("skew_profile", profile_skew(docs, ["lang", "source"], top_k=25))
    is_new = F.pmod(F.abs(F.xxhash64("doc_id")), F.lit(4)) == F.lit(0)
    audit(
        "dedup_minhash_incremental",
        dedup_minhash_incremental(docs.where(~is_new), docs.where(is_new)),
    )

    from transner_spark.operators.graf import graf_merge
    from transner_spark.sources.graf import (
        ensure_graf_raw,
        read_graf_ners,
        read_graf_pos,
        read_graf_regions,
        read_graf_sents,
    )

    graf_dir = ensure_graf_raw(REPO, sf)
    audit(
        "graf_merge",
        graf_merge(
            read_graf_regions(spark, graf_dir),
            read_graf_sents(spark, graf_dir),
            read_graf_pos(spark, graf_dir),
            read_graf_ners(spark, graf_dir),
        ),
    )

    from transner_spark.operators.graph import (
        graph_degrees,
        graph_neighbors_topk,
        graph_pagerank,
        graph_similarity,
        graph_triangles,
        graph_two_hop,
    )
    from transner_spark.sources.transcripts import sf_name

    edges = spark.read.parquet(
        os.path.join(REPO, "data", "golden", sf_name(sf), "edges.parquet")
    )
    audit("graph_degrees", graph_degrees(edges))
    audit("graph_pagerank", graph_pagerank(edges))
    audit("graph_two_hop", graph_two_hop(edges))
    audit("graph_neighbors_topk", graph_neighbors_topk(edges))
    audit("graph_triangles", graph_triangles(edges))
    audit("graph_similarity", graph_similarity(edges))
    from transner_spark.operators.graph import graph_components

    audit("graph_components", graph_components(edges))
    from transner_spark.operators.graph import graph_communities

    audit("graph_communities", graph_communities(edges))
    from transner_spark.operators.graph import graph_khop

    audit("graph_khop", graph_khop(edges))
    from transner_spark.operators.walks import random_walks, walk_skipgrams

    audit("graph_walks", random_walks(edges))
    audit("walk_skipgrams", walk_skipgrams(edges))
    from transner_spark.operators.negatives import negative_samples

    audit("kg_negative_samples", negative_samples(edges))

    from transner_spark.operators.canonicalize import canonicalize
    from transner_spark.operators.linking import link_surfaces, node_surfaces
    from transner_spark.operators.materialize import (
        edges_asof,
        materialize_edges,
        merge_edge_increments,
    )

    triples = spark.read.parquet(
        os.path.join(REPO, "data", "golden", sf_name(sf), "triples.parquet")
    )
    from pyspark.sql import functions as Fn

    cache = spark.read.parquet(
        os.path.join(REPO, "data", "cache", sf_name(sf), "transcripts.parquet")
    )
    t = triples.join(cache.select("conv_id", "turn_idx", "ts"), ["conv_id", "turn_idx"])
    canon = canonicalize(link_surfaces(spark, node_surfaces(t)))
    part = Fn.pmod(Fn.crc32(Fn.col("conv_id")), Fn.lit(2))
    audit(
        "merge_edge_increments",
        merge_edge_increments(
            *[materialize_edges(t.where(part == i), canon) for i in range(2)]
        ),
    )
    audit("edges_asof", edges_asof(t, canon))
    from transner_spark.operators.materialize import edge_provenance

    audit("edge_provenance", edge_provenance(t, canon))
    from transner_spark.operators.materialize import entity_profiles, reresolve_edges

    audit("entity_profiles", entity_profiles(t, canon))
    audit(
        "reresolve_edges",
        reresolve_edges(materialize_edges(t, canon), canon),
    )

    from transner_spark.operators.evaluate import entity_cooccurrence, set_prf

    empty_canon = spark.createDataFrame([], "node_id string, canon_id string")
    audit(
        "eval_edges_prf",
        set_prf(
            materialize_edges(t, canon),
            materialize_edges(t, empty_canon),
            ["subj_id", "pred", "obj_id"],
            "pred",
        ),
    )
    audit("kg_cooccurrence", entity_cooccurrence(t, canon))
    from transner_spark.operators.evaluate import kg_integrity_report

    audit("kg_integrity", kg_integrity_report(materialize_edges(t, canon), canon))
    from transner_spark.operators.export import edges_to_ntriples

    audit(
        "kg_export_ntriples",
        edges_to_ntriples(materialize_edges(t, canon), include_weights=True),
    )
    from transner_spark.operators.materialize import edges_diff

    audit(
        "edges_diff",
        edges_diff(edges_asof(t, canon), materialize_edges(t, canon)),
    )
    from transner_spark.operators.materialize import (
        entity_profile_partials,
        merge_profile_partials,
        profiles_from_partials,
    )

    audit(
        "profiles_from_partials",
        profiles_from_partials(
            merge_profile_partials(
                *[entity_profile_partials(t.where(part == i), canon) for i in range(2)]
            )
        ),
    )
    spark.stop()


if __name__ == "__main__":
    main()
