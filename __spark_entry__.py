"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship KG pipeline on an sf0.001-scale transcripts
  table (deterministically synthesized; conversation count keyed off the
  sf0.001 documents row count) → materialized edge table.
- ``queries()``: one entry per implemented operator (SURVEY.md §2 + the
  training-data ops). Each loads/derives its input from the given sf dir.
- ``oracle_sql()``: DuckDB equivalents. Since round 3 NO gate is a
  golden replay: kg_mentions and kg_triples are re-derived end-to-end
  in SQL (oracles_ner — the deterministic lexicon classifier, BIO
  decode, regex/gazetteer rules, and the relational+structural triple
  rules all re-expressed in DuckDB), and kg_links / kg_canonical /
  kg_edges are independently re-derived (exact + gram-Jaccard linking,
  recursive-CTE connected components, resolution + weighted aggregate)
  from the UPSTREAM stage goldens plus shared dimension data, so a bug
  in any stage's Spark logic fails its gate. The frozen goldens
  (scripts/make_goldens.py, pure-Python reference-semantics oracle)
  remain as pytest cross-checks and as upstream inputs isolating each
  downstream gate to its own stage's logic.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.abspath(__file__))


# ---------------------------------------------------------------- helpers
def _transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.sources.transcripts import ensure_transcripts_parquet

    path = ensure_transcripts_parquet(REPO, sf_dir)
    return spark.read.parquet(path)


def _annotated(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.annotate import annotate_turns

    return annotate_turns(_transcripts(spark, sf_dir))


def _triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.annotate import explode_triples

    return explode_triples(_annotated(spark, sf_dir))


def _links(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.linking import link_surfaces, node_surfaces

    return link_surfaces(spark, node_surfaces(_triples(spark, sf_dir)))


# ---------------------------------------------------------------- queries
def q_kg_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.annotate import explode_mentions

    return explode_mentions(_annotated(spark, sf_dir)).select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        F.col("mention_id").cast("long").alias("mention_id"),
        "type",
        "value",
        F.col("offset").cast("long").alias("offset"),
        "confidence",
        "source",
    )


def q_kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _triples(spark, sf_dir).select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        "subj_value", "subj_type", "subj_norm",
        "pred",
        "obj_value", "obj_type", "obj_norm",
        "confidence",
    )


def q_kg_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _links(spark, sf_dir).select("norm_key", "entity_key", "score", "method")


def q_kg_links_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental linking ≡ full recompute (the continuous-ingest
    contract for the linking stage, operators/linking.py
    link_surfaces_incremental): conversations split ~3:1 into a 'known'
    corpus (linked first — the maintained table) and a new ingest batch
    whose Zipfian vocabulary mostly overlaps it; only the anti-joined
    residual is re-linked and the union must equal the whole-corpus
    derivation — the kg_links SQL oracle verbatim."""
    from transner_spark.operators.linking import (
        link_surfaces,
        link_surfaces_incremental,
        node_surfaces,
    )

    t = _triples(spark, sf_dir)
    is_new = F.pmod(F.abs(F.xxhash64("conv_id")), F.lit(4)) == F.lit(0)
    known = link_surfaces(spark, node_surfaces(t.where(~is_new)))
    return link_surfaces_incremental(
        spark, known, node_surfaces(t.where(is_new))
    ).select("norm_key", "entity_key", "score", "method")


def q_kg_links_alias_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alias-dictionary APPEND maintenance ≡ full recompute
    (operators/linking.relink_for_alias_delta): link against the
    dictionary missing a ~1/5 slice, append the slice as the delta,
    re-link only the gram-affected surfaces against the full dictionary
    — must equal the whole-corpus kg_links derivation verbatim (the
    same SQL oracle). Closes the dictionary side of the two-speed
    refresh story (canon side: kg_edges_canon_refresh)."""
    from transner_spark.data.aliases import ensure_alias_dim_parquet
    from transner_spark.operators.linking import (
        link_surfaces,
        node_surfaces,
        relink_for_alias_delta,
    )

    surfaces = node_surfaces(_triples(spark, sf_dir))
    full_dim = spark.read.parquet(ensure_alias_dim_parquet(REPO))
    is_delta = F.pmod(F.abs(F.xxhash64("alias")), F.lit(5)) == F.lit(0)
    base = link_surfaces(spark, surfaces, alias_dim=full_dim.where(~is_delta))
    return relink_for_alias_delta(
        spark, base, full_dim.where(is_delta)
    ).select("norm_key", "entity_key", "score", "method")


def q_kg_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.canonicalize import canonicalize

    return canonicalize(_links(spark, sf_dir)).select("node_id", "canon_id")


def _select_edge_cols(df: DataFrame) -> DataFrame:
    """The edge-gate output contract, in ONE place (four gate queries
    plus the stream gate's schema string share it): epoch casts to long,
    stable column names matching every edge oracle."""
    return df.select(
        "subj_id",
        "pred",
        "obj_id",
        F.col("weight").cast("long").alias("weight"),
        F.col("first_ts").cast("long").alias("first_epoch"),
        F.col("last_ts").cast("long").alias("last_epoch"),
    )


def q_kg_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.canonicalize import canonicalize
    from transner_spark.operators.materialize import materialize_edges

    t = _triples(spark, sf_dir)
    canon = canonicalize(_links(spark, sf_dir))
    return _select_edge_cols(materialize_edges(t, canon))


def q_kg_edges_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same Spark plan as ``kg_edges`` (transcripts → NER → triples →
    links → canonical → edges), but gated against the CHAINED golden-free
    SQL re-derivation of the WHOLE pipeline (``_edges_e2e_sql``) instead
    of the upstream-golden stage-isolated oracle — the strongest single
    value-level correctness statement in the gate: a bug in ANY stage's
    Spark logic changes these values."""
    return q_kg_edges(spark, sf_dir)


def q_kg_edges_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental KG maintenance: split the triple stream into two
    deterministic batches, materialize edges per batch against the SAME
    canonical map, merge with ``merge_edge_increments`` — and gate the
    merge against the WHOLE-corpus SQL derivation, proving the monoid
    identity merge(edges(parts)) == edges(whole) at value level. This is
    the 100 TB production pattern: per-batch increments, not full
    recompute."""
    from transner_spark.operators.canonicalize import canonicalize
    from transner_spark.operators.materialize import (
        materialize_edges,
        merge_edge_increments,
    )

    from transner_spark.operators.linking import link_surfaces, node_surfaces

    # one NER pass: localCheckpoint the triple stream (graph_pagerank
    # precedent), then both batch filters AND the canon derivation reuse
    # the materialized result instead of re-running annotate 4x
    t = _triples(spark, sf_dir).localCheckpoint()
    canon = canonicalize(link_surfaces(spark, node_surfaces(t)))
    part = F.pmod(F.crc32(F.col("conv_id")), F.lit(2))
    batches = [
        materialize_edges(t.where(part == i), canon) for i in range(2)
    ]
    return _select_edge_cols(merge_edge_increments(*batches))


def q_kg_edges_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal snapshot: the edge table as of the midpoint of the
    triple stream's ts range (cutoff derived IN-PLAN as a broadcast
    scalar); oracle = the same rollup with the same midpoint filter in
    SQL."""
    from transner_spark.operators.canonicalize import canonicalize
    from transner_spark.operators.materialize import edges_asof

    t = _triples(spark, sf_dir)
    canon = canonicalize(_links(spark, sf_dir))
    return _select_edge_cols(edges_asof(t, canon))


def q_kg_edges_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consolidated two-method maintenance gate (the ann_recall
    precedent): the incremental monoid merge AND the midpoint as-of
    snapshot as one (method, <edge cols>) union — both value-checked in
    one window slot; the per-method gates stay runnable in the tail."""
    inc = q_kg_edges_incremental(spark, sf_dir).select(
        F.lit("incremental").alias("method"), "*"
    )
    asof = q_kg_edges_asof(spark, sf_dir).select(
        F.lit("asof").alias("method"), "*"
    )
    return inc.unionByName(asof)


def q_walk_skipgrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram (center, context) co-occurrence counts over the
    deterministic walk corpus — the SGNS positive-pair table that
    completes the KG-embedding data prep (walks -> pairs; negatives
    from kg_negative_samples). Exact-integer all the way; oracle wraps
    the unrolled walk CTE in the windowed self-join."""
    from transner_spark.operators.walks import walk_skipgrams

    return walk_skipgrams(_edges(spark, sf_dir))


def q_kg_edges_canon_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-speed maintenance, second speed: batch-1 edges are resolved
    under a STALE canonical map (built from batch 1's surfaces only),
    batch-2 edges under the refreshed whole-corpus map, the two merged —
    and then ``reresolve_edges`` re-keys the maintained table through
    the refreshed map. Gate: the result equals the full recompute under
    the refreshed map (the existing kg_edges SQL chain) at value level —
    the last untested claim in the 100 TB maintenance story (VERDICT r3
    item 3): a canon refresh never forces a corpus replay."""
    from transner_spark.operators.canonicalize import canonicalize
    from transner_spark.operators.linking import link_surfaces, node_surfaces
    from transner_spark.operators.materialize import (
        materialize_edges,
        merge_edge_increments,
        reresolve_edges,
    )

    t = _triples(spark, sf_dir).localCheckpoint()
    part = F.pmod(F.crc32(F.col("conv_id")), F.lit(2))
    t1, t2 = t.where(part == 0), t.where(part == 1)
    canon_stale = canonicalize(link_surfaces(spark, node_surfaces(t1)))
    canon_new = canonicalize(link_surfaces(spark, node_surfaces(t)))
    maintained = merge_edge_increments(
        materialize_edges(t1, canon_stale),  # resolved under the stale map
        materialize_edges(t2, canon_new),
    )
    return _select_edge_cols(reresolve_edges(maintained, canon_new))


def q_entity_profiles_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-view maintenance of the entity serving view: split
    the triple stream into two deterministic batches, build MERGEABLE
    per-(entity,pred,surface) partials per batch, merge with the partial
    monoid, and re-derive the exact profile view — proving
    profiles_from_partials(merge(partials(parts))) == profiles(whole)
    at value level against the same full-recompute SQL oracle the
    one-shot gate uses. The profile's two non-distributive aggregates
    (pred-distinct, modal surface) become distributive over the partial
    key, so a 100 TB profile refresh never re-scans the corpus."""
    from transner_spark.operators.canonicalize import canonicalize
    from transner_spark.operators.linking import link_surfaces, node_surfaces
    from transner_spark.operators.materialize import (
        entity_profile_partials,
        merge_profile_partials,
        profiles_from_partials,
    )

    t = _triples(spark, sf_dir).localCheckpoint()
    canon = canonicalize(link_surfaces(spark, node_surfaces(t)))
    part = F.pmod(F.crc32(F.col("conv_id")), F.lit(2))
    parts = [
        entity_profile_partials(t.where(part == i), canon) for i in range(2)
    ]
    return profiles_from_partials(merge_profile_partials(*parts)).select(
        "entity_id",
        "n_subj",
        "n_obj",
        "n_preds",
        F.unix_timestamp("first_ts").alias("first_epoch"),
        F.unix_timestamp("last_ts").alias("last_epoch"),
        "top_surface",
    )


def q_kg_edges_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot delta: diff the midpoint as-of snapshot against the full
    edge table (operators/materialize.edges_diff) — the audit primitive
    of the temporal-maintenance story. One NER pass (localCheckpoint
    precedent from kg_edges_incremental) feeds both rollups; the oracle
    composes two independent SQL rollups and full-outer joins them."""
    from transner_spark.operators.canonicalize import canonicalize
    from transner_spark.operators.linking import link_surfaces, node_surfaces
    from transner_spark.operators.materialize import (
        edges_asof,
        edges_diff,
        materialize_edges,
    )

    t = _triples(spark, sf_dir).localCheckpoint()
    canon = canonicalize(link_surfaces(spark, node_surfaces(t)))
    return edges_diff(edges_asof(t, canon), materialize_edges(t, canon)).select(
        "subj_id",
        "pred",
        "obj_id",
        "status",
        "weight_old",
        "weight_new",
        "weight_delta",
    )


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.canonicalize import canonicalize
    from transner_spark.operators.materialize import materialize_edges

    t = _triples(spark, sf_dir)
    return materialize_edges(t, canonicalize(_links(spark, sf_dir)))


def q_entity_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-canonical-entity serving view (the "entity card"): subject/
    object activity counts, distinct predicates, time bounds, and the
    modal surface form with a deterministic tiebreak. Oracle re-derives
    the whole view from the upstream goldens."""
    from transner_spark.operators.canonicalize import canonicalize
    from transner_spark.operators.materialize import entity_profiles

    t = _triples(spark, sf_dir)
    canon = canonicalize(_links(spark, sf_dir))
    return entity_profiles(t, canon).select(
        "entity_id",
        "n_subj",
        "n_obj",
        "n_preds",
        F.unix_timestamp("first_ts").alias("first_epoch"),
        F.unix_timestamp("last_ts").alias("last_epoch"),
        "top_surface",
    )


def q_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics over the materialized KG: per-node in/out degree
    and weight sums. Oracle re-derives from the edges golden (same
    upstream-golden stage isolation as kg_links/canonical/edges)."""
    from transner_spark.operators.graph import graph_degrees

    return graph_degrees(_edges(spark, sf_dir))


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration damped PageRank with dangling-mass redistribution;
    oracle = per-iteration unrolled SQL (the kmeans_cells precedent)."""
    from transner_spark.operators.graph import graph_pagerank

    return graph_pagerank(_edges(spark, sf_dir))


def q_graph_two_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop reachability with path multiplicity over the distinct link
    graph (hub-guard parameter exercised in pytest; gate runs unfiltered)."""
    from transner_spark.operators.graph import graph_two_hop

    return graph_two_hop(_edges(spark, sf_dir))


def q_graph_neighbors_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node top-k neighbors by weight (KG-serving primitive); the
    rank window is PARTITIONED by subj_id — per-node frames, never a
    global sort."""
    from transner_spark.operators.graph import graph_neighbors_topk

    return graph_neighbors_topk(_edges(spark, sf_dir))


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts + clustering coefficient via
    degree-ordered orientation (each triangle counted at its unique
    pivot; orientation bounds the wedge fan-out, so the hot entity —
    which orients INWARD — never pays the quadratic step)."""
    from transner_spark.operators.graph import graph_triangles

    return graph_triangles(_edges(spark, sf_dir))


def q_graph_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-neighbor Jaccard similarity — structural merge candidates,
    the relational complement of surface-string linking (hub-guard
    parameter exercised in pytest; gate runs unguarded, the
    graph_two_hop posture)."""
    from transner_spark.operators.graph import graph_similarity

    return graph_similarity(_edges(spark, sf_dir))


def q_kg_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic filtered negative sampling for KG-embedding
    training: per positive triple, hash-addressed corrupted objects via
    a bucketed 0..N-1 entity index (no data-scaled global window),
    minus accidental positives (operators/negatives.py; oracle =
    identical two-level index + hash in DuckDB)."""
    from transner_spark.operators.negatives import negative_samples

    return negative_samples(_edges(spark, sf_dir))


def q_graph_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded BFS from the top-degree seed entities: (seed_id, node_id,
    dist) with dist the shortest undirected hop distance ≤ KHOP_MAX_HOPS
    (frontier expansion + visited anti-join per round; oracle = one
    unrolled walk-extension CTE per hop with a min-over-union finish)."""
    from transner_spark.operators.graph import graph_khop

    return graph_khop(_edges(spark, sf_dir))


def q_graph_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic DeepWalk corpus from the top-degree seed entities:
    (seed_id, walk_no, step, node_id), next hop hash-addressed into the
    rank-indexed adjacency (operators/walks.py — O(walkers) per step,
    hub-safe; oracle = one unrolled walk CTE per step with the same h60
    arithmetic)."""
    from transner_spark.operators.walks import random_walks

    return random_walks(_edges(spark, sf_dir))


def q_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components + sizes of the undirected entity graph
    (iterative min-label CC with fail-loud convergence, reused from the
    canonicalization stage; oracle = recursive-CTE CC, the
    dedup_clusters precedent)."""
    from transner_spark.operators.graph import graph_components

    return graph_components(_edges(spark, sf_dir))


def q_graph_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration synchronous label-propagation communities
    (deterministic count-desc/label-asc tiebreak; oracle = one unrolled
    counts/argmax CTE pair per round, the pagerank posture)."""
    from transner_spark.operators.graph import graph_communities

    return graph_communities(_edges(spark, sf_dir))


def q_graph_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consolidated two-method graph-partitioning gate (the ann_recall
    precedent): connected components AND label-propagation communities
    as one (method, node_id, label, size) union — both value-checked in
    one window slot; the per-method gates remain runnable locally in
    the tail."""
    from transner_spark.operators.graph import (
        graph_communities,
        graph_components,
    )

    e = _edges(spark, sf_dir)
    comp = graph_components(e).select(
        F.lit("cc").alias("method"),
        "node_id",
        F.col("component_id").alias("label"),
        F.col("component_size").alias("size"),
    )
    comm = graph_communities(e).select(
        F.lit("lpa").alias("method"),
        "node_id",
        F.col("community_id").alias("label"),
        F.col("community_size").alias("size"),
    )
    return comp.unionByName(comm)


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k token census (the BPE/WordPiece vocabulary seed): one
    explode + map-side-combinable hash agg + TakeOrderedAndProject.
    Gated at VOCAB_GATE_K < the sf0.01 vocabulary size so the
    deterministic (freq desc, token asc) boundary cut is itself
    driver-verified."""
    from transner_spark.operators.textops import VOCAB_GATE_K, vocab_topk

    return vocab_topk(
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet")),
        k=VOCAB_GATE_K,
    )


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-k TF-IDF keywords (salient-term indexing):
    smooth idf, double-round-snapped score BEFORE the per-doc rank
    window (ln is transcendental), term-asc tiebreak."""
    from transner_spark.operators.textops import tfidf_keywords

    return tfidf_keywords(
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    )


def q_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift monitor between two snapshots: top-k tokens by
    smoothed KL(new||old) contribution over the md5-split halves of the
    documents table (the quartile-split idiom) — what a continuously
    ingesting pipeline checks before retraining. kl_term is
    double-round-snapped before the ordering (ln)."""
    from transner_spark.operators.textops import snapshot_split, token_drift

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    half = snapshot_split(docs)
    return token_drift(docs.where(half), docs.where(~half))


def q_stream_windowed_counts_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consolidated two-mode streaming windowed-counts gate (the
    ann_recall precedent): the complete-mode AND append-mode sinks of
    the same watermarked tumbling aggregation, unioned with a mode
    discriminator — both value-checked in one window slot against the
    same batch-SQL oracle; per-mode gates stay runnable in the tail."""
    comp = q_stream_windowed_counts(spark, sf_dir).select(
        F.lit("complete").alias("mode"), "*"
    )
    app = q_stream_windowed_counts_append(spark, sf_dir).select(
        F.lit("append").alias("mode"), "*"
    )
    return comp.unionByName(app)


def q_kg_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The post-maintenance invariant sweep (kg_integrity_report) run
    over a DELIBERATELY corrupted edge table so every check carries a
    nonzero count: md5-hex slices of the edge key get (0) swapped
    timestamps, (1) zeroed weights, (2) a subj_id pointed at a
    REWRITTEN canon domain node — the stale-canon hazard — and (3)
    verbatim duplicate rows. The corruption is in-plan and
    deterministic (Spark md5(binary) == DuckDB md5(varchar), the
    stream_edges_log_travel idiom); the oracle re-derives slices,
    corruption, and all four checks in SQL over the edges+canonical
    goldens."""
    from transner_spark.operators.canonicalize import canonicalize
    from transner_spark.operators.evaluate import kg_integrity_report

    canon = canonicalize(_links(spark, sf_dir))
    e = _edges(spark, sf_dir)
    # fail LOUD (in-plan) if the rewrite domain is ever empty — a NULL
    # _rw_node would silently turn the unresolved_node check vacuous
    # while the gate stayed green (the lsh_buckets raise_error posture)
    min_rewrite = (
        canon.where(F.col("canon_id") != F.col("node_id"))
        .agg(F.min("node_id").alias("_mn"))
        .select(
            F.when(F.col("_mn").isNotNull(), F.col("_mn"))
            .otherwise(
                F.raise_error(
                    F.lit(
                        "kg_integrity: canon rewrite domain is empty — "
                        "the stale-canon corruption slice cannot be built"
                    )
                )
            )
            .alias("_rw_node")
        )
    )
    hx = F.substring(
        F.md5(F.concat_ws("|", "subj_id", "pred", "obj_id").cast("binary")), 1, 1
    )
    c = F.col("_hx")
    corrupted = (
        e.crossJoin(F.broadcast(min_rewrite))
        .withColumn("_hx", hx)
        .select(
            F.when(c == "2", F.col("_rw_node")).otherwise(F.col("subj_id")).alias("subj_id"),
            F.col("pred"),
            F.col("obj_id"),
            F.when(c == "1", F.lit(0)).otherwise(F.col("weight")).cast("long").alias("weight"),
            F.when(c == "0", F.col("last_ts")).otherwise(F.col("first_ts")).alias("first_ts"),
            F.when(c == "0", F.col("first_ts")).otherwise(F.col("last_ts")).alias("last_ts"),
            "_hx",
        )
        .localCheckpoint()  # 2 union consumers below
    )
    bad = corrupted.drop("_hx").unionByName(
        corrupted.where(c == "3").drop("_hx")
    )
    return kg_integrity_report(bad, canon)


def q_kg_export_ntriples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KG interchange sink: every edge as a W3C N-Triples line plus
    a reified weight literal (operators/export.edges_to_ntriples) — a
    narrow Catalyst map with an explicit percent-escape chain, so the
    serialization (and the escaping rule itself) is value-checked
    against a DuckDB re-derivation (oracles.ntriples_sql)."""
    from transner_spark.operators.export import edges_to_ntriples

    return edges_to_ntriples(_edges(spark, sf_dir), include_weights=True)


def q_eval_edges_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-rule acceptance metric (P/R over emitted triples/edges,
    BASELINE.json "triple P/R >= 0.95 vs reference") as a DISTRIBUTED
    operator: per-predicate precision/recall/F1 of the canonicalized
    edge set scored against the raw (identity-canon) edge set. The two
    sides are deliberately non-identical so every PRF branch — match,
    emitted-only, reference-only — carries real counts; in production
    the reference side is the reference extractor's triple table.
    Oracle: both edge sets re-derived by kg_edges_sql (the reference
    side through an EMPTY canon), then the same set algebra
    (oracles.edges_prf_sql)."""
    from transner_spark.operators.evaluate import set_prf
    from transner_spark.operators.materialize import materialize_edges

    empty_canon = spark.createDataFrame([], "node_id string, canon_id string")
    raw = materialize_edges(_triples(spark, sf_dir), empty_canon)
    return set_prf(
        _edges(spark, sf_dir), raw, ["subj_id", "pred", "obj_id"], "pred"
    )


def q_edge_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evidence/citation table for the KG: up to PROVENANCE_K supporting
    (conv_id, turn_idx) turns per materialized edge, deterministically
    sampled by the 'pv:' h60 stream through the SAME canon resolution
    as materialize_edges, ranked by a salted two-phase top-k (no
    edge-sized window frame on the hot edge; oracle = the plain
    single-window formulation)."""
    from transner_spark.operators.canonicalize import canonicalize
    from transner_spark.operators.materialize import edge_provenance

    return edge_provenance(
        _triples(spark, sf_dir), canonicalize(_links(spark, sf_dir))
    )


def q_kg_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level entity co-occurrence with PMI weighting — the
    distributional edge-enrichment step over the extracted KG. The
    self-join key is the turn-bounded conv_id (guarded in-plan), never
    an entity; lift is exact IEEE arithmetic, pmi double-round-snapped
    (oracles.entity_cooccurrence_sql)."""
    from transner_spark.operators.canonicalize import canonicalize
    from transner_spark.operators.evaluate import entity_cooccurrence

    return entity_cooccurrence(
        _triples(spark, sf_dir), canonicalize(_links(spark, sf_dir))
    )


def q_preprocess_proc_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2 against an independent SQL re-derivation (per-character
    list comprehension over the emission rule)."""
    from transner_spark.operators.annotate import preprocessed_turns

    return preprocessed_turns(_transcripts(spark, sf_dir)).select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        "proc_text",
    )


def q_mentions_religion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 end-to-end against INDEPENDENT SQL (not the golden): the
    religion-gazetteer mentions are the one NER output a SQL engine can
    re-derive — lower().split() membership against the religions set,
    first-occurrence offset via strpos, value restored from the original
    text. Chips at the mentions-golden caveat for the rule subset."""
    from transner_spark.operators.annotate import explode_mentions

    m = explode_mentions(_annotated(spark, sf_dir))
    return m.where(
        (F.col("type") == "RELIGION") & (F.col("source") == "gazetteer")
    ).select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        "value",
        F.col("offset").cast("long").alias("offset"),
        "confidence",
    )


def q_mentions_uri(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1's URI pattern is the one regex that is RE2-safe, so its
    mentions get an independent SQL gate (offsets re-derived with a
    recursive strpos walk over the in-order match list)."""
    from transner_spark.operators.annotate import explode_mentions

    m = explode_mentions(_annotated(spark, sf_dir))
    return m.where(F.col("type") == "URI").select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        "value",
        F.col("offset").cast("long").alias("offset"),
        "confidence",
    )


def q_triples_relational(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-1 (adjacent-mention + predicate-phrase) triples, checked
    against an independent SQL re-derivation from the golden mentions +
    raw text (norm columns excluded — see _relational_triples_sql)."""
    return (
        _triples(spark, sf_dir)
        .where(F.col("pred") != "used_tool")
        .select(
            "conv_id",
            F.col("turn_idx").cast("long").alias("turn_idx"),
            "subj_value",
            "subj_type",
            "subj_norm",
            "pred",
            "obj_value",
            "obj_type",
            "obj_norm",
            "confidence",
        )
    )


def q_triples_structural(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The structural used_tool triples re-derived end-to-end: oracle =
    plain SQL over the raw transcripts (no golden involved)."""
    return (
        _triples(spark, sf_dir)
        .where(F.col("pred") == "used_tool")
        .select(
            "conv_id",
            F.col("turn_idx").cast("long").alias("turn_idx"),
            "subj_value",
            "subj_type",
            "obj_value",
            "obj_type",
            "confidence",
        )
    )


def q_length_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: word-count guard routes overlong turns; survivors counted by role."""
    from transner_spark.operators.annotate import split_quarantine

    kept, _ = split_quarantine(_transcripts(spark, sf_dir))
    return kept.groupBy("role").agg(F.count(F.lit(1)).alias("n_turns")).orderBy("role")


def q_turn_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 invariant: per-conv text fingerprint under stable turn ordering."""
    t = _transcripts(spark, sf_dir)
    return (
        t.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_turns"),
            F.md5(
                F.concat_ws(
                    "\x01",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("turn_idx", "text"))),
                        lambda s: s["text"],
                    ),
                )
            ).alias("fingerprint"),
        )
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.textops import text_stats

    return text_stats(spark.read.parquet(os.path.join(sf_dir, "documents.parquet")))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.textops import lang_id

    return lang_id(spark.read.parquet(os.path.join(sf_dir, "documents.parquet")))


def q_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.textops import corpus_filter

    return corpus_filter(spark.read.parquet(os.path.join(sf_dir, "documents.parquet")))


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.textops import doc_fingerprint

    return doc_fingerprint(spark.read.parquet(os.path.join(sf_dir, "documents.parquet")))


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: per train doc, how many of its distinct
    word 4-grams appear anywhere in the deterministic ~10% eval split —
    the GPT-3-style n-gram overlap test (operators/curation.py; eval
    grams broadcast, ONE doc-keyed agg, no rejoin)."""
    from transner_spark.operators.curation import decontaminate, eval_split

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    ev = eval_split(docs)
    return decontaminate(docs.where(~ev), docs.where(ev))


def q_sample_to_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing resampler: the corpus re-cut to the 40/15/15/15/15
    lang mixture at 50% token coverage — exact integer budgets, md5
    order, two-level cumulative-token scheme with no data-scaled
    per-group window (oracle = plain per-group window cumsum)."""
    from transner_spark.operators.curation import sample_to_mixture

    return sample_to_mixture(
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    )


def q_sample_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic downsampling (data mixing): keep at most
    QUOTA_PER_GROUP docs per lang by md5 rank — exact per-group rank via
    contiguous hex-prefix buckets + constant-size offset join, never a
    data-scaled per-group window (oracle = the plain global-window
    formulation, an independent derivation)."""
    from transner_spark.operators.curation import sample_quota

    return sample_quota(
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    )


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition metrics: top/duplicate
    word-2-gram counts and fractions per doc, via a zero-shuffle sorted
    run-length fold (oracle derives multiplicities independently with
    unnest + GROUP BY)."""
    from transner_spark.operators.curation import doc_repetition

    return doc_repetition(
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    )


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing for the training corpus: every regex-extracted PII
    span replaced by its [TYPE] placeholder, deterministic overlap
    policy, turns without PII pass through verbatim. Spark derives spans
    from the live annotate pipeline; the oracle splices independently
    from the mentions golden (recursive-CTE keep-set + lag/string_agg)."""
    from transner_spark.operators.annotate import explode_mentions
    from transner_spark.operators.curation import pii_spans, redact_pii

    return redact_pii(
        _transcripts(spark, sf_dir),
        pii_spans(explode_mentions(_annotated(spark, sf_dir))),
    )


def q_mention_contexts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-in-context training examples: every typed mention with up to
    CTX_CHARS chars of left/right context from the original turn text —
    the NER-fine-tuning/disambiguation example extractor, with an
    in-plan offset-drift raise_error guard. Spark derives mentions from
    the live annotate pipeline; the oracle windows independently over
    the mentions golden (the redact_pii posture)."""
    from transner_spark.operators.annotate import explode_mentions
    from transner_spark.operators.curation import mention_contexts

    return mention_contexts(
        _transcripts(spark, sf_dir),
        explode_mentions(_annotated(spark, sf_dir)),
    )


def q_train_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic pre-training shuffle: every document's shard id
    ('sh:' h60 stream mod TRAIN_SHARDS) and in-shard order key ('so:'
    md5 stream) — write_training_shards materializes it as one sorted
    file per shard=K/ dir (pytest-pinned); the gate value-checks the
    assignment both streams derive from."""
    from transner_spark.operators.curation import train_shards

    return train_shards(
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing for LLM pretraining: docs hash-sharded
    and packed into fixed-token-budget bins by a deterministic per-shard
    applyInPandas scan — metadata-scale (only doc_id/token-count/key
    move); oracle replays the identical greedy walk as a recursive CTE
    (operators/curation.py)."""
    from transner_spark.operators.curation import pack_sequences

    return pack_sequences(
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.dedup import dedup_exact

    return dedup_exact(_docs(spark, sf_dir))


def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-overlap dedup (round 5): pairs sharing a >= K-char
    normalized substring, joined on the substring VALUE itself (no hash,
    no collision verify) with the distinct-shared-window count. The
    verbatim-boilerplate complement of the token-set dedups; oracle
    re-derives the window sets by lateral substr in DuckDB."""
    from transner_spark.operators.dedup import dedup_substring

    return dedup_substring(_docs(spark, sf_dir))


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.dedup import dedup_minhash_lsh

    return dedup_minhash_lsh(_docs(spark, sf_dir))


def q_dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest dedup: the docs table is split deterministically
    (xxhash64 of doc_id, ~25% 'new batch'), the incremental path merges
    the batch against the 'existing corpus', and the oracle is the FULL
    recompute SQL over the whole table — incremental ≡ full, the same
    algebraic gate shape as kg_edges_incremental."""
    from transner_spark.operators.dedup import dedup_minhash_incremental

    docs = _docs(spark, sf_dir)
    is_new = F.pmod(F.abs(F.xxhash64("doc_id")), F.lit(4)) == F.lit(0)
    return dedup_minhash_incremental(
        docs.where(~is_new), docs.where(is_new)
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.dedup import dedup_clusters

    return dedup_clusters(_docs(spark, sf_dir))


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.dedup import dedup_simhash

    return dedup_simhash(_docs(spark, sf_dir))


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.dedup import dedup_ngram_jaccard

    return dedup_ngram_jaccard(_docs(spark, sf_dir))


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.dedup import dedup_embedding_cosine

    return dedup_embedding_cosine(_emb(spark, sf_dir))


def q_dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.dedup import dedup_embedding_cosine_lsh

    return dedup_embedding_cosine_lsh(spark, _emb(spark, sf_dir))


def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.simsearch import ann_bruteforce

    return ann_bruteforce(_emb(spark, sf_dir))


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.simsearch import ann_lsh

    return ann_lsh(spark, _emb(spark, sf_dir))


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.simsearch import ann_ivf

    return ann_ivf(spark, _emb(spark, sf_dir))


def q_ann_recall_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.simsearch import ann_recall

    return ann_recall(spark, _emb(spark, sf_dir), method="lsh")


def q_ann_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.simsearch import ann_recall

    return ann_recall(spark, _emb(spark, sf_dir), method="ivf")


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_recall_lsh + ann_recall_ivf consolidated into ONE two-method
    gate (VERDICT r3 consolidation suggestion) so both recall checks
    occupy a single slot inside the driver's 50-query window; the
    per-method gates remain registered in the tail for local runs."""
    from transner_spark.operators.simsearch import ann_recall

    emb = _emb(spark, sf_dir)
    lsh = ann_recall(spark, emb, method="lsh").withColumn(
        "method", F.lit("lsh")
    )
    ivf = ann_recall(spark, emb, method="ivf").withColumn(
        "method", F.lit("ivf")
    )
    return lsh.unionByName(ivf).select(
        "method", "query_id", "n_exact", "n_hits", "recall"
    )


def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter profile of the edge-rollup shuffle key
    (subj_norm, pred, obj_norm) over the triples relation — the
    pre-flight pass that motivates materialize.SALT_PARTITIONS
    (operators/materialize.materialize_edges salts exactly this rollup).
    rows_per_task is set low (64) so the salt_factor arithmetic is
    actually exercised at sf0.01 gate scale; production would pass
    ~1e6. The skewed hot-entity fixture (sources/transcripts.py:88)
    guarantees a non-uniform histogram."""
    from transner_spark.operators.skew import profile_skew

    return profile_skew(
        _triples(spark, sf_dir),
        ["subj_norm", "pred", "obj_norm"],
        top_k=25,
        rows_per_task=64,
    )


def q_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-looped Lloyd's with a FIXED iteration count (iters=2), so
    the loop is unrollable: oracles.kmeans_oracle chains the same rounds
    as recursive-free CTEs and value-checks the final assignment.
    Quality/determinism additionally pinned in pytest."""
    from transner_spark.operators.simsearch import kmeans_refine

    assign, _ = kmeans_refine(spark, _emb(spark, sf_dir))
    return assign.select(
        "vec_id", F.col("cell_id").cast("long").alias("cell_id")
    )


def q_mm_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.multimodal import asset_metadata

    return asset_metadata(_docs(spark, sf_dir))


def q_mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.multimodal import media_features

    return media_features(_docs(spark, sf_dir))


def q_mm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.multimodal import video_frames

    return video_frames(_docs(spark, sf_dir))


def q_mm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-decoder gate (round 5): doc_id-derived sample/pixel values
    round-trip through real RIFF/WAVE + netpbm-P6 writers AND parsers
    (operators/multimodal.py encode_wav/decode_wav, encode_ppm/
    decode_ppm/_stream); features are byte stats of the DECODED output
    — one 'full' row per asset plus per-frame rows for videos. The
    oracle re-derives the decoded bytes analytically from the synthesis
    spec with no codec, so a chunk-walk/padding/frame-boundary bug in
    either coder is a value mismatch."""
    from transner_spark.operators.multimodal import media_decoded_features

    return media_decoded_features(_docs(spark, sf_dir))


def _wikiner_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.wikiner import read_wikiner_lines, wikiner_scan
    from transner_spark.sources.wikiner import ensure_wikiner_raw

    txt, _ = ensure_wikiner_raw(REPO, sf_dir)
    return wikiner_scan(read_wikiner_lines(spark, txt))


def q_wikiner_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-file gate corpus → the per-file key column is constant
    return _wikiner_tokens(spark, sf_dir).drop("file")


def q_wikiner_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.wikiner import wikiner_sentences

    return wikiner_sentences(_wikiner_tokens(spark, sf_dir)).select(
        "article_id",
        "sent_idx",
        "sentence",
        F.size("tags").cast("long").alias("n_tokens"),
        F.concat_ws(" ", "tags").alias("tags_str"),
    )


def q_wikiner_conll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.wikiner import wikiner_conll, wikiner_sentences

    return wikiner_conll(
        wikiner_sentences(_wikiner_tokens(spark, sf_dir)), augment=True
    ).drop("file")


def q_t10_inline_annotate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.inline_annotation import inline_annotate

    return inline_annotate(_docs(spark, sf_dir).select("doc_id", "text"))


def q_t10_inline_conll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.inline_annotation import (
        inline_annotate,
        inline_conll,
    )

    return inline_conll(
        inline_annotate(_docs(spark, sf_dir).select("doc_id", "text"))
    )


def q_t11_corpus_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.inline_annotation import (
        concat_corpus,
        inline_annotate,
        inline_conll,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return concat_corpus(inline_conll(inline_annotate(docs)), docs)


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.relational import corpus_stats

    return corpus_stats(_docs(spark, sf_dir))


def q_iob_to_bio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.relational import iob_to_bio

    return iob_to_bio(_docs(spark, sf_dir))


def q_split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.relational import split_train_val_test

    return split_train_val_test(_docs(spark, sf_dir))


def q_region_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.relational import region_containment

    return region_containment(_docs(spark, sf_dir))


def q_mentions_ner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CLASSIFIER-path mentions (source='model') with a fully
    independent DuckDB oracle (oracles_ner.mentions_ner_sql): preprocess
    + offset map, greedy lexicon tiling, h60 one-hot softmax confidence,
    the verbatim BIO decode state machine, and the P8 remap are all
    re-derived in SQL — the chain that was golden-replay-only through
    round 2. Only the phrase/name dictionaries are shared DATA
    (ner_phrases/ner_names parquet, the alias_dim convention)."""
    from transner_spark.operators.annotate import explode_mentions

    return explode_mentions(_annotated(spark, sf_dir)).where(
        F.col("source") == "model"
    ).select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        F.col("mention_id").cast("long").alias("mention_id"),
        "type",
        "value",
        F.col("offset").cast("long").alias("offset"),
        "confidence",
    )


def q_mentions_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PII regex mentions (all 7 non-URI patterns, EU_IBAN included
    — its ``[]?`` parses identically in RE2, corpus+fuzz verified) with
    an independent SQL oracle (oracles_ner.mentions_regex_sql — a
    position-exact finditer emulation via lazy-prefix extraction). With
    mentions_ner + mentions_religion + mentions_uri, EVERY mention
    subset is now independently SQL-verified."""
    from transner_spark.oracles_ner import RE2_SAFE_TYPES
    from transner_spark.operators.annotate import explode_mentions

    return explode_mentions(_annotated(spark, sf_dir)).where(
        F.col("type").isin(list(RE2_SAFE_TYPES))
    ).select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        "type",
        "value",
        F.col("offset").cast("long").alias("offset"),
        "confidence",
    )


def q_graf_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 front-to-back: parse the 4-file GrAF standoff XML sets
    (mapInPandas over binaryFile) and containment-merge them into the
    reference's .conll output. The DuckDB oracle re-derives the merge
    from element parquet twins the generator renders independently of
    the XML, so parse AND merge are both cross-checked."""
    from transner_spark.operators.graf import graf_merge
    from transner_spark.sources.graf import (
        ensure_graf_raw,
        read_graf_ners,
        read_graf_pos,
        read_graf_regions,
        read_graf_sents,
    )

    graf_dir = ensure_graf_raw(REPO, sf_dir)
    return graf_merge(
        read_graf_regions(spark, graf_dir),
        read_graf_sents(spark, graf_dir),
        read_graf_pos(spark, graf_dir),
        read_graf_ners(spark, graf_dir),
    )


def q_substring_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.data.aliases import ensure_keys_parquet
    from transner_spark.operators.relational import substring_antijoin

    return substring_antijoin(spark.read.parquet(ensure_keys_parquet(REPO)))


def q_mention_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.annotate import explode_mentions
    from transner_spark.operators.relational import mention_overlap_pairs

    return mention_overlap_pairs(explode_mentions(_annotated(spark, sf_dir)))


def q_pipeline_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 as a first-class query surface: run the staged pipeline into a
    scratch warehouse and read each stage's output row count from its
    commit record (the run's METRICS.jsonl request log). The oracle
    re-derives every stage's count independently (the golden-free
    chained SQL derivation), so this checks both that the commit log is
    faithful and that a fresh end-to-end run reproduces the corpus
    exactly."""
    import shutil
    import tempfile

    from transner_spark.plans.pipeline import PipelineRun
    from transner_spark.sources.catalog import read_records

    workdir = tempfile.mkdtemp(prefix="lineage_gate_")
    run = PipelineRun(spark, workdir)
    try:
        run.run(_transcripts(spark, sf_dir))
        out = [(r["stage"], r["rows_written"]) for r in read_records(workdir)]
    finally:
        # the edge table's catalog entry points into the tempdir —
        # drop it with the files so no dangling entry outlives the gate
        spark.sql(f"DROP TABLE IF EXISTS {run.edges_table}")
        shutil.rmtree(workdir, ignore_errors=True)
    return spark.createDataFrame(out, "stage string, rows_out long")


def q_stream_mentions_batch_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming/batch equivalence gate: run the incremental NER stream
    (availableNow over the same transcripts, exactly-once parquet sink)
    and compare its mention table to the batch kg_mentions oracle — the
    fused annotate stage must be execution-mode invariant."""
    import shutil
    import tempfile

    from transner_spark.sources.transcripts import ensure_transcripts_parquet
    from transner_spark.streaming.incremental import stream_mentions

    src = ensure_transcripts_parquet(REPO, sf_dir)
    work = tempfile.mkdtemp(prefix="stream_gate_")
    try:
        in_dir = os.path.join(work, "in")
        os.makedirs(in_dir)
        shutil.copy(src, os.path.join(in_dir, "part-00000.parquet"))
        stream_mentions(
            spark,
            in_dir,
            os.path.join(work, "out"),
            os.path.join(work, "ck"),
        )
        out = (
            spark.read.parquet(os.path.join(work, "out"))
            .select(
                "conv_id",
                F.col("turn_idx").cast("long").alias("turn_idx"),
                F.col("mention_id").cast("long").alias("mention_id"),
                "type",
                "value",
                F.col("offset").cast("long").alias("offset"),
                "confidence",
                "source",
            )
            .toPandas()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        out,
        "conv_id string, turn_idx long, mention_id long, type string, "
        "value string, offset long, confidence double, source string",
    )


def q_stream_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous-ingestion story end to end, in ONE gate
    (streaming/logstate.stream_pipeline_log): the corpus arrives as 4
    micro-batch files on a readStream with NOTHING precomputed — each
    batch runs incremental NER → triples → incremental linking (only
    anti-joined NEW vocabulary pays the gram-index pass) → canon map
    refreshed from the maintained link table → edge increment resolved
    under the batch-time map and APPENDED on the log substrate (inline
    compaction at 3 live segments, so the run crosses a fold). Serving
    (read_pipeline_edges) re-resolves the merged-on-read edges through
    the final map — the two-speed canon-refresh design executed at read
    time. Gate: the served table equals the golden-free SQL
    re-derivation of the WHOLE batch pipeline (the kg_edges_e2e
    oracle) — one value-level statement that the streaming chain and
    the batch chain are the same function. Supersedes the per-stage
    stream_mentions_batch_eq slot (the NER stage is the chain's first
    link; the per-stage gate stays runnable in the tail)."""
    import shutil
    import tempfile

    from transner_spark.sources.transcripts import ensure_transcripts_parquet
    from transner_spark.streaming.logstate import (
        read_pipeline_edges,
        stream_pipeline_log,
    )

    src = ensure_transcripts_parquet(REPO, sf_dir)
    work = tempfile.mkdtemp(prefix="stream_pipeline_gate_")
    try:
        in_dir = os.path.join(work, "in")
        spark.read.parquet(src).repartition(4).write.parquet(in_dir)
        state = os.path.join(work, "state")
        stream_pipeline_log(
            spark, in_dir, state, os.path.join(work, "ck"), compact_every=3
        )
        out = _select_edge_cols(read_pipeline_edges(spark, state)).toPandas()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        out,
        "subj_id string, pred string, obj_id string, weight long, "
        "first_epoch long, last_epoch long",
    )


def _stream_log_gate(
    spark: SparkSession, sf_dir: str, run_stream, read_result, schema: str
) -> DataFrame:
    """Shared harness for the log-substrate gates: 4-file micro-batch
    split with inline compaction at 3 live segments — the run exercises
    append, compact, and append-after-compact — and the merge-on-read
    result materialized before the tempdir is removed. ``run_stream``
    gets (spark, in_dir, state, ck_dir, canon); ``read_result`` gets
    (spark, state) and returns the gate-shaped DataFrame."""
    import shutil
    import tempfile

    from transner_spark.operators.canonicalize import canonicalize
    from transner_spark.sources.transcripts import ensure_transcripts_parquet

    src = ensure_transcripts_parquet(REPO, sf_dir)
    canon = canonicalize(_links(spark, sf_dir))
    work = tempfile.mkdtemp(prefix="stream_log_gate_")
    try:
        in_dir = os.path.join(work, "in")
        spark.read.parquet(src).repartition(4).write.parquet(in_dir)
        state = os.path.join(work, "state")
        run_stream(spark, in_dir, state, os.path.join(work, "ck"), canon)
        out = read_result(spark, state).toPandas()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(out, schema)


def q_stream_edges_log_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KG maintenance gate (streaming/logstate): split the
    corpus into 4 files and run ``stream_edge_increments_log``
    one-file-per-micro-batch against the batch-computed canonical map —
    each batch APPENDS an increment-sized segment, with inline
    compaction at 3 live segments. The merge-on-read state must equal
    the whole-corpus SQL edge derivation regardless of micro-batch
    boundaries or compaction points."""
    from transner_spark.streaming.logstate import (
        read_edge_log,
        stream_edge_increments_log,
    )

    return _stream_log_gate(
        spark,
        sf_dir,
        lambda s, ind, st, ck, canon: stream_edge_increments_log(
            s, ind, st, ck, canon, compact_every=3
        ),
        lambda s, st: _select_edge_cols(read_edge_log(s, st)),
        "subj_id string, pred string, obj_id string, weight long, "
        "first_epoch long, last_epoch long",
    )


def q_stream_profiles_log_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-substrate generality gate: the SAME log-structured
    maintenance runner (streaming/logstate) maintaining a DIFFERENT
    monoid — per-(entity,pred,surface) profile partials instead of edge
    rollups; the serving view re-derived from the merged-on-read
    partials must equal the whole-corpus SQL profile derivation."""
    from transner_spark.operators.materialize import profiles_from_partials
    from transner_spark.streaming.logstate import (
        read_profile_partials_log,
        stream_profile_partials_log,
    )

    return _stream_log_gate(
        spark,
        sf_dir,
        lambda s, ind, st, ck, canon: stream_profile_partials_log(
            s, ind, st, ck, canon, compact_every=3
        ),
        lambda s, st: profiles_from_partials(
            read_profile_partials_log(s, st)
        ).select(
            "entity_id",
            "n_subj",
            "n_obj",
            "n_preds",
            F.unix_timestamp("first_ts").alias("first_epoch"),
            F.unix_timestamp("last_ts").alias("last_epoch"),
            "top_surface",
        ),
        "entity_id string, n_subj long, n_obj long, n_preds long, "
        "first_epoch long, last_epoch long, top_surface string",
    )


def q_stream_edges_log_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel + changelog gate for the log substrate
    (streaming/logstate retention, ``read_edge_log_asof``,
    ``read_edge_log_changes``): the corpus is split into four
    deterministic micro-batches by md5(conv_id) hex quartile — a split
    both engines can express identically — and fed as four sequential
    availableNow runs with ``retain_snapshots=8`` and inline compaction
    at 3 live segments (batch 2's append commit triggers the fold, so
    both probes cross a compaction point). Two probes over ONE
    maintained state, discriminated by the ``probe`` column:

    - ``asof_b2``: reading AS OF batch 2 must equal the DuckDB edge
      derivation restricted to the first three quartiles'
      conversations (``substr(md5(conv_id),1,1) < 'c'``) — Iceberg
      ``VERSION AS OF`` semantics proven value-level;
    - ``changes_b1_b3``: the changelog read ``(1, 3]`` — what an
      incremental downstream consumer ingests — must equal the
      derivation restricted to the LAST two quartiles (``>= '8'``),
      including the folded batch 2's raw increment (alive because its
      append snapshot is retained)."""
    import shutil
    import tempfile

    from transner_spark.operators.canonicalize import canonicalize
    from transner_spark.sources.transcripts import ensure_transcripts_parquet
    from transner_spark.streaming.logstate import (
        read_edge_log_asof,
        read_edge_log_changes,
        stream_edge_increments_log,
    )

    src = ensure_transcripts_parquet(REPO, sf_dir)
    canon = canonicalize(_links(spark, sf_dir))
    full = spark.read.parquet(src)
    hexq = F.substring(F.md5(F.col("conv_id").cast("binary")), 1, 1)
    work = tempfile.mkdtemp(prefix="stream_log_travel_")
    try:
        in_dir = os.path.join(work, "in")
        state = os.path.join(work, "state")
        ck = os.path.join(work, "ck")
        for lo, hi in (("0", "4"), ("4", "8"), ("8", "c"), ("c", "g")):
            # one data file per quartile -> exactly one micro-batch per
            # sequential run; batch ids continue across runs (0..3)
            full.where((hexq >= lo) & (hexq < hi)).coalesce(1).write.mode(
                "append"
            ).parquet(in_dir)
            stream_edge_increments_log(
                spark, in_dir, state, ck, canon,
                compact_every=3, retain_snapshots=8,
            )
        probed = _select_edge_cols(
            read_edge_log_asof(spark, state, batch_id=2)
        ).select(F.lit("asof_b2").alias("probe"), "*").unionByName(
            _select_edge_cols(
                read_edge_log_changes(spark, state, since_batch=1)
            ).select(F.lit("changes_b1_b3").alias("probe"), "*")
        )
        out = probed.toPandas()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        out,
        "probe string, subj_id string, pred string, obj_id string, "
        "weight long, first_epoch long, last_epoch long",
    )


def q_stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming windowed-aggregate gate: tumbling 10-minute mention
    counts per type via the watermarked streaming aggregation (complete
    mode for deterministic output — see the operator docstring); oracle
    = plain SQL window aggregate over the batch mentions golden."""
    import shutil
    import tempfile

    from transner_spark.sources.transcripts import ensure_transcripts_parquet
    from transner_spark.streaming.incremental import (
        stream_windowed_mention_counts,
    )

    src = ensure_transcripts_parquet(REPO, sf_dir)
    work = tempfile.mkdtemp(prefix="streamw_gate_")
    try:
        in_dir = os.path.join(work, "in")
        os.makedirs(in_dir)
        shutil.copy(src, os.path.join(in_dir, "part-00000.parquet"))
        q = stream_windowed_mention_counts(
            spark,
            in_dir,
            os.path.join(work, "ck"),
            output_mode="complete",
            query_name="mention_counts_gate",
        )
        q.awaitTermination()
        out = (
            spark.table("mention_counts_gate")
            .select(
                F.col("start").cast("long").alias("start_epoch"),
                F.col("end").cast("long").alias("end_epoch"),
                "type",
                F.col("n_mentions").cast("long").alias("n_mentions"),
            )
            .toPandas()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        out,
        "start_epoch long, end_epoch long, type string, n_mentions long",
    )


def q_stream_windowed_counts_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode streaming windowed-aggregate gate (production
    semantics: each window emitted exactly once when the watermark
    closes it, parquet file sink accumulating across restarts). The
    sentinel choreography that flushes every real window lives in
    run_append_counts_to_horizon (shared with the pytest twin); the
    final sink holds exactly the real data windows — same oracle as the
    complete-mode gate."""
    import shutil
    import tempfile

    from transner_spark.sources.transcripts import ensure_transcripts_parquet
    from transner_spark.streaming.incremental import (
        run_append_counts_to_horizon,
    )

    src = ensure_transcripts_parquet(REPO, sf_dir)
    work = tempfile.mkdtemp(prefix="streama_gate_")
    try:
        in_dir = os.path.join(work, "in")
        out_dir = os.path.join(work, "out")
        ck = os.path.join(work, "ck")
        run_append_counts_to_horizon(spark, src, in_dir, out_dir, ck)

        out = (
            spark.read.parquet(out_dir)
            .select(
                F.col("start").cast("long").alias("start_epoch"),
                F.col("end").cast("long").alias("end_epoch"),
                "type",
                F.col("n_mentions").cast("long").alias("n_mentions"),
            )
            .toPandas()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        out,
        "start_epoch long, end_epoch long, type string, n_mentions long",
    )


def q_stream_conversations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming gate (applyInPandasWithState): drive
    conversation assembly to completion — the whole corpus arrives in
    micro-batch 0 (single input file, so no conversation can split
    across batches), then processingTime-triggered empty batches fire
    the idle timeout that closes every conversation exactly once. The
    one streaming operator availableNow can't exercise (processing-time
    timeouts only elapse in later triggered batches — operator
    docstring). Oracle = plain SQL sessionization over the transcripts
    cache; `closed_by` pins that every row came from a timeout close."""
    import shutil
    import tempfile
    import time

    from transner_spark.sources.transcripts import ensure_transcripts_parquet
    from transner_spark.streaming.incremental import stream_conversations

    src = ensure_transcripts_parquet(REPO, sf_dir)
    n_convs = spark.read.parquet(src).select("conv_id").distinct().count()
    work = tempfile.mkdtemp(prefix="streamc_gate_")
    try:
        in_dir = os.path.join(work, "in")
        os.makedirs(in_dir)
        shutil.copy(src, os.path.join(in_dir, "part-00000.parquet"))
        q = stream_conversations(
            spark,
            in_dir,
            os.path.join(work, "ck"),
            idle_timeout_ms=2000,
            trigger_interval="1 second",
            query_name="conversations_gate",
        )
        try:
            # bounded poll, not a fixed sleep: every conversation closes
            # once (the corpus is one batch), so count == n_convs is the
            # complete, stable answer
            deadline = time.monotonic() + 300
            while (
                spark.table("conversations_gate").count() < n_convs
                and time.monotonic() < deadline
            ):
                time.sleep(1)
            got = spark.table("conversations_gate").count()
            if got < n_convs:
                # fail LOUD (review r4): a silent partial set would reach
                # the oracle comparison looking like an assembly bug —
                # the actual failure is the poll deadline on a stalled
                # host, and that must be what the error says
                raise TimeoutError(
                    f"stream_conversations: only {got}/{n_convs} "
                    "conversations closed within the 300s poll deadline"
                )
            out = (
                spark.table("conversations_gate")
                .select(
                    "conv_id",
                    F.col("n_turns").cast("long").alias("n_turns"),
                    F.col("n_roles").cast("long").alias("n_roles"),
                    F.unix_timestamp("first_ts").alias("first_epoch"),
                    F.unix_timestamp("last_ts").alias("last_epoch"),
                    "closed_by",
                )
                .toPandas()
            )
        finally:
            q.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        out,
        "conv_id string, n_turns long, n_roles long, first_epoch long, "
        "last_epoch long, closed_by string",
    )


def q_role_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.relational import role_transitions

    return role_transitions(_transcripts(spark, sf_dir))


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transner_spark.operators.relational import sessionize_events

    return sessionize_events(
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    )


def _norm_sql(expr: str) -> str:
    """SQL twin of kernels/triples.normalize_surface (see the
    corpus-verified equivalence note in _relational_triples_sql)."""
    return (
        "regexp_replace(trim(regexp_replace(lower(strip_accents("
        + expr
        + ")), '[^a-z0-9]+', ' ', 'g')), ' +', ' ', 'g')"
    )


def _relational_triples_sql(cache: str, mentions_src: str) -> str:
    """Independent SQL derivation of rule-1 relational triples
    (kernels/triples.extract_triples_turn rule 1) from ``mentions_src``
    (a FROM-able SQL fragment — since round 3 the SQL-DERIVED mentions
    subquery, making the whole triples chain golden-free; a
    read_parquet(golden) literal also works) + raw text:
    node mentions sorted by (offset, mention_id),
    ADJACENT pairs, predicate phrase searched word-bounded in the
    lowered between-span, FIRST lexicon match in longest-phrase-first
    order wins, passive phrases reverse subj/obj, confidence = min of
    the pair. The kernel's lookaround word boundaries are re-expressed
    with consuming alternatives (RE2 has no lookarounds) — equivalent
    for existence tests. Norm columns use strip_accents+lower, which
    matches the kernel's NFKD+combining-strip+casefold on every value
    in this corpus (verified over all 628 distinct surfaces; diverges
    only on ligatures/ß-class casefolds)."""
    import re as _re

    from transner_spark.kernels.triples import _LEXICON, _NODE_TYPES

    def sq(s: str) -> str:
        return s.replace("'", "''")

    lex_rows = ",\n              ".join(
        f"({i}, '{sq(pred)}', {str(bool(rev)).upper()}, "
        f"'(^|[^a-z0-9])' || '{sq(_re.escape(phrase))}' || '($|[^a-z0-9])')"
        for i, (phrase, pred, rev) in enumerate(_LEXICON)
    )
    node_types = ", ".join(f"'{t}'" for t in sorted(_NODE_TYPES))
    return f"""
        WITH m AS (
          SELECT conv_id, turn_idx, mention_id, type, value, "offset",
                 confidence
          FROM {mentions_src}
          WHERE type IN ({node_types})
        ), t AS (
          SELECT conv_id, turn_idx, lower(text) AS lowered
          FROM read_parquet('{cache}')
        ), o AS (
          SELECT m.*, t.lowered FROM m JOIN t USING (conv_id, turn_idx)
        ), p AS (
          SELECT conv_id, turn_idx, lowered, mention_id AS a_mid,
                 value AS a_value, type AS a_type, "offset" AS a_off,
                 confidence AS a_conf,
                 lead(value) OVER w AS b_value, lead(type) OVER w AS b_type,
                 lead("offset") OVER w AS b_off,
                 lead(confidence) OVER w AS b_conf
          FROM o
          WINDOW w AS (PARTITION BY conv_id, turn_idx
                       ORDER BY "offset", mention_id)
        ), r AS (
          SELECT *,
                 substr(lowered, a_off + length(a_value) + 1,
                        b_off - a_off - length(a_value)) AS betw
          FROM p
          WHERE b_value IS NOT NULL
            AND b_off > a_off + length(a_value)
        ), lex(ord, pred, rev, pat) AS (
          VALUES {lex_rows}
        ), hit AS (
          SELECT r.*, lex.pred, lex.rev,
                 row_number() OVER (
                   PARTITION BY r.conv_id, r.turn_idx, r.a_mid
                   ORDER BY lex.ord) AS rn
          FROM r JOIN lex ON regexp_matches(r.betw, lex.pat)
        )
        SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
               CASE WHEN rev THEN b_value ELSE a_value END AS subj_value,
               CASE WHEN rev THEN b_type ELSE a_type END AS subj_type,
               {_norm_sql("CASE WHEN rev THEN b_value ELSE a_value END")}
                 AS subj_norm,
               pred,
               CASE WHEN rev THEN a_value ELSE b_value END AS obj_value,
               CASE WHEN rev THEN a_type ELSE b_type END AS obj_type,
               {_norm_sql("CASE WHEN rev THEN a_value ELSE b_value END")}
                 AS obj_norm,
               least(a_conf, b_conf) AS confidence
        FROM hit WHERE rn = 1
    """


_CHAIN_GUARD = "len(regexp_split_to_array(trim(text), '\\s+'))"


def _ensure_sql_derived_mentions(cache: str, phrases: str, names: str) -> str:
    """Materialize the kg_mentions_sql derivation ONCE per gate run and
    return the parquet path. NOT a frozen golden: the file is produced
    at oracle-BUILD time by DuckDB executing the same pure SQL
    derivation the ``kg_mentions`` gate still runs inline (so the
    derivation itself stays value-checked end-to-end) — this is a cached
    intermediate shared by the ~8 downstream oracles that previously
    each re-ran the recursive NER chain from scratch, roughly halving
    gate wall time. Keyed on a digest of the SQL text (which embeds the
    content-digested dictionary-dim paths) plus the transcripts cache's
    (size, mtime), so any change to the derivation or its inputs
    re-materializes."""
    import hashlib

    import duckdb

    from transner_spark.oracles_ner import kg_mentions_sql

    sql = kg_mentions_sql(cache, phrases, names)
    st = os.stat(cache)
    digest = hashlib.md5(
        f"{sql}|{st.st_size}|{st.st_mtime_ns}".encode()
    ).hexdigest()[:10]
    # scoped per sf: the file lives NEXT TO the transcripts cache it
    # derives from (data/cache/<sf>/), and pruning only sweeps that same
    # directory — alternating sf0.001/sf0.01 runs keep their own caches,
    # and a concurrent run at another sf can never delete a parquet an
    # in-flight gate's oracle SQL still references (ADVICE r3)
    out = os.path.join(
        os.path.dirname(cache), f"mentions_sql_derived-{digest}.parquet"
    )
    if not os.path.exists(out):
        import glob

        for stale in glob.glob(
            os.path.join(os.path.dirname(cache), "mentions_sql_derived-*.parquet")
        ):  # superseded digests (incl. mtime-keyed rebuilds): prune
            if stale != out:
                try:
                    os.remove(stale)
                except OSError:
                    pass
        tmp = f"{out}.{os.getpid()}.tmp"
        duckdb.connect().execute(f"COPY ({sql}) TO '{tmp}' (FORMAT PARQUET)")
        os.replace(tmp, out)
    return out


def _structural_triples_sql(cache: str) -> str:
    """Rule-2 structural ``used_tool`` triples straight off the raw
    transcripts (kernels/triples.py:102 — the structural norm IS the
    value). Single source of truth for the three oracle consumers
    (triples_structural, kg_triples, the chained tri CTE): a change to
    rule-2 semantics edits exactly one SQL block."""
    return f"""
            SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
                   'agent:' || (CASE WHEN role IS NULL OR role = ''
                                     THEN 'unknown' ELSE role END) AS subj_value,
                   'AGENT' AS subj_type,
                   'agent:' || (CASE WHEN role IS NULL OR role = ''
                                     THEN 'unknown' ELSE role END) AS subj_norm,
                   'used_tool' AS pred,
                   'tool:' || tool AS obj_value,
                   'TOOL' AS obj_type,
                   'tool:' || tool AS obj_norm,
                   1.0 AS confidence
            FROM read_parquet('{cache}')
            WHERE tool IS NOT NULL AND tool <> ''
              AND {_CHAIN_GUARD} <= 150
    """


def _skew_profile_sql(
    cache: str, men_src: str, top_k: int = 25, rows_per_task: int = 64
) -> str:
    """Independent re-derivation of operators/skew.profile_skew over the
    golden-free triples chain: top-k heavy hitters of the edge-rollup
    shuffle key with share, skew multiple, and required salt factor.
    Deterministic ties (cnt desc, then key columns), double-rounded
    floats mirroring the Spark side."""
    return f"""
WITH trip AS (
  SELECT * FROM ({_relational_triples_sql(cache, men_src)})
  UNION ALL
  {_structural_triples_sql(cache)}
), keyed AS (
  SELECT subj_norm, pred, obj_norm, count(*) AS cnt
  FROM trip GROUP BY subj_norm, pred, obj_norm
), tot AS (SELECT sum(cnt) AS total, count(*) AS n_keys FROM keyed)
SELECT k.subj_norm, k.pred, k.obj_norm,
       CAST(k.cnt AS BIGINT) AS cnt,
       round(round(k.cnt / t.total, 9), 6) AS share,
       round(round((k.cnt * t.n_keys) / t.total, 9), 6) AS skew_x,
       greatest(1, CAST(ceil(k.cnt / {rows_per_task}.0) AS BIGINT))
         AS salt_factor
FROM keyed k CROSS JOIN tot t
ORDER BY k.cnt DESC, k.subj_norm, k.pred, k.obj_norm
LIMIT {top_k}
"""


def _chain_ctes(cache: str, phrases: str, names: str) -> str:
    """The full pipeline re-derived as one chained CTE block:
    mentions → triples → links → canonical → edges, each stage consuming
    the previous MATERIALIZED CTE — no frozen golden anywhere, and the
    expensive NER derivation runs exactly once. Outer CTE names
    (men/tri/lnk/can/edg) are chosen to not collide with any name inside
    the nested per-stage WITH blocks, which DuckDB scopes locally while
    still resolving the outer CTEs. Shared by the golden-free lineage
    oracle (counts) and the kg_edges_e2e oracle (values).

    ``men`` reads the gate-build-time materialization of the SQL
    mentions derivation (_ensure_sql_derived_mentions) — a cached
    intermediate of the SAME pure-SQL derivation the kg_mentions gate
    executes inline, not a frozen golden."""
    from transner_spark.data.aliases import ensure_alias_dim_parquet
    from transner_spark.oracles import kg_canonical_sql, kg_edges_sql, kg_links_sql

    alias_dim = ensure_alias_dim_parquet(REPO)
    men_pq = _ensure_sql_derived_mentions(cache, phrases, names)
    return f"""
        WITH
        men AS (SELECT * FROM read_parquet('{men_pq}')),
        tri AS MATERIALIZED (
            SELECT * FROM ({_relational_triples_sql(cache, "men")})
            UNION ALL
            {_structural_triples_sql(cache)}
        ),
        lnk AS MATERIALIZED ({kg_links_sql("tri", alias_dim)}),
        can AS MATERIALIZED ({kg_canonical_sql("lnk")}),
        edg AS ({kg_edges_sql("tri", "can", cache)})"""


def _lineage_chain_sql(cache: str, phrases: str, names: str) -> str:
    """Golden-free lineage oracle: per-stage row counts off the chained
    CTE block (_chain_ctes)."""
    guard = _CHAIN_GUARD
    return f"""{_chain_ctes(cache, phrases, names)}
        SELECT 'annotated' AS stage, CAST(COUNT(*) AS BIGINT) AS rows_out
        FROM read_parquet('{cache}') WHERE {guard} <= 150
        UNION ALL SELECT 'quarantine', CAST(COUNT(*) AS BIGINT)
        FROM read_parquet('{cache}') WHERE {guard} > 150
        UNION ALL SELECT 'mentions', CAST(COUNT(*) AS BIGINT) FROM men
        UNION ALL SELECT 'triples', CAST(COUNT(*) AS BIGINT) FROM tri
        UNION ALL SELECT 'links', CAST(COUNT(*) AS BIGINT) FROM lnk
        UNION ALL SELECT 'canonical', CAST(COUNT(*) AS BIGINT) FROM can
        UNION ALL SELECT 'edges', CAST(COUNT(*) AS BIGINT) FROM edg
    """


def _edges_e2e_sql(cache: str, phrases: str, names: str) -> str:
    """VALUE-level end-to-end oracle: the final edge table (every
    column) re-derived by the full chained SQL pipeline — the strongest
    single correctness statement in the gate: a bug in ANY Spark stage
    (NER, triples, linking, canonicalization, materialization) changes
    these values."""
    return f"""{_chain_ctes(cache, phrases, names)}
        SELECT subj_id, pred, obj_id, weight, first_epoch, last_epoch
        FROM edg
    """


def _preprocess_sql(cache: str) -> str:
    """Independent SQL derivation of the punctuation preprocess (P1/P2,
    preprocessing.py:47-89 semantics): the per-character emission rule —
    drop a space that follows punctuation (with the offset-0 wraparound
    reading the LAST char), pad punctuation with a leading space unless
    the previous char is a space or punctuation and a trailing space
    unless at end of string — is a pure per-position function, so the
    whole transform is one character-indexed list comprehension."""
    import string

    p_sql = (string.punctuation + "“" + "”").replace("'", "''")
    piece = f"""
              CASE
                WHEN substr(text, i, 1) = ' '
                     AND strpos('{p_sql}', substr(text,
                           CASE WHEN i = 1 THEN length(text)
                                ELSE i - 1 END, 1)) > 0
                  THEN ''
                WHEN strpos('{p_sql}', substr(text, i, 1)) > 0
                  THEN (CASE WHEN i > 1 AND substr(text, i - 1, 1) <> ' '
                              AND strpos('{p_sql}',
                                         substr(text, i - 1, 1)) = 0
                         THEN ' ' ELSE '' END)
                       || substr(text, i, 1)
                       || (CASE WHEN i < length(text) THEN ' ' ELSE '' END)
                ELSE substr(text, i, 1)
              END"""
    return f"""
        SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
               coalesce(lower(array_to_string(
                 [{piece} for i in range(1, length(text) + 1)], '')), '')
                 AS proc_text  -- empty text: [] aggregates to NULL, kernel gives ''
        FROM read_parquet('{cache}')
        WHERE len(regexp_split_to_array(trim(text), '\\s+')) <= 150
    """


def _religion_mentions_sql(cache: str) -> str:
    """Independent SQL derivation of the R2 religion-gazetteer mentions
    (ner.py:240-251 semantics: lower().split() word membership, offset =
    first occurrence in the lowered sentence, value = the original-case
    substring, constant 0.9 confidence). The religions set is the same
    committed fixture data the kernel loads.

    Tokenization here (and in mentions_uri's length-guard filter) uses
    RE2 ``\\s+`` — ASCII whitespace — vs the kernel's Python
    str.split(), which also splits non-ASCII Unicode whitespace: the
    same accepted, documented divergence class as the WikiNER/T10
    chains; the corpora are ASCII-whitespace separated.

    The derivation itself is the SHARED ``_religion_m_cte`` fragment
    (oracles_ner) — one SQL transcription of find_religions, consumed
    both here and inside the combined kg_mentions oracle, so a fix to
    the fragment can never make the two gates disagree."""
    from transner_spark.oracles_ner import _religion_m_cte

    return f"""
        WITH t AS (
          SELECT conv_id, turn_idx, text FROM read_parquet('{cache}')
          WHERE {_CHAIN_GUARD} <= 150
        ),
        {_religion_m_cte()}
        SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
               value, CAST("offset" AS BIGINT) AS "offset", confidence
        FROM rel_m
    """


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG pipeline (annotate → link → canonicalize →
    materialize) at sf0.001 scale; conversation count derives from the
    sf0.001 documents table so the smoke check exercises the testdata."""
    from transner_spark.operators.canonicalize import canonicalize
    from transner_spark.operators.linking import link_surfaces, node_surfaces
    from transner_spark.operators.materialize import materialize_edges
    from transner_spark.sources.transcripts import generate_transcripts_spark

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n_convs = max(50, docs.count() * 2)
    transcripts = generate_transcripts_spark(spark, n_convs, 10)

    from transner_spark.operators.annotate import annotate_turns, explode_triples

    triples = explode_triples(annotate_turns(transcripts))
    links = link_surfaces(spark, node_surfaces(triples))
    canon = canonicalize(links)
    return materialize_edges(triples, canon)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Gate registry. ORDER MATTERS: the driver records only the first
    50 entries in CORRECTNESS_r{N}.json (dict order), so gates that have
    never had a driver-verified row — plus this round's new gates — come
    FIRST (VERDICT r3 item 1); the tail past position 50 holds only
    gates with green driver rows in ≥2 prior rounds (r01-r03), all still
    runnable locally via scripts/check_correctness.py."""
    return {
        # -- round 5: never driver-verified gates come FIRST (policy) --
        # token_drift landed at tail position 51 in round 4 (zero driver
        # rows; VERDICT r4 item 1); mm_decode is the round-5 real-codec
        # gate. Victims: pipeline_lineage (green r02+r04) and
        # kmeans_cells (green r03+r04) rotate to the tail on the
        # ≥2-green-driver-rows rule.
        "token_drift": q_token_drift,
        "mm_decode": q_mm_decode,
        # exact substring-overlap dedup — new round-5 operator; victim:
        # entity_profiles (green r03+r04), whose serving view stays
        # value-checked in-window by entity_profiles_incremental (same
        # full-profile SQL oracle, re-derived from merged partials)
        "dedup_substring": q_dedup_substring,
        # full-chain streaming gate; supersedes the per-stage
        # stream_mentions_batch_eq slot (green r02+r04 — rotates to the
        # tail; its NER-stage semantics are the first link of this chain)
        "stream_pipeline_e2e": q_stream_pipeline_e2e,
        # -- never in a driver CORRECTNESS file before round 4 --
        "graph_degrees": q_graph_degrees,
        "graph_pagerank": q_graph_pagerank,
        "graph_two_hop": q_graph_two_hop,
        "graph_neighbors_topk": q_graph_neighbors_topk,
        "stream_windowed_counts_modes": q_stream_windowed_counts_modes,
        # -- new this round --
        "stream_edges_log_eq": q_stream_edges_log_eq,
        "stream_profiles_log_eq": q_stream_profiles_log_eq,
        "stream_edges_log_travel": q_stream_edges_log_travel,
        "kg_edges_canon_refresh": q_kg_edges_canon_refresh,
        "stream_conversations": q_stream_conversations,
        "kg_edges_diff": q_kg_edges_diff,
        "entity_profiles_incremental": q_entity_profiles_incremental,
        "skew_profile": q_skew_profile,
        "ann_recall": q_ann_recall,
        "dedup_minhash_incremental": q_dedup_minhash_incremental,
        "eval_edges_prf": q_eval_edges_prf,
        "kg_cooccurrence": q_kg_cooccurrence,
        "kg_links_incremental": q_kg_links_incremental,
        "kg_links_alias_refresh": q_kg_links_alias_refresh,
        "graph_triangles": q_graph_triangles,
        "graph_similarity": q_graph_similarity,
        "kg_integrity": q_kg_integrity,
        "kg_export_ntriples": q_kg_export_ntriples,
        "graph_partitions": q_graph_partitions,
        "vocab_topk": q_vocab_topk,
        "graph_khop": q_graph_khop,
        "kg_negative_samples": q_kg_negative_samples,
        "decontaminate": q_decontaminate,
        "sample_quota": q_sample_quota,
        "doc_repetition": q_doc_repetition,
        "pack_sequences": q_pack_sequences,
        "redact_pii": q_redact_pii,
        "sample_to_mixture": q_sample_to_mixture,
        "graph_walks": q_graph_walks,
        "mention_contexts": q_mention_contexts,
        "train_shards": q_train_shards,
        "edge_provenance": q_edge_provenance,
        "tfidf_keywords": q_tfidf_keywords,
        # -- core KG chain + NER parity --
        "kg_edges": q_kg_edges,
        "kg_edges_e2e": q_kg_edges_e2e,
        "kg_edges_maintenance": q_kg_edges_maintenance,
        "walk_skipgrams": q_walk_skipgrams,
        "mentions_ner": q_mentions_ner,
        "mentions_regex": q_mentions_regex,
        "graf_merge": q_graf_merge,
        "kg_mentions": q_kg_mentions,
        # ---- position 50 ends here; every gate below either has green
        # driver rows in at least two of r01-r03, OR (the consolidation
        # exception, flagged per entry) is a per-method twin whose
        # semantics stay value-checked in-window via a union gate —
        # graph_components/communities, the two windowed-count modes,
        # and kg_edges_incremental/asof (each green in r03 only, carried
        # by kg_edges_maintenance). (triples_structural and
        # triples_relational are also strict subsets of kg_triples,
        # which stays in-window; kmeans_cells stays IN — its only green
        # driver row is r03, r02 was rows-only — while ann_lsh/ann_ivf
        # rotate out on 3/2 green rows plus the in-window ann_recall
        # consolidation that re-derives both methods, and
        # dedup_embedding_cosine + ann_bruteforce rotate out on 3 green
        # rows each to make room for the round-4 eval_edges_prf and
        # kg_cooccurrence gates — their scale twins cosine_lsh and
        # ann_recall stay in-window — and doc_fingerprint rotates out on
        # 3 green rows for kg_links_incremental, lang_id likewise for
        # kg_links_alias_refresh, text_stats + dedup_simhash likewise
        # for graph_triangles + graph_similarity, dedup_minhash_lsh
        # (3 green rows; its incremental twin stays in-window) likewise
        # for kg_integrity, corpus_filter (green r02+r03) likewise for
        # kg_export_ntriples, region_containment (green r01+r02+r03)
        # likewise for graph_components, dedup_clusters (green r02+r03;
        # its CC core is exercised in-window by graph_components and
        # kg_canonical) likewise for graph_communities, and
        # mention_overlap_pairs (green r01+r02; its interval-overlap
        # kernel stays pytest-pinned) likewise for pack_sequences, and
        # role_transitions (green r01+r02; its lag-window shape stays
        # in-window via sessionize_events... then sessionize_events
        # itself (green r01+r02; same co-partitioned-window family,
        # running-sum shape in-window via sample_quota/sample_to_mixture)
        # likewise for sample_to_mixture) likewise for redact_pii, and
        # turn_ordering (green r01+r02+r03) likewise for graph_khop,
        # and dedup_embedding_cosine_lsh (green r01+r02+r03) likewise
        # for kg_negative_samples, and preprocess_proc_text,
        # mentions_religion, mentions_uri (green r02+r03 each; their
        # kernels stay in-window via mentions_ner/mentions_regex and the
        # kg_* chain) likewise for decontaminate, sample_quota,
        # doc_repetition; finally kg_mentions (green r01+r02+r03 — the
        # most-verified gate in the repo; its NER kernel stays in-window
        # via mentions_ner's independent SQL oracle and the full chain
        # via kg_edges_e2e's value-level end-to-end) rotates out for
        # graph_walks, and kg_links (green r01+r02+r03; its full linking
        # SQL chain stays in-window via kg_links_incremental AND
        # kg_links_alias_refresh, both of which pin against it) rotates
        # out for mention_contexts, and kg_canonical (green r01+r02+r03;
        # its closed-form star + CC stay in-window via
        # kg_edges_canon_refresh — which re-derives canon maps under two
        # dictionary versions — and kg_edges_e2e's full-chain SQL)
        # rotates out for train_shards, and kg_triples (green
        # r01+r02+r03; its structural+relational derivations stay
        # pinned via kg_edges_e2e's full-chain SQL and the in-window
        # eval_edges_prf / kg_cooccurrence / edge_provenance gates that
        # all re-derive from the triples golden) rotates out for
        # edge_provenance. Then stream_edges_batch_eq left the registry
        # with its snapshot-layout operator (stream_edges_log_eq keeps
        # the same whole-corpus edge oracle in-window), and the freed
        # slot rotates kg_mentions back in: it headed the tail and its
        # newest driver row is r03 ----
        "kg_links": q_kg_links,
        "kg_canonical": q_kg_canonical,
        "kg_triples": q_kg_triples,
        # per-method partition twins of the consolidated in-window
        # graph_partitions gate (the ann_recall_lsh/ivf precedent):
        # both landed in round 4 and are value-checked in-window via
        # the union gate; still runnable locally here — likewise the
        # two windowed-counts modes, consolidated into the in-window
        # stream_windowed_counts_modes union (complete green r02;
        # append r4-new) to free a slot for tfidf_keywords
        "graph_components": q_graph_components,
        "graph_communities": q_graph_communities,
        "stream_windowed_counts": q_stream_windowed_counts,
        "stream_windowed_counts_append": q_stream_windowed_counts_append,
        # likewise the two edge-maintenance methods (incremental green
        # r03, asof green r03), consolidated into the in-window
        # kg_edges_maintenance union to free a slot for walk_skipgrams
        "kg_edges_incremental": q_kg_edges_incremental,
        "kg_edges_asof": q_kg_edges_asof,
        # rotated out for round 5 on the ≥2-green rule: pipeline_lineage
        # (green r02+r04) made room for token_drift — which moved from
        # this tail into the window per VERDICT r4 item 1 — and
        # kmeans_cells (green r03+r04) made room for the real-codec
        # mm_decode gate
        "pipeline_lineage": q_pipeline_lineage,
        "kmeans_cells": q_kmeans_cells,
        # rotated out for round 5 (green r03+r04): its exact serving
        # view stays value-checked in-window via
        # entity_profiles_incremental (same SQL oracle) — slot went to
        # the new dedup_substring operator
        "entity_profiles": q_entity_profiles,
        # rotated out for round 5 (green r02+r04): superseded in-window
        # by the full-chain stream_pipeline_e2e gate, whose first stage
        # IS this gate's incremental-NER semantics
        "stream_mentions_batch_eq": q_stream_mentions_batch_eq,
        "turn_ordering": q_turn_ordering,
        "dedup_embedding_cosine_lsh": q_dedup_embedding_cosine_lsh,
        "mention_overlap_pairs": q_mention_overlap_pairs,
        "role_transitions": q_role_transitions,
        "sessionize_events": q_sessionize_events,
        "preprocess_proc_text": q_preprocess_proc_text,
        "mentions_religion": q_mentions_religion,
        "mentions_uri": q_mentions_uri,
        "dedup_clusters": q_dedup_clusters,
        "region_containment": q_region_containment,
        "corpus_filter": q_corpus_filter,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "text_stats": q_text_stats,
        "dedup_simhash": q_dedup_simhash,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_embedding_cosine": q_dedup_embedding_cosine,
        "ann_bruteforce": q_ann_bruteforce,
        "doc_fingerprint": q_doc_fingerprint,
        "lang_id": q_lang_id,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "triples_structural": q_triples_structural,
        "triples_relational": q_triples_relational,
        "mm_metadata": q_mm_metadata,
        "mm_features": q_mm_features,
        "mm_frames": q_mm_frames,
        "t10_inline_annotate": q_t10_inline_annotate,
        "t10_inline_conll": q_t10_inline_conll,
        "t11_corpus_concat": q_t11_corpus_concat,
        "wikiner_scan": q_wikiner_scan,
        "wikiner_sentences": q_wikiner_sentences,
        "wikiner_conll": q_wikiner_conll,
        "corpus_stats": q_corpus_stats,
        "iob_to_bio": q_iob_to_bio,
        "split_train_val_test": q_split_train_val_test,
        "substring_antijoin": q_substring_antijoin,
        # per-method recall twins of the consolidated in-window
        # ann_recall gate (driver rows r02/r03; still runnable locally)
        "ann_recall_lsh": q_ann_recall_lsh,
        "ann_recall_ivf": q_ann_recall_ivf,
        # rotated out of the window for round 4 (green driver rows in
        # r01+r02+r03) to make room for dedup_minhash_incremental and
        # stream_edges_log_travel
        "length_guard": q_length_guard,
        "dedup_exact": q_dedup_exact,
    }


def oracle_sql() -> dict[str, str]:
    from transner_spark.oracles import (
        dedup_oracles,
        multimodal_oracles,
        simsearch_oracles,
        textops_oracles,
    )

    sf = "sf0.01"
    g = lambda t: os.path.join(REPO, "data", "golden", sf, f"{t}.parquet")  # noqa: E731
    cache = os.path.join(REPO, "data", "cache", sf, "transcripts.parquet")
    docs = "/root/testdata/sf0.01/documents.parquet"
    emb = "/root/testdata/sf0.01/embeddings.parquet"
    out = dict(textops_oracles(docs))
    from transner_spark.oracles import curation_oracles, redact_pii_oracle

    out.update(curation_oracles(docs))
    out["redact_pii"] = redact_pii_oracle(g("mentions"), cache)
    from transner_spark.oracles import mention_contexts_oracle

    out["mention_contexts"] = mention_contexts_oracle(g("mentions"), cache)
    out.update(dedup_oracles(docs, emb))
    # incremental-maintenance gate: the oracle IS the full recompute
    # over the whole docs table (incremental ≡ full — the same oracle
    # shape kg_edges_incremental uses against kg_edges' SQL)
    out["dedup_minhash_incremental"] = out["dedup_minhash_lsh"]
    out.update(simsearch_oracles(emb))
    from transner_spark.oracles import ann_recall_oracle

    out.update(ann_recall_oracle(emb, "lsh"))
    out.update(ann_recall_oracle(emb, "ivf"))
    # consolidated two-method recall gate: union of the two independent
    # per-method derivations with a method discriminator
    out["ann_recall"] = f"""
SELECT 'lsh' AS method, * FROM ({out["ann_recall_lsh"]})
UNION ALL
SELECT 'ivf' AS method, * FROM ({out["ann_recall_ivf"]})
"""
    from transner_spark.oracles import kmeans_oracle

    out.update(kmeans_oracle(emb))
    out.update(multimodal_oracles(docs))
    from transner_spark.oracles import events_oracles

    out.update(events_oracles("/root/testdata/sf0.01/events.parquet"))
    from transner_spark.oracles import wikiner_oracles
    from transner_spark.sources.wikiner import ensure_wikiner_raw

    _, wikiner_pq = ensure_wikiner_raw(REPO, "/root/testdata/sf0.01")
    out.update(wikiner_oracles(wikiner_pq))
    from transner_spark.data.lexicons import ensure_ner_lexicon_parquet
    from transner_spark.oracles_ner import mentions_ner_sql

    ph, nm = ensure_ner_lexicon_parquet(REPO)
    # the SQL mentions derivation, materialized once and shared by the
    # downstream oracles (kg_mentions itself stays on the inline SQL —
    # see _ensure_sql_derived_mentions)
    men_src = f"read_parquet('{_ensure_sql_derived_mentions(cache, ph, nm)}')"
    out["mentions_ner"] = mentions_ner_sql(cache, ph, nm)
    from transner_spark.oracles_ner import mentions_regex_sql

    out["mentions_regex"] = mentions_regex_sql(cache)
    from transner_spark.oracles import graf_oracle
    from transner_spark.sources.graf import ensure_graf_raw, graf_twin_path

    ensure_graf_raw(REPO, "/root/testdata/sf0.01")
    out.update(
        graf_oracle(
            graf_twin_path(REPO, sf, "regions"),
            graf_twin_path(REPO, sf, "sents"),
            graf_twin_path(REPO, sf, "pos"),
            graf_twin_path(REPO, sf, "ners"),
        )
    )
    from transner_spark.oracles import inline_annotation_oracles

    out.update(inline_annotation_oracles(docs))
    from transner_spark.data.aliases import ensure_alias_dim_parquet
    from transner_spark.oracles import kg_derived_oracles

    out.update(
        kg_derived_oracles(
            g("triples"),
            g("links"),
            g("canonical"),
            cache,
            ensure_alias_dim_parquet(REPO),
        )
    )
    # streaming maintenance twin of kg_edges: append + compact +
    # merge-on-read must equal the whole-corpus derivation whatever the
    # micro-batching
    from transner_spark.oracles import kg_edges_sql

    out["stream_edges_log_eq"] = kg_edges_sql(
        f"read_parquet('{g('triples')}')",
        f"read_parquet('{g('canonical')}')",
        cache,
    )
    # time-travel + changelog twin: AS OF batch 2 of the 4 md5-quartile
    # micro-batches ≡ the derivation over the first three quartiles'
    # conversations, and the changelog read (1, 3] ≡ the derivation over
    # the last two quartiles (same hex-prefix split in both engines;
    # DuckDB md5(varchar) and Spark md5(binary utf8) agree) — two
    # independent restrictions of the same SQL chain, discriminated by
    # the probe column
    _asof_sql = kg_edges_sql(
        f"(SELECT * FROM read_parquet('{g('triples')}') "
        "WHERE substr(md5(conv_id), 1, 1) < 'c')",
        f"read_parquet('{g('canonical')}')",
        cache,
    )
    _changes_sql = kg_edges_sql(
        f"(SELECT * FROM read_parquet('{g('triples')}') "
        "WHERE substr(md5(conv_id), 1, 1) >= '8')",
        f"read_parquet('{g('canonical')}')",
        cache,
    )
    out["stream_edges_log_travel"] = f"""
SELECT 'asof_b2' AS probe, * FROM ({_asof_sql})
UNION ALL
SELECT 'changes_b1_b3' AS probe, * FROM ({_changes_sql})
"""
    # same substrate, different monoid: the profile partials maintained
    # on the log must re-derive the exact serving view
    out["stream_profiles_log_eq"] = out["entity_profiles"]
    from transner_spark.oracles import relational_oracles

    from transner_spark.oracles_ner import kg_mentions_sql

    out.update(
        relational_oracles(
            docs,
            os.path.join(REPO, "data", "cache", "alias_keys.parquet"),
            men_src,
            cache,
        )
    )
    from transner_spark.oracles import graph_oracles

    # graph analytics: logic fully re-derived in SQL over the edges
    # golden (upstream-golden stage isolation, like kg_links/edges)
    out.update(graph_oracles(f"read_parquet('{g('edges')}')"))
    # consolidated two-method partition gate: union of the two
    # independent per-method derivations (the ann_recall shape)
    out["graph_partitions"] = f"""
SELECT 'cc' AS method, node_id, component_id AS label,
       component_size AS size
FROM ({out["graph_components"]})
UNION ALL
SELECT 'lpa' AS method, node_id, community_id AS label,
       community_size AS size
FROM ({out["graph_communities"]})
"""
    from transner_spark.operators.walks import SKIPGRAM_WINDOW

    # skip-gram pairs: the unrolled walk CTE self-joined on the walk key
    # with the step-distance predicate, then the pair count aggregate
    out["walk_skipgrams"] = f"""
WITH W AS ({out["graph_walks"]})
SELECT a.node_id AS center_id, b.node_id AS context_id,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM W a JOIN W b
  ON a.seed_id = b.seed_id AND a.walk_no = b.walk_no
 AND a.step <> b.step AND abs(a.step - b.step) <= {SKIPGRAM_WINDOW}
GROUP BY 1, 2
"""
    from transner_spark.oracles import negative_samples_oracle

    out["kg_negative_samples"] = negative_samples_oracle(
        f"read_parquet('{g('edges')}')"
    )
    from transner_spark.oracles import kg_integrity_sql, ntriples_sql

    out["kg_integrity"] = kg_integrity_sql(
        f"read_parquet('{g('edges')}')", f"read_parquet('{g('canonical')}')"
    )
    out["kg_export_ntriples"] = ntriples_sql(f"read_parquet('{g('edges')}')")
    # round 4: the north-rule P/R metric + PMI co-occurrence, both
    # fully re-derived from the triples/canonical goldens (same
    # upstream-golden stage isolation as the graph gates)
    from transner_spark.oracles import edges_prf_sql, entity_cooccurrence_sql

    out["eval_edges_prf"] = edges_prf_sql(
        f"read_parquet('{g('triples')}')",
        f"read_parquet('{g('canonical')}')",
        cache,
    )
    out["kg_cooccurrence"] = entity_cooccurrence_sql(
        f"read_parquet('{g('triples')}')",
        f"read_parquet('{g('canonical')}')",
    )
    from transner_spark.oracles import edge_provenance_sql

    out["edge_provenance"] = edge_provenance_sql(
        f"read_parquet('{g('triples')}')",
        f"read_parquet('{g('canonical')}')",
    )
    # incremental linking's oracle IS the whole-corpus derivation —
    # the same incremental ≡ full-recompute shape as
    # kg_edges_incremental and dedup_minhash_incremental
    out["kg_links_incremental"] = out["kg_links"]
    out["kg_links_alias_refresh"] = out["kg_links"]
    # consolidated two-method maintenance gate: union of the two
    # independent per-method derivations (the ann_recall shape)
    out["kg_edges_maintenance"] = f"""
SELECT 'incremental' AS method, * FROM ({out["kg_edges_incremental"]})
UNION ALL
SELECT 'asof' AS method, * FROM ({out["kg_edges_asof"]})
"""

    out.update({
        # FULLY independent since round 3 (was a golden replay):
        # model + regex + gazetteer mentions AND the interleaved
        # mention_id all re-derived in SQL (oracles_ner). The golden
        # file remains a pytest cross-check.
        "kg_mentions": kg_mentions_sql(cache, ph, nm),
        # VALUE-level end-to-end chain: the final edge table re-derived
        # by the full golden-free SQL pipeline (mentions → triples →
        # links → canonical → edges as chained MATERIALIZED CTEs).
        "kg_edges_e2e": _edges_e2e_sql(cache, ph, nm),
        # the streaming full chain must land on the SAME whole-pipeline
        # derivation whatever the micro-batch boundaries — strongest
        # available oracle for it (and deliberately the same SQL:
        # streaming ≡ batch IS the claim)
        "stream_pipeline_e2e": _edges_e2e_sql(cache, ph, nm),
        # Round 3: the LAST golden replay is gone — the full triple set
        # is the union of the two independent derivations already gated
        # separately: rule-1 relational triples chained on the
        # SQL-DERIVED mentions (not the golden file) + rule-2 structural
        # used_tool triples straight off the raw transcripts, with the
        # structural norm columns equal to the value by construction
        # (kernels/triples.py:102 "structural node: key is the value
        # itself"). The golden file remains a pytest cross-check.
        "kg_triples": f"""
            SELECT * FROM ({_relational_triples_sql(cache, men_src)})
            UNION ALL
            {_structural_triples_sql(cache)}
        """,
        # golden-free heavy-hitter profile over the same triples chain
        "skew_profile": _skew_profile_sql(cache, men_src),
# links/canonical/edges: NOT golden replays — independent SQL
        # re-derivations from the upstream goldens (kg_derived_oracles)
        # added below, after this dict.
        # independent SQL oracles (logic re-derived in DuckDB, not golden)
        "preprocess_proc_text": _preprocess_sql(cache),
        "mentions_religion": _religion_mentions_sql(cache),
        # chained onto the SQL-DERIVED mentions (not the golden file):
        # the rule-1 triples derivation is now golden-free end-to-end
        "triples_relational": _relational_triples_sql(cache, men_src),
        "mentions_uri": f"""
            WITH RECURSIVE t AS (
              SELECT conv_id, turn_idx, text FROM read_parquet('{cache}')
              WHERE len(regexp_split_to_array(trim(text), '\\s+')) <= 150
            ), m AS (
              SELECT conv_id, turn_idx, text,
                     regexp_extract_all(text, '\\[URL_[0-9]+\\]') AS ms
              FROM t
            ), wk AS (
              SELECT conv_id, turn_idx, text, ms, 1 AS i,
                     strpos(text, ms[1]) AS pos
              FROM m WHERE len(ms) >= 1
              UNION ALL
              SELECT conv_id, turn_idx, text, ms, i + 1,
                     pos + length(ms[i]) - 1
                       + strpos(substr(text, pos + length(ms[i])), ms[i + 1])
              FROM wk WHERE i < len(ms)
            )
            SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
                   ms[i] AS value, CAST(pos - 1 AS BIGINT) AS "offset",
                   0.9 AS confidence
            FROM wk
        """,
        # Python-truthiness semantics kept exactly: empty-string tool
        # emits NO triple (`if ... and tool:`), empty-string role maps
        # to 'unknown' (`role or 'unknown'`)
        "triples_structural": f"""
            SELECT conv_id, turn_idx, subj_value, subj_type,
                   obj_value, obj_type, confidence
            FROM ({_structural_triples_sql(cache)})
        """,
        "length_guard": f"""
            SELECT role, COUNT(*) AS n_turns
            FROM read_parquet('{cache}')
            WHERE len(regexp_split_to_array(trim(text), '\s+')) <= 150
            GROUP BY role ORDER BY role
        """,
        "turn_ordering": f"""
            SELECT conv_id, COUNT(*) AS n_turns,
                   md5(string_agg(text, chr(1) ORDER BY turn_idx)) AS fingerprint
            FROM read_parquet('{cache}')
            GROUP BY conv_id
        """,
        # streaming twin of kg_mentions: oracle = the same independent
        # SQL derivation the batch gate uses (golden-free since round 3)
        "stream_mentions_batch_eq": f"SELECT * FROM {men_src}",
        # streaming windowed agg vs a plain SQL window aggregate over the
        # SQL-DERIVED mentions (ts joined from the transcripts cache)
        "stream_windowed_counts": f"""
            SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS start_epoch,
                   CAST(floor(epoch(ts) / 600) * 600 + 600 AS BIGINT) AS end_epoch,
                   m.type, CAST(COUNT(*) AS BIGINT) AS n_mentions
            FROM {men_src} m
            JOIN read_parquet('{cache}') tc USING (conv_id, turn_idx)
            GROUP BY 1, 2, 3
        """,
        # append-mode twin: the file sink must end up holding exactly
        # the same closed windows the complete-mode gate reports
        "stream_windowed_counts_append": f"""
            SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS start_epoch,
                   CAST(floor(epoch(ts) / 600) * 600 + 600 AS BIGINT) AS end_epoch,
                   m.type, CAST(COUNT(*) AS BIGINT) AS n_mentions
            FROM {men_src} m
            JOIN read_parquet('{cache}') tc USING (conv_id, turn_idx)
            GROUP BY 1, 2, 3
        """,
        # consolidated two-mode gate: the SAME window-aggregate
        # derivation tagged per mode (both sinks must equal it)
        "stream_windowed_counts_modes": f"""
            SELECT md.mode,
                   CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS start_epoch,
                   CAST(floor(epoch(ts) / 600) * 600 + 600 AS BIGINT) AS end_epoch,
                   m.type, CAST(COUNT(*) AS BIGINT) AS n_mentions
            FROM {men_src} m
            JOIN read_parquet('{cache}') tc USING (conv_id, turn_idx)
            CROSS JOIN (SELECT unnest(['complete', 'append']) AS mode) md
            GROUP BY 1, 2, 3, 4
        """,
        # stateful conversation assembly: every conversation closes via
        # idle timeout exactly once (whole corpus in one micro-batch),
        # so the emitted sessions are a plain per-conversation aggregate
        "stream_conversations": f"""
            SELECT conv_id,
                   CAST(count(*) AS BIGINT) AS n_turns,
                   CAST(count(DISTINCT nullif(role, '')) AS BIGINT) AS n_roles,
                   CAST(floor(epoch(min(ts))) AS BIGINT) AS first_epoch,
                   CAST(floor(epoch(max(ts))) AS BIGINT) AS last_epoch,
                   'timeout' AS closed_by
            FROM read_parquet('{cache}')
            GROUP BY conv_id
        """,
        # S4 lineage: every stage's rows_out re-derived GOLDEN-FREE in
        # one chained SQL — the guard predicate for annotated/quarantine,
        # then mentions → triples → links → canonical → edges as
        # MATERIALIZED CTEs over the same independent derivations the
        # per-stage gates use (oracles_ner + kg_*_sql builders), each
        # stage consuming the previous CTE instead of a golden file.
        "pipeline_lineage": _lineage_chain_sql(cache, ph, nm),
    })
    return out
