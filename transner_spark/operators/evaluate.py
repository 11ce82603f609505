"""Evaluation + co-occurrence analytics over KG tables.

Two consumption-side operators a KG-construction pipeline needs at
scale, both pure DataFrame plans (no UDFs, no driver-side loops):

- ``set_prf``: distributed precision/recall/F1 between two keyed sets.
  This operationalizes the north rule's acceptance metric (BASELINE.json:
  "triple P/R >= 0.95 vs reference") as a first-class operator: at
  10^12-turn scale the emitted and reference triple tables are both far
  beyond one machine, so the eval harness itself must be a Spark plan —
  two distinct-projections, one inner join on the full key, and three
  per-group aggregates, every shuffle keyed and map-side combinable.
  (The repo's own P/R-vs-reference check is pytest-pinned at small
  scale in tests/test_spark_parity.py; this is the same measurement as
  a reusable distributed operator.)

- ``entity_cooccurrence``: conversation-level entity co-occurrence with
  PMI weighting — the classic distributional edge-weighting step when
  enriching an extracted KG (two entities that keep appearing in the
  same conversations are related even when no explicit triple connects
  them). Plan shape: canon-resolved (conv_id, node) distinct pairs, one
  self-join on conv_id (conversations are bounded — turn-limited — so
  the per-key fan-out is small by construction, and a fail-loud in-plan
  guard caps pathological conversations exactly like the dedup block
  guards), marginals via one groupBy, and the corpus size broadcast
  in-plan via ``crossJoin(broadcast(...))`` (the graph_pagerank scalar
  pattern — no driver-side collect).

Float determinism: p/r/f1 and lift are IEEE arithmetic on bigint counts
in a fixed expression order — bit-identical across engines — rounded to
6. PMI adds a transcendental (ln), so it gets the double-round
(9 -> 6 decimals) snap the pagerank gate established (ADVICE r3): both
engines land on the same 9-dec grid point before the 6-dec publish.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

COOC_MAX_CONV_NODES = 1_000
COOC_MIN_PAIR_COUNT = 1


def set_prf(
    emitted: DataFrame,
    reference: DataFrame,
    keys: list[str],
    by: str,
) -> DataFrame:
    """Per-group precision/recall/F1 of ``emitted`` against
    ``reference``, where set membership is the distinct tuple of
    ``keys`` and ``by`` (one of the keys) is the reporting group —
    e.g. keys=(subj_id, pred, obj_id), by=pred gives per-predicate
    triple P/R, the north-rule acceptance metric as a distributed plan.

    Returns (by, n_emitted, n_reference, n_match, precision, recall,
    f1); groups present on only one side report the other side's count
    as 0 (full outer join), with the usual conventions
    precision=0 when nothing was emitted, recall=0 when the reference
    is empty, f1=0 when p+r=0.

    NULLs are first-class set members: distinct/groupBy already treat
    a NULL key or group value as one element, so the match join and the
    group assembly use null-safe equality (``eqNullSafe`` / SQL
    ``IS NOT DISTINCT FROM``) — two sides both containing the tuple
    (NULL, p, b) MATCH, and a NULL group reports as exactly one output
    row (a null-UNsafe join here would undercount matches and emit two
    half-empty NULL-group rows, silently understating P/R).

    Scale shape: the two distincts and the match join all shuffle on
    the full key tuple (uniform by construction — it IS the set
    element), and the three per-group counts are map-side combinable;
    the final assembly joins three group-sized aggregates. No stage
    touches more than (keys) columns, so the upstream scans prune to
    the key columns.
    """
    e = emitted.select(*keys).distinct().alias("_e")
    r = reference.select(*keys).distinct().alias("_r")
    em = e.groupBy(by).agg(F.count(F.lit(1)).alias("n_emitted")).alias("_em")
    rf = r.groupBy(by).agg(F.count(F.lit(1)).alias("n_reference")).alias("_rf")
    mt = (
        e.join(
            r,
            [F.col(f"_e.{k}").eqNullSafe(F.col(f"_r.{k}")) for k in keys],
            "inner",
        )
        .groupBy(F.col(f"_e.{by}").alias(by))
        .agg(F.count(F.lit(1)).alias("n_match"))
        .alias("_mt")
    )
    # mt's groups are a subset of em's (matches come from e), so after
    # the null-safe full join of em/rf a LEFT join suffices for mt
    out = (
        em.join(
            rf, F.col(f"_em.{by}").eqNullSafe(F.col(f"_rf.{by}")), "full"
        )
        .withColumn("_by", F.coalesce(F.col(f"_em.{by}"), F.col(f"_rf.{by}")))
        .join(mt, F.col("_by").eqNullSafe(F.col(f"_mt.{by}")), "left")
        .select(
            F.col("_by").alias(by),
            F.coalesce("n_emitted", F.lit(0)).alias("n_emitted"),
            F.coalesce("n_reference", F.lit(0)).alias("n_reference"),
            F.coalesce("n_match", F.lit(0)).alias("n_match"),
        )
    )
    p = F.when(
        F.col("n_emitted") > 0,
        F.col("n_match").cast("double") / F.col("n_emitted").cast("double"),
    ).otherwise(F.lit(0.0))
    rc = F.when(
        F.col("n_reference") > 0,
        F.col("n_match").cast("double") / F.col("n_reference").cast("double"),
    ).otherwise(F.lit(0.0))
    f1 = F.when(
        (p + rc) > 0, F.lit(2.0) * p * rc / (p + rc)
    ).otherwise(F.lit(0.0))
    return out.select(
        by,
        F.col("n_emitted").cast("long").alias("n_emitted"),
        F.col("n_reference").cast("long").alias("n_reference"),
        F.col("n_match").cast("long").alias("n_match"),
        F.round(p, 6).alias("precision"),
        F.round(rc, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


def conversation_entities(triples: DataFrame, canon: DataFrame) -> DataFrame:
    """Distinct (conv_id, node) membership table: every canon-resolved
    node (subject or object, structural ids as themselves — the exact
    resolution ``materialize_edges`` applies) that appears in each
    conversation. The co-occurrence input, and a useful projection in
    its own right (conversation -> entity bipartite graph)."""
    from transner_spark.operators.materialize import _resolve

    t = _resolve(triples, canon, "subj")
    t = _resolve(t, canon, "obj")
    return (
        t.select("conv_id", F.col("subj_id").alias("node"))
        .unionByName(t.select("conv_id", F.col("obj_id").alias("node")))
        .distinct()
    )


def entity_cooccurrence(
    triples: DataFrame,
    canon: DataFrame,
    max_conv_nodes: int = COOC_MAX_CONV_NODES,
    min_pair_count: int = COOC_MIN_PAIR_COUNT,
) -> DataFrame:
    """Entity co-occurrence edges weighted by PMI: for every unordered
    pair of canon-resolved nodes appearing in the same conversation,
    (node_a, node_b, n_pair, n_a, n_b, lift, pmi) where

    - n_pair = conversations containing both, n_a / n_b = conversations
      containing each (all DISTINCT conversation counts),
    - lift = n_pair * N / (n_a * n_b) with N the total conversations
      observed (>1 means the pair co-occurs more than independence
      predicts),
    - pmi = ln(lift), the standard pointwise-mutual-information weight.

    Skew/scale: the self-join key is conv_id — conversations are
    turn-bounded, so per-key fan-out is small by construction; a
    pathological conversation (> ``max_conv_nodes`` distinct nodes)
    fails LOUD via an in-plan ``raise_error`` guard (the dedup
    block-guard pattern, operators/dedup._block_guard) instead of
    silently scheduling a quadratic pair explosion. Hot ENTITIES are
    harmless here: the entity is never a join key, only a group key
    with map-side partial aggregation. N reaches the plan via
    ``crossJoin(broadcast(...))`` — the graph_pagerank scalar pattern,
    no driver collect.
    """
    from transner_spark.operators.dedup import _block_guard

    ents = conversation_entities(triples, canon)
    ents = _block_guard(
        ents,
        "conv_id",
        max_conv_nodes,
        op="entity_cooccurrence",
        twin="a per-conversation node cap upstream",
    )
    # four consumers (N, marginals, both self-join sides): a
    # localCheckpoint barrier, so the membership derivation + guard run
    # once, not up to 4x per action
    ents = ents.localCheckpoint()
    n_convs = ents.select(
        F.countDistinct("conv_id").cast("double").alias("n_convs")
    )
    marg = ents.groupBy("node").agg(F.count(F.lit(1)).alias("n_node"))
    left = ents.select("conv_id", F.col("node").alias("node_a"))
    right = ents.select("conv_id", F.col("node").alias("node_b"))
    pairs = (
        left.join(right, "conv_id")
        .where(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .where(F.col("n_pair") >= min_pair_count)
    )
    out = (
        pairs.join(
            marg.select(
                F.col("node").alias("node_a"), F.col("n_node").alias("n_a")
            ),
            "node_a",
        )
        .join(
            marg.select(
                F.col("node").alias("node_b"), F.col("n_node").alias("n_b")
            ),
            "node_b",
        )
        .crossJoin(F.broadcast(n_convs))
    )
    lift = (
        F.col("n_pair").cast("double") * F.col("n_convs")
    ) / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
    return out.select(
        "node_a",
        "node_b",
        F.col("n_pair").cast("long").alias("n_pair"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(lift, 6).alias("lift"),
        # double-round snap: ln() may differ by an ulp across engines
        F.round(F.round(F.log(lift), 9), 6).alias("pmi"),
    )


INTEGRITY_CHECKS = (
    "unresolved_node",
    "ts_disorder",
    "nonpositive_weight",
    "duplicate_edge_key",
)


def kg_integrity_report(edges: DataFrame, canonical: DataFrame) -> DataFrame:
    """KG data-quality report: one row per invariant with its violation
    count over the edge table — (check, n_violations). The checks are
    the edge table's production contract:

    - ``unresolved_node``: an endpoint id that the canon map says
      should have been REWRITTEN — it appears in canonical.node_id
      with ``canon_id <> node_id`` (identity rows are the cluster
      representatives and are legal endpoints). This is the
      stale-canon hazard the two-speed maintenance story creates when
      increments are merged under an old map and the re-resolution
      step is skipped (operators/materialize.reresolve_edges);
    - ``ts_disorder``: first_ts > last_ts (violates the min/max
      aggregate's own invariant);
    - ``nonpositive_weight``: weight < 1 (weight is a count);
    - ``duplicate_edge_key``: (subj_id, pred, obj_id) appearing more
      than once — the table's primary key (counts KEYS in violation,
      not rows).

    Note self-loops are NOT flagged: subj = obj is a legal edge in this
    pipeline (reflexive triples survive the rollup by design).

    Healthy output is all-zeros; the operator exists to be run after
    every maintenance verb (incremental merge, canon refresh, log
    compaction) as a cheap invariant sweep.

    Scale shape: ONE pass over edges — broadcast semi-flags against
    the dim-sized rewrite domain + three map-side-combinable
    conditional sums (one partial row per partition reaches the final
    agg), plus one keyed aggregation on the table's natural key for
    the duplicate check. No windows, no driver collect."""
    rewrites = (
        canonical.where(F.col("canon_id") != F.col("node_id"))
        .select("node_id")
        .distinct()
    )
    flagged = (
        edges.join(
            F.broadcast(
                rewrites.withColumnRenamed("node_id", "subj_id")
            ).withColumn("_subj_unresolved", F.lit(1)),
            "subj_id",
            "left",
        )
        .join(
            F.broadcast(
                rewrites.withColumnRenamed("node_id", "obj_id")
            ).withColumn("_obj_unresolved", F.lit(1)),
            "obj_id",
            "left",
        )
    )
    one_pass = flagged.agg(
        F.sum(
            F.when(
                F.coalesce("_subj_unresolved", F.lit(0))
                + F.coalesce("_obj_unresolved", F.lit(0))
                > 0,
                1,
            ).otherwise(0)
        ).alias("unresolved_node"),
        F.sum(
            F.when(F.col("first_ts") > F.col("last_ts"), 1).otherwise(0)
        ).alias("ts_disorder"),
        F.sum(F.when(F.col("weight") < 1, 1).otherwise(0)).alias(
            "nonpositive_weight"
        ),
    )
    dup_keys = (
        edges.groupBy("subj_id", "pred", "obj_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        .agg(F.count(F.lit(1)).alias("duplicate_edge_key"))
    )
    wide = one_pass.crossJoin(dup_keys)  # two 1-row frames
    stack = ", ".join(f"'{c}', {c}" for c in INTEGRITY_CHECKS)
    return wide.selectExpr(
        f"stack({len(INTEGRITY_CHECKS)}, {stack}) AS (check, n_violations)"
    ).select(
        "check",
        F.coalesce("n_violations", F.lit(0)).cast("long").alias("n_violations"),
    )
