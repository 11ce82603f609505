"""Edge materialization: resolve triples through canonical ids and
aggregate to a weighted edge table bucketed by subject hash.

Skew strategy (north rule: "partitioned by subject-hash with salting"):
- the canon map is joined with ``broadcast()``: it is dim-sized (it holds
  DISTINCT surfaces, not mentions), so the triple stream never shuffles
  for the resolve;
- the aggregation is an explicit two-phase salted aggregate: partial
  (subj, pred, obj, salt) groups first — bounding any single reducer's
  share of a hot edge to 1/salt — then the tiny partial set
  re-aggregates;
- the final phase is ``repartition(n, subj_id)``, n =
  ``bucket_count(spark)``, the session's ``defaultParallelism``. Spark
  computes that partition id as ``pmod(hash(subj_id), n)``, the same
  value as the bucket id of ``bucketBy(n, subj_id)``, so task i holds
  exactly bucket i, every core writes, and ``write_edges_bucketed``
  writes one file per bucket with no Exchange of its own. The bucket id
  is not a column: the table's bucket spec, each file's name and the
  ``edges`` commit record hold it. Readers that filter on subject read
  one bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from transner_spark.kernels.oracle import STRUCTURAL_TYPES

# salting factor of the rollup's partial phase: a hot edge spreads over
# this many reducers (size it with operators/skew.profile_skew)
SALT_PARTITIONS = 16


def bucket_count(spark) -> int:
    """The edge layout's bucket count: the session's
    ``defaultParallelism``, so the bucketed write runs one task per core
    and a bucketed read one task per core (``link_surfaces`` uses the
    same width)."""
    return spark.sparkContext.defaultParallelism


def _resolve(triples: DataFrame, canon: DataFrame, side: str) -> DataFrame:
    """Resolve one side (subj/obj) through the canon map. Structural nodes
    (AGENT/TOOL) are their own canonical ids."""
    structural = list(STRUCTURAL_TYPES)
    surface = F.concat(F.lit("surface:"), F.col(f"{side}_norm"))
    node = F.when(F.col(f"{side}_type").isin(structural), F.col(f"{side}_norm")).otherwise(surface)
    t = triples.withColumn(f"{side}_node", node)
    c = canon.select(
        F.col("node_id").alias(f"{side}_node"),
        F.col("canon_id").alias(f"{side}_canon"),
    )
    t = t.join(F.broadcast(c), f"{side}_node", "left")
    return t.withColumn(
        f"{side}_id", F.coalesce(F.col(f"{side}_canon"), F.col(f"{side}_node"))
    ).drop(f"{side}_node", f"{side}_canon")


def materialize_edges(triples: DataFrame, canon: DataFrame) -> DataFrame:
    """triples + canon → edges(subj_id, pred, obj_id, weight, first_ts,
    last_ts). The final phase is ``repartition(bucket_count, subj_id)``:
    a width set by count, which AQE does not coalesce, so task i holds
    exactly bucket i, and grouping on the edge key needs no second
    Exchange."""
    resolved = _resolve(triples, canon, "subj")
    resolved = _resolve(resolved, canon, "obj")
    salt = F.pmod(F.hash("subj_id", "obj_id", "ts"), F.lit(SALT_PARTITIONS))
    return (
        resolved.withColumn("salt", salt)
        .groupBy("subj_id", "pred", "obj_id", "salt")
        .agg(
            F.count(F.lit(1)).alias("weight"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .repartition(bucket_count(triples.sparkSession), "subj_id")
        .groupBy("subj_id", "pred", "obj_id")
        .agg(
            F.sum("weight").alias("weight"),
            F.min("first_ts").alias("first_ts"),
            F.max("last_ts").alias("last_ts"),
        )
    )


def merge_edge_increments(*edge_batches: DataFrame) -> DataFrame:
    """Associative merge of edge-table increments — the 100 TB
    maintenance pattern: a production KG ingests per-batch (daily /
    per-micro-batch) edge increments instead of recomputing the corpus,
    which works because the edge aggregate is a commutative monoid:
    weight adds, first_ts takes min, last_ts takes max. Given the SAME
    canonical map, ``merge(edges(batch_1), ..., edges(batch_n)) ==
    edges(batch_1 ∪ ... ∪ batch_n)`` exactly — the kg_edges_incremental
    gate checks that algebraic identity against the full-corpus SQL
    derivation. (The canonical map itself refreshes on a slower cadence;
    resolving increments through a stale map then re-merging after a
    canon refresh is the standard two-speed design.)

    One shuffle: union of increments → hash aggregate on the edge key.
    Map-side partial aggregation bounds hot edges; increments are
    already aggregated, so input cardinality is edges, not mentions."""
    merged = edge_batches[0]
    for b in edge_batches[1:]:
        merged = merged.unionByName(b, allowMissingColumns=True)
    return merged.groupBy("subj_id", "pred", "obj_id").agg(
        F.sum("weight").alias("weight"),
        F.min("first_ts").alias("first_ts"),
        F.max("last_ts").alias("last_ts"),
    )


def reresolve_edges(edges: DataFrame, canon_new: DataFrame) -> DataFrame:
    """Canon-refresh re-merge — the second speed of the two-speed
    maintenance design (merge_edge_increments docstring): edge
    increments accumulate under whatever canonical map was live when
    each batch arrived; when the canon map refreshes, the maintained
    table's ids are re-resolved through the NEW map and re-aggregated
    with the same monoid, WITHOUT replaying the triple stream.

    Correctness rests on the refresh being a COARSENING (clusters only
    merge, never split) — guaranteed here because linking is per-surface
    against a static alias dictionary (more corpus ⇒ more link rows ⇒
    connected components only grow) and every id in the maintained
    table is a node of the link graph: an old canon id (itself a member
    node of its old cluster, so the new map sends it — and with it the
    whole old cluster — to the new cluster's id), an already-new id
    (the new map is idempotent on its own canon ids), or an unresolved
    structural/singleton node (left as-is by the coalesce). The
    kg_edges_canon_refresh gate proves the resulting identity
    reresolve(merge(stale increments), canon_new) == edges(whole corpus,
    canon_new) at value level against the full-recompute SQL chain.

    Cost at 100 TB: one broadcast join + one hash re-aggregate over the
    EDGE table (orders of magnitude smaller than the mention stream) —
    vs a full recompute's NER + linking over the whole corpus.
    """
    out = edges
    for side in ("subj", "obj"):
        c = canon_new.select(
            F.col("node_id").alias(f"{side}_id"),
            F.col("canon_id").alias(f"_{side}_new"),
        )
        out = (
            out.join(F.broadcast(c), f"{side}_id", "left")
            .withColumn(
                f"{side}_id",
                F.coalesce(F.col(f"_{side}_new"), F.col(f"{side}_id")),
            )
            .drop(f"_{side}_new")
        )
    return merge_edge_increments(out)


def edges_asof(
    triples: DataFrame,
    canon: DataFrame,
    asof_epoch: int | None = None,
) -> DataFrame:
    """Temporal KG snapshot: the edge table as it stood at ``asof_epoch``
    (unix seconds) — triples with ``ts`` past the cutoff never enter the
    rollup, so weights/first/last reflect only history up to the
    snapshot. The honest way to time-travel a weighted edge aggregate:
    aggregated rows are not invertible, the snapshot must filter BEFORE
    the rollup, and the ts predicate sits directly on the triple stream
    where a partitioned-by-time layout prunes whole partitions.

    ``asof_epoch=None`` derives the midpoint between the triple stream's
    min and max ts IN-PLAN (a 1-row broadcast-joined scalar, no driver
    action) — the deterministic default the gate uses."""
    ts_epoch = F.unix_timestamp("ts")
    if asof_epoch is None:
        bounds = triples.agg(
            F.floor((F.min(ts_epoch) + F.max(ts_epoch)) / 2)
            .cast("long")
            .alias("_asof_cutoff")
        )
        filtered = (
            triples.join(F.broadcast(bounds))
            .where(ts_epoch <= F.col("_asof_cutoff"))
            .drop("_asof_cutoff")
        )
    else:
        filtered = triples.where(ts_epoch <= F.lit(int(asof_epoch)))
    return materialize_edges(filtered, canon)


def edges_diff(edges_old: DataFrame, edges_new: DataFrame) -> DataFrame:
    """Snapshot delta between two edge tables keyed by
    (subj_id, pred, obj_id): one row per edge whose weight differs, with
    ``status`` ('added' | 'removed' | 'changed') and the old/new/delta
    weights. Completes the temporal-maintenance story: diffing two
    ``edges_asof`` snapshots (or a maintained table against a fresh
    recompute) is how a 100 TB KG audits what an incremental merge
    changed WITHOUT replaying either corpus — cost is one join over the
    edge tables, not the mention stream.

    Shape at scale: both inputs are already keyed aggregates on the edge
    key, so the full-outer join shuffles each side once on that same key
    (sort-merge, cardinality = edges; AQE handles any hot subject).
    For two as-of snapshots of the same stream the diff is monotone —
    no 'removed' rows and every delta positive (the edge rollup is a
    monotone monoid in the ts cutoff); the kg_edges_diff gate checks the
    full diff output at value level against two composed SQL rollups."""
    key = ["subj_id", "pred", "obj_id"]
    o = edges_old.select(*key, F.col("weight").cast("long").alias("_w_old"))
    n = edges_new.select(*key, F.col("weight").cast("long").alias("_w_new"))
    joined = o.join(n, key, "full_outer")
    w_old = F.coalesce(F.col("_w_old"), F.lit(0))
    w_new = F.coalesce(F.col("_w_new"), F.lit(0))
    return (
        joined.where(w_old != w_new)
        .select(
            *key,
            F.when(w_old == 0, F.lit("added"))
            .when(w_new == 0, F.lit("removed"))
            .otherwise(F.lit("changed"))
            .alias("status"),
            w_old.alias("weight_old"),
            w_new.alias("weight_new"),
            (w_new - w_old).alias("weight_delta"),
        )
    )


def write_edges_bucketed(edges: DataFrame, table: str, path: str) -> int:
    """Write the one edge layout: a Spark-native BUCKETED table
    (``bucketBy(n, subj_id)`` + ``sortBy``, n = ``bucket_count``)
    registered in the session catalog at ``path``. Returns n, which the
    caller records so a resumed run can re-attach the table.

    A plain parquet directory carries no partitioning metadata, so every
    consumer that joins or aggregates on ``subj_id`` (two-hop self-joins,
    top-k neighbor windows, entity rollups, edge-diff audits) would
    re-shuffle the whole table. The bucketed table's scans come back
    hash-partitioned on ``subj_id``: Catalyst drops that Exchange, and a
    point lookup reads one bucket (tests/test_plan_shapes.py pins both).
    On Iceberg the same layout is the ``bucket(N, subj_id)`` partition
    transform (SURVEY.md §1.2). ``materialize_edges`` already partitions
    its final phase into the n buckets, so the write adds no shuffle and
    produces one file per bucket. ``sortBy(subj_id)`` lets single-file
    buckets skip the join's Sort."""
    n = bucket_count(edges.sparkSession)
    (
        edges.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n, "subj_id")
        .sortBy("subj_id")
        .option("path", path)
        .saveAsTable(table)
    )
    return n


def ensure_edges_bucketed_table(spark, table: str, path: str, buckets: int) -> None:
    """Idempotently (re)register the bucketed edge table over an
    ALREADY-WRITTEN edge path with its recorded bucket count. The bucket
    spec is catalog METADATA while the files are durable: a resumed run
    or a fresh session that skips the edge write would otherwise read
    the path as plain parquet and silently lose the zero-Exchange
    property the layout exists for. Spark's bucketed writer encodes each
    file's bucket id in its name, so an external ``CLUSTERED BY`` table
    declared over the same directory re-binds the distribution exactly
    (the same re-attach a real warehouse gets for free from a persistent
    metastore / Iceberg metadata)."""
    location = path.replace("\\", "\\\\").replace("'", "\\'")
    spark.sql(
        f"""
        CREATE TABLE IF NOT EXISTS {table} (
          subj_id STRING, pred STRING, obj_id STRING,
          weight BIGINT, first_ts TIMESTAMP, last_ts TIMESTAMP
        )
        USING PARQUET
        CLUSTERED BY (subj_id) SORTED BY (subj_id)
        INTO {buckets} BUCKETS
        LOCATION '{location}'
        """
    )


def entity_profiles(triples: DataFrame, canon: DataFrame) -> DataFrame:
    """Per-canonical-entity serving view — the "entity card" a KG
    consumer asks for first: how active is this entity (as subject /
    object), across how many distinct predicates, over what time span,
    and what is its most common surface form.

    The one-shot view is the incremental path run over one batch:
    ``profiles_from_partials(entity_profile_partials(...))``, so the two
    cannot drift."""
    return profiles_from_partials(entity_profile_partials(triples, canon))


def entity_profile_partials(triples: DataFrame, canon: DataFrame) -> DataFrame:
    """Incremental-view-maintenance partials for ``entity_profiles``:
    one row per (entity_id, pred, surface) with the MERGEABLE statistics
    (n_subj/n_obj sums, first/last ts bounds, occurrence count). The
    profile view's two non-distributive aggregates — pred-distinct and
    the modal surface — both become distributive over this key: preds
    are the key's second component and surface counts its third, so
    partials from any corpus split merge with a plain monoid
    (``merge_profile_partials``) and re-derive the EXACT serving view
    (``profiles_from_partials``). This is the same two-speed maintenance
    pattern as the edge table (merge_edge_increments): per-batch
    partials instead of re-scanning the whole triple stream, at the cost
    of state keyed by (entity, pred, surface) — bounded by the observed
    vocabulary, not the corpus.

    Shape at scale: broadcast canon resolve of both triple sides, unioned
    into (entity_id, surface, pred, ts, is_subj) rows, + ONE hash
    aggregate on the partial key (map-side partials bound hot
    entities)."""
    resolved = _resolve(triples, canon, "subj")
    resolved = _resolve(resolved, canon, "obj")
    sides = resolved.select(
        F.col("subj_id").alias("entity_id"),
        F.col("subj_value").alias("surface"),
        "pred",
        "ts",
        F.lit(1).alias("is_subj"),
    ).unionByName(
        resolved.select(
            F.col("obj_id").alias("entity_id"),
            F.col("obj_value").alias("surface"),
            "pred",
            "ts",
            F.lit(0).alias("is_subj"),
        )
    )
    return (
        sides.groupBy("entity_id", "pred", "surface")
        .agg(
            F.sum("is_subj").cast("long").alias("n_subj"),
            F.sum(1 - F.col("is_subj")).cast("long").alias("n_obj"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).cast("long").alias("n_occ"),
        )
    )


def merge_profile_partials(*partials: DataFrame) -> DataFrame:
    """Associative merge of profile partials — the commutative monoid on
    the (entity_id, pred, surface) key: sums add, bounds min/max. One
    union + one hash aggregate whose input cardinality is partial rows
    (vocabulary-bounded), never mentions."""
    merged = partials[0]
    for p in partials[1:]:
        merged = merged.unionByName(p)
    return merged.groupBy("entity_id", "pred", "surface").agg(
        F.sum("n_subj").cast("long").alias("n_subj"),
        F.sum("n_obj").cast("long").alias("n_obj"),
        F.min("first_ts").alias("first_ts"),
        F.max("last_ts").alias("last_ts"),
        F.sum("n_occ").cast("long").alias("n_occ"),
    )


def profiles_from_partials(partials: DataFrame) -> DataFrame:
    """Re-derive the exact ``entity_profiles`` serving view from
    maintained partials: per-(entity,pred) rollup → entity stats with
    pred-distinct as a plain count, and the modal surface from the
    per-(entity,surface) counts with the same deterministic
    (count desc, surface asc) tiebreak, so the gate hash is stable. Two
    key-partitioned aggregates (pred-distinct never becomes a
    distinct-in-agg state) + one entity-partitioned rank window, over
    vocabulary-sized state."""
    from pyspark.sql import Window

    per_pred = partials.groupBy("entity_id", "pred").agg(
        F.sum("n_subj").alias("n_subj"),
        F.sum("n_obj").alias("n_obj"),
        F.min("first_ts").alias("first_ts"),
        F.max("last_ts").alias("last_ts"),
    )
    stats = per_pred.groupBy("entity_id").agg(
        F.sum("n_subj").cast("long").alias("n_subj"),
        F.sum("n_obj").cast("long").alias("n_obj"),
        F.count(F.lit(1)).cast("long").alias("n_preds"),
        F.min("first_ts").alias("first_ts"),
        F.max("last_ts").alias("last_ts"),
    )
    top = (
        partials.groupBy("entity_id", "surface")
        .agg(F.sum("n_occ").alias("n"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("entity_id").orderBy(
                    F.col("n").desc(), F.col("surface")
                )
            ),
        )
        .where(F.col("rk") == 1)
        .select("entity_id", F.col("surface").alias("top_surface"))
    )
    return stats.join(top, "entity_id")


PROVENANCE_K = 3
PROVENANCE_SALTS = 8


def edge_provenance(
    triples: DataFrame,
    canon: DataFrame,
    k: int = PROVENANCE_K,
    n_salts: int = PROVENANCE_SALTS,
) -> DataFrame:
    """(subj_id, pred, obj_id, conv_id, turn_idx, rank): up to ``k``
    supporting turns per materialized edge — the evidence/citation table
    a KG-QA or review surface serves next to each fact ("this edge was
    extracted HERE"). The sample is deterministic: per edge, turns rank
    by ``h60('pv:' || conv_id || ':' || turn_idx)`` (ties by conv/turn —
    a total order), so re-runs cite identical provenance and the gate
    value-checks it.

    Scale shape: the triples stream resolves through the same canon map
    as materialize_edges (shared ``_resolve`` — the provenance keys
    CANNOT drift from the edge keys), then a TWO-PHASE top-k handles the
    hot edge exactly like the salted weight rollup above: phase one
    ranks within (edge, salt) — the skewed generator's hot pair spreads
    across ``n_salts`` frames — and phase two re-ranks the ≤ k*n_salts
    survivors per edge. The global top-k is always a subset of the
    per-salt top-k union, so the result is exact; no edge-sized window
    frame ever materializes. The DuckDB oracle uses the plain
    single-window formulation — an independent derivation."""
    if k < 1 or n_salts < 1:
        raise ValueError(f"need k >= 1 and n_salts >= 1, got {k}/{n_salts}")
    from pyspark.sql import Window

    from transner_spark.functions.hashing import h60

    resolved = _resolve(triples, canon, "subj")
    resolved = _resolve(resolved, canon, "obj")
    base = (
        resolved.select("subj_id", "pred", "obj_id", "conv_id", "turn_idx")
        .distinct()  # one citation per supporting turn
        .withColumn(
            "h",
            h60(
                F.concat(
                    F.lit("pv:"),
                    F.col("conv_id"),
                    F.lit(":"),
                    F.col("turn_idx").cast("string"),
                )
            ),
        )
    )
    order = [F.col("h").asc(), F.col("conv_id").asc(), F.col("turn_idx").asc()]
    w1 = Window.partitionBy(
        "subj_id", "pred", "obj_id", "salt"
    ).orderBy(*order)
    w2 = Window.partitionBy("subj_id", "pred", "obj_id").orderBy(*order)
    return (
        base.withColumn(
            "salt", F.pmod(F.hash("conv_id", "turn_idx"), F.lit(n_salts))
        )
        .withColumn("rn", F.row_number().over(w1))
        .where(F.col("rn") <= k)
        .withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select(
            "subj_id", "pred", "obj_id", "conv_id", "turn_idx", "rank"
        )
    )
