"""Graph-analytics operators over the materialized edge table — the
consumption side of the KG the north rule builds (BASELINE.json:
"materialization of (subj, pred, obj) edge tables"): once edges exist, a
user immediately asks for degrees, centrality, and neighborhoods. All
three are expressed as DataFrame plans (no RDDs, no driver-side row
loops) and each has an unrolled DuckDB oracle in the gate.

Scale shapes (100 TB / 10^12-turn corpus → edge table is post-aggregate,
typically 10^2-10^4× smaller than the triple stream, but still far
beyond one executor):

- ``graph_degrees``: one union projection + one groupBy — a single
  shuffle over node ids; map-side partial aggregation bounds hot-node
  reducer load exactly like the edge materialize's salted agg.
- ``graph_pagerank``: classic damped PageRank with uniform dangling-mass
  redistribution, FIXED iteration count (deterministic, and the same
  unrollable-iteration posture as ``kmeans_refine``). Per iteration: one
  shuffle join (ranks → link source) + one groupBy (contributions →
  target) + a broadcast of the two scalar aggregates (node count,
  dangling mass) via ``crossJoin(broadcast(...))`` — no driver-side
  ``collect`` anywhere; ``localCheckpoint`` truncates the iterative
  lineage each round (same barrier pattern as
  operators/canonicalize.connected_components).
- ``graph_two_hop``: edge self-join on the middle node. Hub middles are
  THE skew risk at scale: AQE skew-join splitting (on in the session
  factory) handles moderate hubs, and ``max_mid_degree`` drops
  super-node middles entirely — the standard production guard (a
  celebrity node's 2-hop fan-out is quadratic in its degree and almost
  never wanted). The guard is observable, not silent: a run that needs
  the audit trail calls ``two_hop_dropped_mids(edges, max_mid_degree)``
  — the exact complement of the filter the join applies — to get each
  dropped hub and its degree (``bench.py --sections`` reports these
  counts in BENCH.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PAGERANK_ITERATIONS = 3
PAGERANK_DAMPING = 0.85
NEIGHBORS_TOPK_K = 5


def graph_degrees(edges: DataFrame) -> DataFrame:
    """Per-node degree table: out/in edge counts and out/in weight sums.

    One union projection + one aggregation — the node id is the only
    shuffle key, and partial (map-side) aggregation makes hot nodes
    cheap: each input partition contributes at most one partial row per
    node.
    """
    out_side = edges.select(
        F.col("subj_id").alias("node_id"),
        F.lit(1).alias("is_out"),
        F.col("weight"),
    )
    in_side = edges.select(
        F.col("obj_id").alias("node_id"),
        F.lit(0).alias("is_out"),
        F.col("weight"),
    )
    sides = out_side.unionByName(in_side)
    flag = F.col("is_out") == 1
    return sides.groupBy("node_id").agg(
        F.sum(F.when(flag, 1).otherwise(0)).cast("long").alias("out_deg"),
        F.sum(F.when(~flag, 1).otherwise(0)).cast("long").alias("in_deg"),
        F.sum(F.when(flag, F.col("weight")).otherwise(0)).cast("long").alias("out_weight"),
        F.sum(F.when(~flag, F.col("weight")).otherwise(0)).cast("long").alias("in_weight"),
    )


def _distinct_links(edges: DataFrame) -> DataFrame:
    """Classic-PageRank link set: distinct (src, dst) pairs, predicates
    and multiplicities collapsed."""
    return edges.select(
        F.col("subj_id").alias("src"), F.col("obj_id").alias("dst")
    ).distinct()


def graph_pagerank(
    edges: DataFrame,
    n_iterations: int = PAGERANK_ITERATIONS,
    damping: float = PAGERANK_DAMPING,
) -> DataFrame:
    """Fixed-iteration damped PageRank over the distinct link graph.

    Semantics (matched exactly by the unrolled DuckDB oracle):
      pr_0(v)   = 1 / N
      pr_t+1(v) = (1-d)/N + d * (Σ_{u→v} pr_t(u)/outdeg(u) + dangling_t/N)
    where dangling_t = Σ pr_t(u) over nodes with outdeg(u) = 0 — the
    standard uniform redistribution, so Σ pr stays 1 every iteration.

    Deterministic: fixed iteration count, and the published ``pr`` is
    rounded so float summation order (which varies with partitioning)
    cannot leak into gate hashes — same posture as the cosine scores in
    dedup/ANN. The rounding is DOUBLE (snap to 9 decimals, then publish
    at 6; the oracle does the identical two-step): cross-engine sums
    agree to ~1e-15, so both engines land on the same 9-dec grid point
    first, and a true value sitting within float-drift of a 6-dec
    rounding boundary can no longer flip the published digit between
    Spark and DuckDB (ADVICE r3; the semantic anchor is the
    tolerance-based numpy differential in tests/test_graph.py).

    Returns (node_id, pr).
    """
    links = _distinct_links(edges).localCheckpoint(eager=True)
    nodes = (
        links.select(F.col("src").alias("node_id"))
        .union(links.select("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # scalar N as a 1-row dim — broadcast-crossJoined, never collected
    n_df = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    outdeg = links.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("outdeg"))

    ranks = nodes.crossJoin(F.broadcast(n_df)).select(
        "node_id", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    for _ in range(n_iterations):
        contrib = (
            links.join(ranks.withColumnRenamed("node_id", "src"), "src")
            .join(outdeg, "src")
            .groupBy(F.col("dst").alias("node_id"))
            .agg(F.sum(F.col("pr") / F.col("outdeg")).alias("contrib"))
        )
        dangling = (
            ranks.join(outdeg, ranks.node_id == outdeg.src, "left_anti")
            .agg(F.coalesce(F.sum("pr"), F.lit(0.0)).alias("dangling"))
        )
        ranks = (
            nodes.join(contrib, "node_id", "left")
            .crossJoin(F.broadcast(dangling))
            .crossJoin(F.broadcast(n_df))
            .select(
                "node_id",
                (
                    (1.0 - damping) / F.col("n")
                    + damping
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("dangling") / F.col("n")
                    )
                ).alias("pr"),
            )
            .localCheckpoint(eager=True)  # truncate iterative lineage
        )
    return ranks.select(
        "node_id", F.round(F.round("pr", 9), 6).alias("pr")
    )


def _mid_degrees(links: DataFrame) -> DataFrame:
    """(mid, deg): total degree of every node over the distinct link
    set — the single definition both the two-hop hub guard and its
    observability complement (two_hop_dropped_mids) filter on."""
    return (
        links.select(F.col("src").alias("mid"))
        .union(links.select("dst"))
        .groupBy("mid")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def two_hop_dropped_mids(edges: DataFrame, max_mid_degree: int) -> DataFrame:
    """The middle nodes ``graph_two_hop(edges, max_mid_degree)`` drops,
    with their degrees — the audit-trail complement of the hub guard
    (same degree definition, opposite predicate), so a production run
    can log exactly which hubs were excluded and how big they were.
    Only nodes that can actually OCCUPY the middle position count: a
    middle needs an incoming link (dst of hop 1) AND an outgoing link
    (src of hop 2), so over-bound nodes seen in just one role (e.g.
    dst-only ``tool:*`` objects) contribute zero paths unguarded and are
    excluded here — two cheap semi-joins keep the complement exact."""
    links = _distinct_links(edges)
    over = _mid_degrees(links).where(F.col("deg") > max_mid_degree)
    as_dst = links.select(F.col("dst").alias("mid"))
    as_src = links.select(F.col("src").alias("mid"))
    return over.join(as_dst, "mid", "left_semi").join(
        as_src, "mid", "left_semi"
    )


def graph_two_hop(
    edges: DataFrame, max_mid_degree: int | None = None
) -> DataFrame:
    """2-hop reachability with path multiplicity: for every pair
    (src, dst) connected by src→mid→dst over the distinct link graph,
    the number of distinct middles. Self-pairs (src = dst, i.e. 2-cycles)
    are kept — they are real paths and the SQL oracle keeps them too.

    ``max_mid_degree`` drops middle nodes whose total degree exceeds the
    bound BEFORE the join — the production hub guard (fan-out through a
    hub is outdeg×indeg rows). None = no filter (gate default at test
    scale).
    """
    links = _distinct_links(edges)
    if max_mid_degree is not None:
        deg = (
            _mid_degrees(links)
            .where(F.col("deg") <= max_mid_degree)
            .select("mid")
        )
        links_in = links.join(
            deg.withColumnRenamed("mid", "dst"), "dst"
        ).select("src", "dst")
        links_out = links.join(
            deg.withColumnRenamed("mid", "src"), "src"
        ).select("src", "dst")
    else:
        links_in, links_out = links, links
    a = links_in.select(F.col("src"), F.col("dst").alias("mid"))
    b = links_out.select(F.col("src").alias("mid"), F.col("dst"))
    return (
        a.join(b, "mid")
        .groupBy("src", "dst")
        # links are distinct pairs, so each mid contributes exactly one
        # (src, mid, dst) row — a plain count IS the distinct-mid count,
        # without a distinct-aggregate's extra shuffle state
        .agg(F.count(F.lit(1)).cast("long").alias("n_paths"))
        .select(
            F.col("src").alias("src_id"), F.col("dst").alias("dst_id"), "n_paths"
        )
    )


def graph_neighbors_topk(edges: DataFrame, k: int = NEIGHBORS_TOPK_K) -> DataFrame:
    """Per-node top-k outgoing neighbors by edge weight — the KG-serving
    primitive ("what is X most connected to?"). A rank window PARTITIONED
    BY the subject id: at cluster scale each node's frame is its own
    out-degree (bounded, never a global sort), so the plan is one shuffle
    on subj_id + a per-partition sort — the unpartitioned-window
    anti-pattern this repo bans does not appear. Deterministic total
    tiebreak (weight desc, obj_id, pred) so the gate hash is stable."""
    w = F.row_number().over(
        Window.partitionBy("subj_id").orderBy(
            F.col("weight").desc(), F.col("obj_id"), F.col("pred")
        )
    )
    return (
        edges.select("subj_id", "pred", "obj_id", "weight")
        .withColumn("rank", w)
        .where(F.col("rank") <= k)
        .select(
            "subj_id",
            "pred",
            "obj_id",
            F.col("weight").cast("long").alias("weight"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


SIMILARITY_MIN_COMMON = 2


def _undirected(edges: DataFrame) -> DataFrame:
    """Distinct undirected link set as ordered pairs (a < b), self-loops
    and predicate/multiplicity collapsed — the input for the
    triangle/similarity analytics, which are direction-blind."""
    return (
        edges.where(F.col("subj_id") != F.col("obj_id"))
        .select(
            F.least("subj_id", "obj_id").alias("a"),
            F.greatest("subj_id", "obj_id").alias("b"),
        )
        .distinct()
    )


def _undirected_degrees(und: DataFrame) -> DataFrame:
    """(node, deg) over the undirected link set — one union projection +
    one map-side-combinable aggregation, same shape as graph_degrees."""
    return (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def _oriented(und: DataFrame, deg: DataFrame) -> DataFrame:
    """Degree-ordered orientation of the undirected link set: each edge
    as (src, dst) with src the (deg, id)-smaller endpoint (ties resolve
    to ``a``, the id-smaller one, since und keeps a < b). The single
    definition shared by graph_triangles and ``bench.py --sections`` —
    the orientation rule IS the scale claim, so it must not fork."""
    orient_a_first = F.col("deg_a") <= F.col("deg_b")  # ties: a < b
    return (
        und.join(
            deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a")),
            "a",
        )
        .join(
            deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b")),
            "b",
        )
        .select(
            F.when(orient_a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(orient_a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        )
    )


def _adjacency(und: DataFrame) -> DataFrame:
    """Both-direction (node, nb) expansion of the ordered undirected
    link set — the ONE adjacency definition shared by graph_similarity
    and graph_communities, so self-loop/multiplicity semantics (already
    collapsed by _undirected) cannot fork between the two operators."""
    return und.select(
        F.col("a").alias("node"), F.col("b").alias("nb")
    ).unionByName(und.select(F.col("b").alias("node"), F.col("a").alias("nb")))


def _hub_nodes(deg: DataFrame, max_degree: int) -> DataFrame:
    """(node, deg) rows above the degree bound — the ONE definition of
    'hub' shared by graph_similarity's guard and its
    similarity_dropped_hubs audit twin (always computed over the
    UNguarded degree table, so the hub set itself cannot drift when the
    guard reshapes downstream degrees)."""
    return deg.where(F.col("deg") > max_degree)


def graph_triangles(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over the
    undirected link graph: (node_id, degree, n_triangles, clustering)
    with clustering = 2T / (deg * (deg - 1)) for deg >= 2, else 0.

    Algorithm: degree-ordered orientation — every undirected edge is
    oriented from its (deg, id)-smaller endpoint to the larger, making
    the edge relation acyclic; each triangle then has EXACTLY one pivot
    node with both of its triangle edges outgoing, so joining the
    oriented set with itself on the pivot (dst_1 < dst_2 to fix the
    wedge order) and closing against the undirected set counts each
    triangle once, no post-hoc dedup.

    Why this survives 100 TB: orientation IS the skew mitigation — a
    celebrity node (the generator's hot entity) has huge degree, so
    almost all its edges orient TOWARD it and its oriented out-degree
    stays O(sqrt(m)); the quadratic wedge fan-out is paid only on
    pivots, which are by construction the low-degree endpoint. The
    wedge join and the closing join both shuffle on bounded keys; no
    window, no driver action. Clustering is exact-integer arithmetic
    followed by ONE correctly-rounded IEEE division, so round(6) is
    engine-stable without the pagerank double-round snap."""
    und = _undirected(edges).localCheckpoint()  # 3 consumers below
    deg = _undirected_degrees(und)
    o = _oriented(und, deg).localCheckpoint()  # 2 wedge sides below
    wedges = (
        o.select("src", F.col("dst").alias("v"))
        .join(o.select("src", F.col("dst").alias("w")), "src")
        .where(F.col("v") < F.col("w"))
    )
    # closing edge looked up in the UNDIRECTED set: v < w always holds
    # in the wedge, matching und's (a < b) ordering directly
    tri = wedges.join(
        und.select(F.col("a").alias("v"), F.col("b").alias("w")), ["v", "w"]
    )
    tri_counts = (
        tri.select(F.col("src").alias("node_id"))
        .unionByName(tri.select(F.col("v").alias("node_id")))
        .unionByName(tri.select(F.col("w").alias("node_id")))
        .groupBy("node_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    t = F.coalesce("n_triangles", F.lit(0)).cast("long")
    d = F.col("deg").cast("double")
    clustering = F.when(
        F.col("deg") >= 2,
        (F.lit(2.0) * t.cast("double")) / (d * (d - F.lit(1.0))),
    ).otherwise(F.lit(0.0))
    return (
        deg.join(tri_counts, deg["node"] == tri_counts["node_id"], "left")
        .select(
            F.col("node").alias("node_id"),
            F.col("deg").cast("long").alias("degree"),
            t.alias("n_triangles"),
            F.round(clustering, 6).alias("clustering"),
        )
    )


def similarity_dropped_hubs(
    edges: DataFrame, max_neighbor_degree: int
) -> DataFrame:
    """Audit twin of graph_similarity's hub guard (the
    two_hop_dropped_mids pattern): the shared-neighbor nodes the guard
    excludes, with their degrees."""
    return _hub_nodes(
        _undirected_degrees(_undirected(edges)), max_neighbor_degree
    ).select(F.col("node").alias("nb"), F.col("deg").alias("nb_degree"))


def graph_similarity(
    edges: DataFrame,
    min_common: int = SIMILARITY_MIN_COMMON,
    max_neighbor_degree: int | None = None,
) -> DataFrame:
    """Structural node similarity by shared neighbors: for every
    unordered node pair with >= ``min_common`` common neighbors in the
    undirected link graph, (node_a, node_b, n_common, deg_a, deg_b,
    jaccard) with jaccard = |N(a) ∩ N(b)| / |N(a) ∪ N(b)|.

    This is the RELATIONAL complement of the surface-string linking
    stage: two canon entities that connect to the same neighborhood are
    merge candidates even when their surfaces share no n-gram — the
    classic structural signal for KG dedup / link prediction.

    Skew/scale: the self-join key is the shared NEIGHBOR, whose fan-out
    is its degree — quadratic on a celebrity node, exactly two_hop's
    hub problem, so the same guard applies: ``max_neighbor_degree``
    drops super-node neighbors (selected on the UNguarded degree —
    ``_hub_nodes``, the same definition ``similarity_dropped_hubs``
    audits) from the graph entirely, and EVERY quantity — n_common,
    deg_a, deg_b, jaccard — is then computed over that hub-pruned
    graph, so guarded jaccard is the exact Jaccard of the pruned
    neighborhoods N'(x) = N(x) \\ hubs (never a mixed-definition
    ratio). AQE skew-join handles the moderate hubs that stay.
    n_common/deg are exact ints and jaccard is ONE IEEE division, so
    round(6) is engine-stable."""
    und = _undirected(edges).localCheckpoint()  # adjacency + degrees
    adj = _adjacency(und)
    if max_neighbor_degree is not None:
        hubs = _hub_nodes(
            _undirected_degrees(und), max_neighbor_degree
        ).select(F.col("node").alias("nb"))
        adj = adj.join(F.broadcast(hubs), "nb", "left_anti")
    adj = adj.localCheckpoint()  # 2 pair sides + the degree agg below
    # degrees FROM the (possibly hub-pruned) adjacency: |N'(x)| — keeps
    # the jaccard numerator and denominators on one graph definition
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    pairs = (
        adj.select(F.col("node").alias("node_a"), "nb")
        .join(adj.select(F.col("node").alias("node_b"), "nb"), "nb")
        .where(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .where(F.col("n_common") >= min_common)
    )
    jaccard = F.col("n_common").cast("double") / (
        F.col("deg_a") + F.col("deg_b") - F.col("n_common")
    ).cast("double")
    return (
        pairs.join(
            deg.select(F.col("node").alias("node_a"), F.col("deg").alias("deg_a")),
            "node_a",
        )
        .join(
            deg.select(F.col("node").alias("node_b"), F.col("deg").alias("deg_b")),
            "node_b",
        )
        .select(
            "node_a",
            "node_b",
            F.col("n_common").cast("long").alias("n_common"),
            F.col("deg_a").cast("long").alias("deg_a"),
            F.col("deg_b").cast("long").alias("deg_b"),
            F.round(jaccard, 6).alias("jaccard"),
        )
    )


def graph_components(edges: DataFrame, max_iterations: int = 25) -> DataFrame:
    """Connected components of the undirected entity graph:
    (node_id, component_id, component_size), component_id = the min
    node id in the component — the standard KG-curation projection
    (is the graph one giant component? how many islands? which?).

    Reuses the canonicalization stage's iterative min-label CC
    (operators/canonicalize.connected_components: per-round
    neighbor-label propagation + min agg, localCheckpoint lineage
    truncation, fail-loud on non-convergence) over the triangle/
    similarity operators' undirected link set, then one component-keyed
    count for sizes. Isolated self-loop-only nodes are out of domain by
    _undirected's definition, matching the SQL oracle exactly."""
    from transner_spark.operators.canonicalize import connected_components

    und = _undirected(edges)
    cc = connected_components(
        und.select(F.col("a").alias("src"), F.col("b").alias("dst")),
        max_iterations=max_iterations,
    )
    sizes = cc.groupBy("canon_id").agg(
        F.count(F.lit(1)).alias("component_size")
    )
    return cc.join(sizes, "canon_id").select(
        "node_id",
        F.col("canon_id").alias("component_id"),
        F.col("component_size").cast("long").alias("component_size"),
    )


LPA_ITERATIONS = 3


def _lpa_round(adj: DataFrame, labels: DataFrame) -> DataFrame:
    """One synchronous LPA round: join current labels onto the adjacency,
    count labels per node, argmax with the total (count desc, label asc)
    tiebreak via a rank window PARTITIONED by node (per-node frames,
    never a global sort — pinned by tests/test_plan_shapes.py, since the
    per-round localCheckpoint hides this plan from the operator's final
    explain). Exposed as a helper so the plan pin and the operator share
    one definition of the round."""
    rank_w = Window.partitionBy("node").orderBy(
        F.col("c").desc(), F.col("label").asc()
    )
    neighbor_labels = adj.join(
        labels.withColumnRenamed("node_id", "nb"), "nb"
    ).select("node", "label")
    return (
        neighbor_labels.groupBy("node", "label")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("_rn", F.row_number().over(rank_w))
        .where(F.col("_rn") == 1)
        .select(F.col("node").alias("node_id"), "label")
    )


def graph_communities(
    edges: DataFrame, n_iterations: int = LPA_ITERATIONS
) -> DataFrame:
    """Community detection by FIXED-iteration synchronous label
    propagation over the undirected link graph:
    (node_id, community_id, community_size).

    Semantics (matched exactly by the unrolled DuckDB oracle, the
    graph_pagerank / kmeans_cells posture): every node starts labeled
    with its own id; each round, a node adopts the most frequent label
    among its NEIGHBORS, ties broken by the smaller label — a total,
    deterministic tiebreak, so a fixed iteration count gives a fixed
    answer (free-running async LPA is run-order-dependent and could
    never be value-gated). Communities are the dense-substructure
    complement of graph_components' pure connectivity.

    Scale shape per iteration: one shuffle join (labels onto the
    adjacency) + one (node, label) count agg + a rank window
    PARTITIONED by node (per-node frames, never a global sort) —
    the same bounded pattern as graph_neighbors_topk; localCheckpoint
    truncates the iterative lineage each round. Hot nodes are group
    keys with map-side partials, never a fan-out side."""
    und = _undirected(edges).localCheckpoint()
    adj = _adjacency(und).localCheckpoint()
    labels = adj.select(F.col("node").alias("node_id")).distinct().select(
        "node_id", F.col("node_id").alias("label")
    )
    for _ in range(n_iterations):
        # truncate iterative lineage each round
        labels = _lpa_round(adj, labels).localCheckpoint()
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("community_size")
    )
    return labels.join(sizes, "label").select(
        "node_id",
        F.col("label").alias("community_id"),
        F.col("community_size").cast("long").alias("community_size"),
    )


KHOP_MAX_HOPS = 3
KHOP_SEEDS = 3


def khop_seeds(
    edges: DataFrame, n: int = KHOP_SEEDS, und: DataFrame | None = None
) -> DataFrame:
    """(node_id) — the n highest-degree nodes of the undirected entity
    graph, ties broken by node id asc (a total order, so the seed set is
    deterministic and value-gateable). Top-k over the dim-sized degree
    table is a TakeOrderedAndProject — per-partition top-k merged on the
    driver, never a full global sort — the standard Spark top-k shape.
    Pass ``und`` (a precomputed undirected link set) to avoid repeating
    the distinct-shuffle when the caller already built one."""
    deg = _undirected_degrees(_undirected(edges) if und is None else und)
    return (
        deg.orderBy(F.col("deg").desc(), F.col("node").asc())
        .limit(n)
        .select(F.col("node").alias("node_id"))
    )


def graph_khop(
    edges: DataFrame,
    seeds: DataFrame | None = None,
    max_hops: int = KHOP_MAX_HOPS,
    n_seeds: int = KHOP_SEEDS,
) -> DataFrame:
    """Bounded BFS: (seed_id, node_id, dist) with dist the shortest
    undirected hop distance from each seed, cut off at ``max_hops`` —
    "everything within k hops of these entities", the workhorse
    neighborhood query over a materialized KG (subgraph extraction,
    blast-radius analysis, context gathering for RAG over the graph).

    Frontier BFS, one round per hop: expand ONLY the previous round's
    frontier through the adjacency (one shuffle join), dedup, anti-join
    against the visited set (BFS invariant: first touch = shortest
    distance, so minimality needs no min-agg), localCheckpoint to
    truncate the iterative lineage. Per-round cost is |frontier| x
    avg-degree and the visited anti-join — never |V|^2; a hub SEED is
    fine (its fan-out is one frontier's width, handled by AQE skew
    splitting), unlike two_hop where hubs sit in the join middle.
    dist is an exact int, so the gate hash is engine-stable.

    ``seeds=None`` derives the top-``n_seeds`` degree seeds from the
    SAME undirected link set the walk uses (one distinct-shuffle, not
    two — the default gate/audit path)."""
    und = _undirected(edges).localCheckpoint()
    if seeds is None:
        seeds = khop_seeds(edges, n_seeds, und=und)
    adj = _adjacency(und).localCheckpoint()
    visited = seeds.select(
        F.col("node_id").alias("seed_id"),
        F.col("node_id"),
        F.lit(0).cast("int").alias("dist"),
    ).localCheckpoint()
    frontier = visited
    for d in range(1, max_hops + 1):
        frontier = (
            frontier.join(
                adj.withColumnRenamed("node", "node_id"), "node_id"
            )
            .select("seed_id", F.col("nb").alias("node_id"))
            .distinct()
            .join(
                visited.select("seed_id", "node_id"),
                ["seed_id", "node_id"],
                "left_anti",
            )
            .withColumn("dist", F.lit(d).cast("int"))
            .localCheckpoint()  # truncate iterative lineage
        )
        visited = visited.unionByName(frontier)
    return visited
