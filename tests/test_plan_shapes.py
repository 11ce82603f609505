"""Physical-plan pins for the scale-critical operator properties that
PLANS.md documents: these fail loudly if a future edit introduces a
global sort where a top-k belongs, an unpartitioned window, or an
all-pairs product in the blocked dedup paths. (Plan STRINGS, no
execution — cheap.)"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _spy(monkeypatch, frame_cls, method: str) -> list[str]:
    """Record the plan of every frame ``method`` is called on."""
    calls = []
    original = getattr(frame_cls, method)

    def spy(self, *args, **kwargs):
        calls.append(_plan(self))
        return original(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, method, spy)
    return calls


def test_skew_profile_topk_not_global_sort(spark, tiny_df):
    from transner_spark.operators.skew import profile_skew

    p = _plan(profile_skew(tiny_df, ["role"], top_k=5))
    # top-k must be TakeOrderedAndProject (per-partition top-k + k·P
    # driver merge), never a global Sort or a global Window
    assert "TakeOrderedAndProject" in p
    assert "WindowExec" not in p
    # the totals scalar comes back via broadcast — in-plan, no collect
    assert "BroadcastExchange" in p or "BroadcastNestedLoopJoin" in p


def test_dedup_incremental_no_cartesian(spark):
    from transner_spark.operators.dedup import dedup_minhash_incremental

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma epsilon")],
        ["doc_id", "text"],
    )
    is_new = F.pmod(F.abs(F.xxhash64("doc_id")), F.lit(2)) == F.lit(0)
    p = _plan(dedup_minhash_incremental(docs.where(~is_new), docs.where(is_new)))
    # candidate generation must stay a banded equi-join
    assert "CartesianProduct" not in p


def test_edges_rollup_is_salted_two_phase(spark, tiny_df):
    """materialize_edges' salted path: the pre-aggregate must include
    the salt column so the hot-key rollup happens in two phases, and the
    final phase is one subj_id repartition into defaultParallelism
    buckets (a width AQE does not coalesce) that adds no third
    shuffle."""
    from transner_spark.operators.annotate import annotate_turns, explode_triples
    from transner_spark.operators.canonicalize import canonicalize
    from transner_spark.operators.linking import link_surfaces, node_surfaces
    from transner_spark.operators.materialize import materialize_edges

    t = explode_triples(annotate_turns(tiny_df))
    canon = canonicalize(link_surfaces(tiny_df.sparkSession, node_surfaces(t)))
    p = _plan(materialize_edges(t, canon))
    assert "salt" in p
    assert "CartesianProduct" not in p
    assert p.count("Exchange hashpartitioning") == 2, p
    dp = spark.sparkContext.defaultParallelism
    final = rf"Exchange hashpartitioning\(subj_id#\d+, {dp}\), REPARTITION_BY_NUM"
    assert re.search(final, p), p


@pytest.fixture()
def bucketed_edges(spark, tmp_path_factory):
    """A small edge table written twice: as a plain parquet directory
    (negative control) and as a catalog-registered bucketed table, with
    the bucket count the write chose."""
    from transner_spark.operators.materialize import write_edges_bucketed

    root = tmp_path_factory.mktemp("bucketed_edges")
    edges = spark.createDataFrame(
        [(i % 7, "p", (i * 3) % 11, 1 + i % 4) for i in range(100)],
        ["subj_id", "pred", "obj_id", "weight"],
    )
    plain = str(root / "plain")
    edges.write.mode("overwrite").parquet(plain)
    spark.sql("DROP TABLE IF EXISTS edges_bucketed_t")
    n = write_edges_bucketed(edges, "edges_bucketed_t", str(root / "bucketed"))
    assert n == spark.sparkContext.defaultParallelism
    yield plain, "edges_bucketed_t", n
    spark.sql("DROP TABLE IF EXISTS edges_bucketed_t")


def _no_broadcast(spark):
    """Force sort-merge joins so the Exchange presence/absence is the
    signal (a broadcast join would hide the shuffle question entirely)."""
    import contextlib

    @contextlib.contextmanager
    def ctx():
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            yield
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    return ctx()


def test_bucketed_edges_self_join_skips_shuffle(spark, bucketed_edges):
    """The bucketed layout's whole point: an equi-join on subj_id over
    the bucketed edge table must read both sides pre-distributed — zero
    shuffle Exchanges — while the identical plain-parquet join shuffles
    both sides. (two-hop / edge-diff / incremental-merge all join on
    this key.)"""
    plain, table, _n = bucketed_edges
    with _no_broadcast(spark):
        b = spark.table(table)
        pb = _plan(b.alias("a").join(b.alias("b"), "subj_id"))
        p = spark.read.parquet(plain)
        pp = _plan(p.alias("a").join(p.alias("b"), "subj_id"))
    assert "Exchange hashpartitioning" not in pb, pb
    assert "SortMergeJoin" in pb or "ShuffledHashJoin" in pb
    assert "Exchange hashpartitioning" in pp  # negative control


def test_bucketed_edges_agg_skips_shuffle(spark, bucketed_edges):
    """groupBy(subj_id) over the bucketed table satisfies the aggregate's
    required distribution from the scan — no Exchange (entity rollups /
    degree counts read for free)."""
    plain, table, _n = bucketed_edges
    agg = spark.table(table).groupBy("subj_id").agg(F.sum("weight"))
    pb = _plan(agg)
    assert "Exchange hashpartitioning" not in pb, pb
    pp = _plan(
        spark.read.parquet(plain).groupBy("subj_id").agg(F.sum("weight"))
    )
    assert "Exchange hashpartitioning" in pp  # negative control


def test_bucketed_edges_point_lookup_prunes_buckets(spark, bucketed_edges):
    """Point lookups on the bucket key read ONE bucket's files, not the
    table: the scan plan must carry `SelectedBucketsCount: 1 out of N`
    (bucket pruning). autoBucketedScan is disabled for the probe — with
    it on, Spark may drop the bucketed layout for filter-only scans to
    regain split parallelism, which forfeits pruning; a serving-side
    point-lookup path wants the pruned scan."""
    plain, table, n = bucketed_edges
    old = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        pb = _plan(spark.table(table).where(F.col("subj_id") == 3))
        pp = _plan(spark.read.parquet(plain).where(F.col("subj_id") == 3))
    finally:
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", old
        )
    assert f"SelectedBucketsCount: 1 out of {n}" in pb, pb
    assert "SelectedBucketsCount" not in pp  # plain layout cannot prune


def test_link_surfaces_fuzzy_pass_runs_once_in_one_stage(spark):
    """link_surfaces' fuzzy pass runs ONCE, in one stage: a single
    mapInArrow over the surfaces resolves exact and fuzzy links
    together, and the only shuffle is ONE round-robin repartition into
    defaultParallelism partitions — no window, and no second consumer
    re-shuffles the surfaces."""
    from transner_spark.operators.linking import link_surfaces

    surfaces = spark.createDataFrame(
        [("mario rossi",), ("mario rosi",), ("zzqq xxvv",)], "norm_key string"
    )
    p = _plan(link_surfaces(spark, surfaces))
    assert p.count("MapInArrow") == 1, p
    assert "Window" not in p, p
    shuffles = [
        line for line in p.splitlines()
        if "Exchange" in line and "BroadcastExchange" not in line
    ]
    dp = spark.sparkContext.defaultParallelism
    repartition = rf"RoundRobinPartitioning\({dp}\), REPARTITION_BY_NUM"
    assert len(shuffles) == 1 and re.search(repartition, shuffles[0]), p


def test_link_surfaces_broadcasts_both_dim_joins(spark, monkeypatch):
    """Both alias lookups (exact and gram) reach every task as the
    in-memory index in the task closure, so the mention side never
    shuffles for either lookup: with auto-broadcast off the plan holds
    no join of any kind, and nothing is checkpointed."""
    from transner_spark.operators.linking import link_surfaces

    surfaces = spark.createDataFrame(
        [("mario rossi",), ("mario rosi",), ("zzqq xxvv",)], "norm_key string"
    )
    checkpointed = _spy(monkeypatch, type(surfaces), "localCheckpoint")
    with _no_broadcast(spark):
        p = _plan(link_surfaces(spark, surfaces))
    assert checkpointed == []
    for op in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"):
        assert op not in p, p


def test_link_plan_builds_without_a_spark_job(spark):
    """Over the canonical dictionary, building the link plan runs no
    Spark job and persists nothing: the index is built in Python from
    the dictionary rows, not collected from Spark dims."""
    from transner_spark.kernels.linking import alias_index
    from transner_spark.operators.linking import link_surfaces

    sc = spark.sparkContext
    surfaces = spark.createDataFrame(
        [("mario rossi",), ("mario rosi",)], "norm_key string"
    )
    persisted = sc._jsc.getPersistentRDDs().size()
    alias_index.cache_clear()
    group = "link_plan_builds_without_a_spark_job"
    sc.setJobGroup(group, group)
    try:
        _plan(link_surfaces(spark, surfaces))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert sc._jsc.getPersistentRDDs().size() == persisted


def test_neighbors_topk_window_is_partitioned(spark):
    from transner_spark.operators.graph import graph_neighbors_topk

    edges = spark.createDataFrame(
        [(1, "p", 2, 3), (1, "p", 3, 2), (2, "p", 3, 1)],
        ["subj_id", "pred", "obj_id", "weight"],
    )
    p = _plan(graph_neighbors_topk(edges, k=2))
    # the rank window must be partitioned by node: its required child
    # distribution is a hash partitioning on subj_id. An unpartitioned
    # window would demand Exchange SinglePartition instead (the
    # 'WindowExec: No Partition Defined' collapse).
    assert "hashpartitioning(subj_id" in p
    assert "SinglePartition" not in p


def test_communities_rank_window_is_partitioned(spark):
    """Same pin for graph_communities' per-round argmax window: it must
    be PARTITIONED by node (per-node frames), never a global sort. The
    pin targets _lpa_round directly — the operator localCheckpoints each
    round, which truncates lineage and hides the window from the final
    plan; the helper IS the round's definition (one shared copy)."""
    from transner_spark.operators.graph import _adjacency, _lpa_round, _undirected

    edges = spark.createDataFrame(
        [(1, "p", 2, 3), (1, "p", 3, 2), (2, "p", 3, 1)],
        ["subj_id", "pred", "obj_id", "weight"],
    )
    adj = _adjacency(_undirected(edges))
    labels = adj.select(F.col("node").alias("node_id")).distinct().select(
        "node_id", F.col("node_id").alias("label")
    )
    p = _plan(_lpa_round(adj, labels))
    assert "hashpartitioning(node" in p
    assert "SinglePartition" not in p


def test_bucketed_reattach_after_catalog_loss(spark, tmp_path):
    """A resumed run / fresh session has the edge FILES but no
    catalog entry (the bucket spec is session metadata):
    ensure_edges_bucketed_table re-binds the CLUSTERED BY spec over the
    existing directory — values identical, zero-Exchange self-join
    restored (bucketed files carry their bucket id in the file name),
    and the call is idempotent."""
    import datetime

    from transner_spark.operators.materialize import (
        ensure_edges_bucketed_table,
        write_edges_bucketed,
    )

    ts0 = datetime.datetime(2024, 1, 1)
    edges = spark.createDataFrame(
        [
            (f"e{i % 7}", "p", f"o{(i * 3) % 11}", i % 4 + 1, ts0, ts0)
            for i in range(100)
        ],
        "subj_id string, pred string, obj_id string, weight long, "
        "first_ts timestamp, last_ts timestamp",
    )
    path = str(tmp_path / "edges")
    spark.sql("DROP TABLE IF EXISTS edges_reattach_t")
    n = write_edges_bucketed(edges, "edges_reattach_t", path)
    vals = sorted(map(tuple, spark.table("edges_reattach_t").collect()))

    # simulate the fresh session: catalog entry gone, files remain
    # (saveAsTable with an explicit path is EXTERNAL — drop keeps files)
    spark.sql("DROP TABLE edges_reattach_t")
    ensure_edges_bucketed_table(spark, "edges_reattach_t", path, n)
    t = spark.table("edges_reattach_t")
    assert sorted(map(tuple, t.collect())) == vals
    with _no_broadcast(spark):
        pb = _plan(t.alias("a").join(t.alias("b"), "subj_id"))
    assert "Exchange hashpartitioning" not in pb, pb

    ensure_edges_bucketed_table(spark, "edges_reattach_t", path, n)
    assert sorted(
        map(tuple, spark.table("edges_reattach_t").collect())
    ) == vals
    spark.sql("DROP TABLE IF EXISTS edges_reattach_t")


def test_training_shard_write_plan_has_no_join(spark):
    """write_training_shards' plan: the shard expressions are inline
    (pure functions of doc_id) — a join against the assignment frame
    would broadcast/shuffle the corpus twice (review finding, round 4)."""
    from transner_spark.operators.curation import _shard_cols

    docs = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["doc_id", "text"]
    )
    shard, key = _shard_cols(4)
    p = _plan(
        docs.select("*", shard, key)
        .repartition(4, "shard")
        .sortWithinPartitions("shard", "shard_key")
    )
    assert "Join" not in p
    assert p.count("Exchange") == 1


def test_provenance_windows_are_salted_then_edge_partitioned(spark):
    """edge_provenance's two-phase top-k: the FIRST rank window must be
    partitioned by (edge key + salt) — the hot edge never gets an
    edge-sized frame — and no window may be partition-free."""
    from transner_spark.operators.materialize import edge_provenance

    t = spark.createDataFrame(
        [("c1", 0, "A", "PERSON", "a", "p", "B", "LOCATION", "b", 0.9)],
        "conv_id string, turn_idx int, subj_value string, subj_type string,"
        " subj_norm string, pred string, obj_value string, obj_type string,"
        " obj_norm string, confidence double",
    )
    canon = spark.createDataFrame([("surface:a", "surface:a")], "node_id string, canon_id string")
    p = _plan(edge_provenance(t, canon))
    assert "salt" in p
    assert "No Partition Defined" not in p


def test_walks_step_join_is_composite_key(spark):
    """random_walks resolves each hop via the (node, rank) composite
    equi-join — never a per-neighbor fan-out join or a neighbor array."""
    from transner_spark.operators.walks import random_walks

    edges = spark.createDataFrame(
        [("a", "p", "b", 1), ("b", "p", "c", 1)],
        "subj_id string, pred string, obj_id string, weight long",
    )
    p = _plan(random_walks(edges, n_walks=1, n_steps=1))
    assert "CartesianProduct" not in p
    assert "collect_list" not in p  # no neighbor arrays anywhere


def test_text_stats_scan_reads_only_doc_id_and_text(spark, tmp_path):
    """Invariant 1: a per-document operator prunes the scan to
    ``(doc_id, text)`` whatever else the corpus holds."""
    import pandas as pd

    from transner_spark.operators.textops import text_stats

    path = str(tmp_path / "docs.parquet")
    pd.DataFrame(
        {"doc_id": [1, 2], "text": ["a b", "c d"], "lang": ["en", "it"], "n": [1, 2]}
    ).to_parquet(path)
    p = _plan(text_stats(spark.read.parquet(path)))
    assert re.findall(r"ReadSchema: (\S+)", p) == ["struct<doc_id:bigint,text:string>"], p


def test_quarantine_guard_runs_before_the_ner_udf(spark, tiny_df, tmp_path):
    """Invariant 3: the 150-word guard is a Filter below the
    ``mapInPandas`` NER pass (Catalyst cannot push a filter through the
    opaque UDF, so annotate_turns places it there itself)."""
    from transner_spark.operators.annotate import annotate_turns

    path = str(tmp_path / "turns")
    tiny_df.write.parquet(path)
    lines = _plan(annotate_turns(spark.read.parquet(path))).splitlines()
    udf = next(i for i, line in enumerate(lines) if "MapInPandas" in line)
    guard = next(
        i for i, line in enumerate(lines)
        if "Filter" in line and "split(trim(text" in line
    )
    assert udf < guard, "\n".join(lines)


def test_inline_annotation_folds_are_single_aggregates(spark):
    """Invariant 4: the T10 replace fold and the CoNLL '$'-state machine
    are each ONE ``aggregate`` expression over the entity / word array,
    and the entity dictionary reaches the documents as the intended
    1-row broadcast cross join."""
    from transner_spark.operators.inline_annotation import inline_annotate, inline_conll

    docs = spark.createDataFrame(
        [(1, "x alpha beta y"), (2, "q beta z")], "doc_id long, text string"
    )
    ents = spark.createDataFrame(
        [("alpha", "PER"), ("beta", "LOC")], "key string, ty string"
    )
    annotated = inline_annotate(docs, ents)
    p = _plan(annotated)
    assert p.count("aggregate(") == 1, p
    assert "BroadcastNestedLoopJoin BuildRight, Cross" in p, p
    assert _plan(inline_conll(annotated)).count("aggregate(") == 2


def test_wikiner_windows_are_per_file(spark, tmp_path):
    """Invariant 5: WikiNER's blank-line grouping runs as windows
    partitioned by file (and article), never one global window."""
    from transner_spark.operators.wikiner import read_wikiner_lines, wikiner_scan

    path = tmp_path / "wikiner.txt"
    path.write_text("a|B|O b|C|I-PER\n\nc|D|O\n")
    p = _plan(wikiner_scan(read_wikiner_lines(spark, str(path))))
    assert "Exchange hashpartitioning(file" in p, p
    assert "SinglePartition" not in p and "No Partition Defined" not in p, p


def test_barriers_materialize_reused_frames(spark, monkeypatch):
    """Invariant 7: minhash dedup persists its signatures before the
    band joins reuse them, and canonicalize localCheckpoints its map."""
    from transner_spark.operators.canonicalize import canonicalize
    from transner_spark.operators.dedup import dedup_minhash_lsh

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma epsilon")],
        ["doc_id", "text"],
    )
    frame_cls = type(docs)
    persisted = _spy(monkeypatch, frame_cls, "persist")
    checkpointed = _spy(monkeypatch, frame_cls, "localCheckpoint")
    dedup_minhash_lsh(docs)
    # the per-shingle base hashes (read by all 16 affine transforms)
    # and the signatures (read by every band join)
    assert len(persisted) == 2 and checkpointed == []
    links = spark.createDataFrame(
        [("mario rosi", "person:mario_rossi", 0.6, "fuzzy")],
        "norm_key string, entity_key string, score double, method string",
    )
    canonicalize(links)
    assert len(persisted) == 2 and len(checkpointed) == 1


def test_session_turns_on_aqe_skew_join(spark):
    """Invariant 9: AQE and its skew-join split are on session-wide."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_fan_out_repartitions_only_under_parallelized_input(spark):
    """Invariant 8: fan_out round-robins a frame with fewer partitions
    than the default parallelism and leaves a wide-enough one alone."""
    from transner_spark.functions.partitioning import fan_out

    dp = spark.sparkContext.defaultParallelism
    narrow = spark.range(10, numPartitions=1)
    assert f"RoundRobinPartitioning({dp})" in _plan(fan_out(narrow))
    wide = spark.range(10, numPartitions=dp)
    assert fan_out(wide) is wide
