"""Spark ↔ single-node-oracle parity for every pipeline stage, plus the
north rule's P/R ≥ 0.95 triple metric and per-turn text-equality invariant.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from tests.conftest import assert_pdf_equal
from transner_spark.kernels.oracle import TRIPLE_COLUMNS
from transner_spark.operators.annotate import explode_mentions, explode_triples
from transner_spark.operators.canonicalize import canonicalize
from transner_spark.operators.linking import link_surfaces, node_surfaces
from transner_spark.operators.materialize import materialize_edges


def test_mentions_parity(annotated, oracle_results):
    got = explode_mentions(annotated).toPandas()
    assert_pdf_equal(got, oracle_results["mentions"],
                     ["conv_id", "turn_idx", "mention_id"])
    assert len(got) > 50


def test_triples_parity(annotated, oracle_results):
    got = explode_triples(annotated).drop("ts").toPandas()
    assert_pdf_equal(got, oracle_results["triples"], TRIPLE_COLUMNS)
    assert len(got) > 10


def test_triple_precision_recall(annotated, oracle_results):
    """North-rule metric: (subj, pred, obj) P/R ≥ 0.95 vs the oracle."""
    got = explode_triples(annotated).select("subj_norm", "pred", "obj_norm").toPandas()
    spark_set = set(map(tuple, got.values))
    oracle_set = set(
        map(tuple, oracle_results["triples"][["subj_norm", "pred", "obj_norm"]].values)
    )
    tp = len(spark_set & oracle_set)
    precision = tp / max(1, len(spark_set))
    recall = tp / max(1, len(oracle_set))
    assert precision >= 0.95
    assert recall >= 0.95


def test_links_parity(spark, annotated, oracle_results):
    links = link_surfaces(spark, node_surfaces(explode_triples(annotated)))
    assert_pdf_equal(links.toPandas(), oracle_results["links"], ["norm_key"])


def test_canonical_parity(spark, annotated, oracle_results):
    links = link_surfaces(spark, node_surfaces(explode_triples(annotated)))
    canon = canonicalize(links)
    assert_pdf_equal(canon.toPandas(), oracle_results["canonical"], ["node_id"])


def test_edges_parity(spark, annotated, oracle_results):
    t = explode_triples(annotated)
    links = link_surfaces(spark, node_surfaces(t))
    canon = canonicalize(links)
    edges = materialize_edges(t, canon)
    assert_pdf_equal(edges.toPandas(), oracle_results["edges"],
                     ["subj_id", "pred", "obj_id"])


def test_per_turn_text_equality(annotated, tiny_pdf):
    """BASELINE.json invariant: output text == input text under stable
    (conv_id, turn_idx) ordering."""
    got = (
        annotated.select("conv_id", "turn_idx", "text")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    kept = tiny_pdf[tiny_pdf["text"].str.split().str.len() <= 150]
    want = (
        kept[["conv_id", "turn_idx", "text"]]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got.astype({"turn_idx": "int64"}), want.astype({"turn_idx": "int64"})
    )


def test_mention_invariants(annotated):
    """Offsets in range; value is the exact substring at its offset."""
    rows = (
        annotated.select("text", F.explode("mentions").alias("m"))
        .select("text", "m.value", "m.offset", "m.type", "m.confidence")
        .toPandas()
    )
    assert len(rows) > 0
    for r in rows.itertuples(index=False):
        assert 0 <= r.offset < len(r.text)
        assert r.text[r.offset : r.offset + len(r.value)] == r.value
        assert 0.0 <= r.confidence <= 1.0


def test_merge_edge_increments_identity(spark):
    """The monoid identity behind incremental maintenance: merging
    per-batch edge tables equals materializing the whole triple stream
    (same canonical map)."""
    import pyspark.sql.functions as F

    from transner_spark.operators.materialize import (
        materialize_edges,
        merge_edge_increments,
    )

    rows = [
        ("c%d" % (i % 7), i, "s%d" % (i % 3), "PER", "surf%d" % (i % 3),
         "knows", "o%d" % (i % 4), "LOC", "osurf%d" % (i % 4), 0.9,
         "2026-01-%02d 00:00:%02d" % (1 + i % 27, i % 60))
        for i in range(200)
    ]
    t = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx long, subj_value string, subj_type string,"
        " subj_norm string, pred string, obj_value string, obj_type string,"
        " obj_norm string, confidence double, ts_s string",
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    canon = spark.createDataFrame(
        [("surface:surf0", "canon:x"), ("surface:osurf1", "canon:y")],
        "node_id string, canon_id string",
    )
    whole = materialize_edges(t, canon)
    part = F.pmod(F.crc32(F.col("conv_id")), F.lit(3))
    batches = [materialize_edges(t.where(part == i), canon) for i in range(3)]
    merged = merge_edge_increments(*batches)
    cols = ["subj_id", "pred", "obj_id", "weight", "first_ts", "last_ts"]
    assert sorted(map(tuple, whole.select(cols).collect())) == sorted(
        map(tuple, merged.select(cols).collect())
    )


def test_reresolve_edges_canon_refresh(spark):
    """Canon-refresh re-merge: a maintained table whose batch-1 rows were
    resolved under a stale map re-keys through the refreshed (coarser)
    map to exactly the full recompute — without replaying the triples;
    and reresolve is idempotent under an unchanged map."""
    import pyspark.sql.functions as F

    from transner_spark.operators.materialize import (
        materialize_edges,
        merge_edge_increments,
        reresolve_edges,
    )

    def triples(norm, n):
        rows = [
            ("c%d" % i, i, norm, "PER", norm, "mentions_with", "t", "TOOL",
             "tool:t", 0.9, "2026-02-%02d 00:00:00" % (1 + i % 27))
            for i in range(n)
        ]
        return spark.createDataFrame(
            rows,
            "conv_id string, turn_idx long, subj_value string, subj_type string,"
            " subj_norm string, pred string, obj_value string, obj_type string,"
            " obj_norm string, confidence double, ts_s string",
        ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")

    # batch 1 mentions surface "b", batch 2 surface "a"; both alias to
    # entity zent:E. Stale map (batch-1 surfaces only): canon = surface:b.
    # Refreshed map (all surfaces): canon = surface:a — the cluster GREW
    # and its canon id CHANGED, the hard case for re-resolution.
    t1, t2 = triples("b", 5), triples("a", 3)
    canon_stale = spark.createDataFrame(
        [("surface:b", "surface:b"), ("zent:E", "surface:b")],
        "node_id string, canon_id string",
    )
    canon_new = spark.createDataFrame(
        [("surface:a", "surface:a"), ("surface:b", "surface:a"),
         ("zent:E", "surface:a")],
        "node_id string, canon_id string",
    )
    maintained = merge_edge_increments(
        materialize_edges(t1, canon_stale), materialize_edges(t2, canon_new)
    )
    # before the refresh the maintained table is split across old/new ids
    assert maintained.count() == 2
    refreshed = reresolve_edges(maintained, canon_new)
    full = materialize_edges(t1.unionByName(t2), canon_new)
    cols = ["subj_id", "pred", "obj_id", "weight", "first_ts", "last_ts"]
    want = sorted(map(tuple, full.select(cols).collect()))
    assert sorted(map(tuple, refreshed.select(cols).collect())) == want
    # idempotent under an unchanged map
    again = reresolve_edges(refreshed, canon_new)
    assert sorted(map(tuple, again.select(cols).collect())) == want


def test_canon_refresh_full_pipeline(spark, annotated):
    """The gate identity on real pipeline stages: stale-canon batch-1
    edges + fresh-canon batch-2 edges, merged and re-resolved, equal the
    whole-corpus materialization under the fresh map."""
    import pyspark.sql.functions as F

    from transner_spark.operators.canonicalize import canonicalize
    from transner_spark.operators.materialize import (
        materialize_edges,
        merge_edge_increments,
        reresolve_edges,
    )

    t = explode_triples(annotated).localCheckpoint()
    part = F.pmod(F.crc32(F.col("conv_id")), F.lit(2))
    t1, t2 = t.where(part == 0), t.where(part == 1)
    canon_stale = canonicalize(link_surfaces(spark, node_surfaces(t1)))
    canon_new = canonicalize(link_surfaces(spark, node_surfaces(t)))
    maintained = merge_edge_increments(
        materialize_edges(t1, canon_stale), materialize_edges(t2, canon_new)
    )
    refreshed = reresolve_edges(maintained, canon_new)
    full = materialize_edges(t, canon_new)
    cols = ["subj_id", "pred", "obj_id", "weight", "first_ts", "last_ts"]
    assert sorted(map(tuple, refreshed.select(cols).collect())) == sorted(
        map(tuple, full.select(cols).collect())
    )


def test_edges_asof_explicit_cutoff(spark):
    """edges_asof with an explicit epoch equals materializing the
    pre-filtered stream; the default midpoint variant is a subset of the
    full table with weights <= full weights."""
    import pyspark.sql.functions as F

    from transner_spark.operators.materialize import (
        edges_asof,
        materialize_edges,
    )

    rows = [
        ("c1", 0, "a", "PER", "a", "knows", "b", "LOC", "b", 0.9, "2026-01-01 00:00:00"),
        ("c1", 1, "a", "PER", "a", "knows", "b", "LOC", "b", 0.9, "2026-01-02 00:00:00"),
        ("c1", 2, "a", "PER", "a", "knows", "b", "LOC", "b", 0.9, "2026-01-03 00:00:00"),
    ]
    t = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx long, subj_value string, subj_type string,"
        " subj_norm string, pred string, obj_value string, obj_type string,"
        " obj_norm string, confidence double, ts_s string",
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    canon = spark.createDataFrame([], "node_id string, canon_id string")
    cutoff = t.select(F.unix_timestamp("ts")).collect()[1][0]  # jan 2
    snap = edges_asof(t, canon, asof_epoch=cutoff).collect()
    assert len(snap) == 1 and snap[0]["weight"] == 2
    expect = materialize_edges(
        t.where(F.unix_timestamp("ts") <= cutoff), canon
    ).collect()
    assert snap[0]["weight"] == expect[0]["weight"]
    # default midpoint: jan 1..3 midpoint = jan 2 → weight 2 as well
    mid = edges_asof(t, canon).collect()
    assert len(mid) == 1 and mid[0]["weight"] == 2


def test_entity_profiles_exact(spark):
    """Handcrafted triples: counts, pred-distinct, bounds and the modal
    surface with its deterministic tiebreak."""
    import pyspark.sql.functions as F

    from transner_spark.operators.materialize import entity_profiles

    rows = [
        # conv, idx, sv, st, sn, pred, ov, ot, on, conf, ts
        ("c1", 0, "Anna", "PER", "anna", "knows", "Roma", "LOC", "roma", 0.9, "2026-01-01 00:00:00"),
        ("c1", 1, "anna", "PER", "anna", "visited", "Roma", "LOC", "roma", 0.9, "2026-01-02 00:00:00"),
        ("c1", 2, "Anna", "PER", "anna", "knows", "Milano", "LOC", "milano", 0.9, "2026-01-03 00:00:00"),
    ]
    t = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx long, subj_value string, subj_type string,"
        " subj_norm string, pred string, obj_value string, obj_type string,"
        " obj_norm string, confidence double, ts_s string",
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    canon = spark.createDataFrame([], "node_id string, canon_id string")
    p = {r["entity_id"]: r for r in entity_profiles(t, canon).collect()}
    anna = p["surface:anna"]
    assert (anna["n_subj"], anna["n_obj"], anna["n_preds"]) == (3, 0, 2)
    # modal surface: 'Anna' x2 beats 'anna' x1
    assert anna["top_surface"] == "Anna"
    roma = p["surface:roma"]
    assert (roma["n_subj"], roma["n_obj"], roma["n_preds"]) == (0, 2, 2)
    assert roma["top_surface"] == "Roma"


def test_edges_diff_exact(spark):
    """Handcrafted snapshots: added/removed/changed statuses and deltas
    are exact; identical inputs diff to empty; an as-of diff of the same
    stream is monotone (no 'removed', all deltas positive) and its delta
    total equals the post-cutoff triple count."""
    from transner_spark.operators.materialize import (
        edges_asof,
        edges_diff,
        materialize_edges,
    )

    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "subj_id string, pred string, obj_id string, weight long"
    )
    old = mk([("a", "p", "b", 2), ("a", "p", "c", 1), ("x", "q", "y", 3)])
    new = mk([("a", "p", "b", 5), ("x", "q", "y", 3), ("n", "r", "m", 1)])
    got = {
        (r["subj_id"], r["pred"], r["obj_id"]): (
            r["status"], r["weight_old"], r["weight_new"], r["weight_delta"]
        )
        for r in edges_diff(old, new).collect()
    }
    assert got == {
        ("a", "p", "b"): ("changed", 2, 5, 3),
        ("a", "p", "c"): ("removed", 1, 0, -1),
        ("n", "r", "m"): ("added", 0, 1, 1),
    }
    assert edges_diff(old, old).count() == 0

    rows = [
        ("c1", 0, "a", "PER", "a", "knows", "b", "LOC", "b", 0.9, "2026-01-01 00:00:00"),
        ("c1", 1, "a", "PER", "a", "knows", "b", "LOC", "b", 0.9, "2026-01-02 00:00:00"),
        ("c1", 2, "a", "PER", "a", "knows", "c", "LOC", "c", 0.9, "2026-01-03 00:00:00"),
        ("c1", 3, "a", "PER", "a", "knows", "b", "LOC", "b", 0.9, "2026-01-04 00:00:00"),
    ]
    t = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx long, subj_value string, subj_type string,"
        " subj_norm string, pred string, obj_value string, obj_type string,"
        " obj_norm string, confidence double, ts_s string",
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    canon = spark.createDataFrame([], "node_id string, canon_id string")
    # midpoint = jan 2 (floor of jan1..jan4 epoch midpoint lands jan 2 12:00)
    d = edges_diff(edges_asof(t, canon), materialize_edges(t, canon)).collect()
    assert all(r["status"] in ("added", "changed") for r in d)
    assert all(r["weight_delta"] > 0 for r in d)
    n_after_cutoff = 2  # jan 3 + jan 4 rows
    assert sum(r["weight_delta"] for r in d) == n_after_cutoff


def test_entity_profiles_incremental_identity(spark):
    """profiles_from_partials(merge(partials(split_i))) equals the
    one-shot entity_profiles on any split of the triple stream — the
    IVM identity the gate proves at corpus scale — including the hard
    case where the modal surface is decided only across batches."""
    from transner_spark.operators.materialize import (
        entity_profile_partials,
        entity_profiles,
        merge_profile_partials,
        profiles_from_partials,
    )

    rows = [
        # batch A: 'Anna' x1, 'anna' x1 — tie inside the batch
        ("c1", 0, "Anna", "PER", "anna", "knows", "Roma", "LOC", "roma", 0.9, "2026-01-01 00:00:00"),
        ("c1", 1, "anna", "PER", "anna", "visited", "Roma", "LOC", "roma", 0.9, "2026-01-02 00:00:00"),
        # batch B: 'Anna' again — modal only decidable after the merge
        ("c2", 0, "Anna", "PER", "anna", "knows", "Milano", "LOC", "milano", 0.9, "2026-01-03 00:00:00"),
        ("c2", 1, "Roma", "LOC", "roma", "near", "Milano", "LOC", "milano", 0.9, "2026-01-04 00:00:00"),
    ]
    t = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx long, subj_value string, subj_type string,"
        " subj_norm string, pred string, obj_value string, obj_type string,"
        " obj_norm string, confidence double, ts_s string",
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    canon = spark.createDataFrame([], "node_id string, canon_id string")

    batches = [t.where(F.col("conv_id") == c) for c in ("c1", "c2")]
    merged = merge_profile_partials(
        *[entity_profile_partials(b, canon) for b in batches]
    )
    cols = ["entity_id", "n_subj", "n_obj", "n_preds", "first_ts", "last_ts", "top_surface"]
    snap = lambda df: sorted(map(tuple, df.select(cols).collect()))  # noqa: E731
    assert snap(profiles_from_partials(merged)) == snap(entity_profiles(t, canon))
    anna = {r["entity_id"]: r for r in profiles_from_partials(merged).collect()}[
        "surface:anna"
    ]
    assert anna["top_surface"] == "Anna"  # 2x across batches beats 1x 'anna'
    # merge is idempotent-shaped: merging a single partial changes nothing
    assert snap(profiles_from_partials(merge_profile_partials(merged))) == snap(
        entity_profiles(t, canon)
    )


def test_links_incremental_equals_full(spark, annotated):
    """Continuous-ingest contract for the linking stage
    (operators/linking.link_surfaces_incremental): link a 'known' 3/4
    of the conversations, ingest the rest as a new batch, and the
    union must equal the whole-corpus recompute EXACTLY (per-surface
    purity against the static alias dim). Also pins the asymptote: the
    re-linked residual is only the batch's NEW vocabulary."""
    from transner_spark.operators.linking import link_surfaces_incremental

    t = explode_triples(annotated)
    is_new = F.pmod(F.abs(F.xxhash64("conv_id")), F.lit(4)) == F.lit(0)
    old_s = node_surfaces(t.where(~is_new))
    new_s = node_surfaces(t.where(is_new))
    known = link_surfaces(spark, old_s)
    got = link_surfaces_incremental(spark, known, new_s).toPandas()
    full = link_surfaces(spark, node_surfaces(t)).toPandas()
    assert_pdf_equal(got, full, ["norm_key"])
    # the split is non-trivial and the batch overlaps known vocabulary
    n_old, n_new = old_s.count(), new_s.count()
    assert n_old > 0 and n_new > 0
    n_fresh = new_s.join(
        known.select("norm_key"), "norm_key", "left_anti"
    ).count()
    assert n_fresh == len(full) - n_old  # only new vocabulary re-linked
