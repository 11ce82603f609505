"""Log-structured streaming edge state (streaming/logstate.py):
O(batch) segment appends, merge-on-read equality with the batch rollup,
amortized compaction, and the crash/checkpoint-identity guarantees of
the manifest + CURRENT commit protocol."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def log_dirs(tmp_path):
    d = {k: str(tmp_path / k) for k in ("in", "state", "cp", "cp2")}
    os.makedirs(d["in"])
    return d


def _write_batch(spark, tiny_pdf, in_dir: str, lo: int, hi: int, name: str):
    from transner_spark.streaming.incremental import TRANSCRIPT_SCHEMA

    part = tiny_pdf[(tiny_pdf["turn_idx"] >= lo) & (tiny_pdf["turn_idx"] < hi)]
    spark.createDataFrame(part, schema=TRANSCRIPT_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(os.path.join(in_dir, name))


def _canon(spark, tiny_df):
    from transner_spark.operators.annotate import annotate_turns, explode_triples
    from transner_spark.operators.canonicalize import canonicalize
    from transner_spark.operators.linking import link_surfaces, node_surfaces

    t_all = explode_triples(annotate_turns(tiny_df))
    return canonicalize(link_surfaces(spark, node_surfaces(t_all)))


def _snap(df):
    cols = ["subj_id", "pred", "obj_id", "weight", "first_ts", "last_ts"]
    return sorted(map(tuple, df.select(cols).collect()))


def _batch_edges(tiny_df, canon, lo, hi):
    from transner_spark.operators.annotate import annotate_turns, explode_triples
    from transner_spark.operators.materialize import materialize_edges

    part = tiny_df.where((F.col("turn_idx") >= lo) & (F.col("turn_idx") < hi))
    return materialize_edges(explode_triples(annotate_turns(part)), canon)


def test_log_state_merge_on_read_equals_batch(spark, tiny_pdf, tiny_df, log_dirs):
    """Appended segments merged on read equal the whole-corpus rollup
    after every arrival; a rerun with no new files is a no-op; and the
    per-batch write is increment-sized — the live segments' TOTAL row
    count equals the sum of the increments, not batches x table."""
    from transner_spark.streaming.logstate import (
        log_segments,
        read_edge_log,
        stream_edge_increments_log,
    )

    d = log_dirs
    canon = _canon(spark, tiny_df)

    _write_batch(spark, tiny_pdf, d["in"], 0, 3, "b0")
    stream_edge_increments_log(spark, d["in"] + "/*", d["state"], d["cp"], canon)
    assert _snap(read_edge_log(spark, d["state"])) == _snap(
        _batch_edges(tiny_df, canon, 0, 3)
    )

    before = _snap(read_edge_log(spark, d["state"]))
    stream_edge_increments_log(spark, d["in"] + "/*", d["state"], d["cp"], canon)
    assert _snap(read_edge_log(spark, d["state"])) == before

    _write_batch(spark, tiny_pdf, d["in"], 3, 5, "b1")
    stream_edge_increments_log(spark, d["in"] + "/*", d["state"], d["cp"], canon)
    assert _snap(read_edge_log(spark, d["state"])) == _snap(
        _batch_edges(tiny_df, canon, 0, 5)
    )

    # O(batch) writes: two live segments, and their combined stored rows
    # equal the two increments' rows (a full-table rewrite per commit
    # would have stored increment-1's edges a second time in commit 2)
    segs, last = log_segments(d["state"])
    assert len(segs) == 2 and last >= 1
    stored = sum(spark.read.parquet(s).count() for s in segs)
    want = (
        _batch_edges(tiny_df, canon, 0, 3).count()
        + _batch_edges(tiny_df, canon, 3, 5).count()
    )
    assert stored == want


def test_log_state_compaction_offline_and_inline(
    spark, tiny_pdf, tiny_df, log_dirs
):
    """compact_edge_log rolls live segments into one base segment with
    value-identical reads and is idempotent; compact_every triggers the
    same rollup inline inside the batch commit."""
    from transner_spark.streaming.logstate import (
        compact_edge_log,
        log_segments,
        read_edge_log,
        stream_edge_increments_log,
    )

    d = log_dirs
    canon = _canon(spark, tiny_df)
    _write_batch(spark, tiny_pdf, d["in"], 0, 3, "b0")
    _write_batch(spark, tiny_pdf, d["in"], 3, 5, "b1")
    stream_edge_increments_log(spark, d["in"] + "/*", d["state"], d["cp"], canon)
    segs, last = log_segments(d["state"])
    assert len(segs) == 2
    before = _snap(read_edge_log(spark, d["state"]))

    assert compact_edge_log(spark, d["state"]) == 2
    segs2, last2 = log_segments(d["state"])
    assert len(segs2) == 1 and os.path.basename(segs2[0]).startswith("base-")
    assert last2 == last  # compaction never moves the batch cursor
    assert _snap(read_edge_log(spark, d["state"])) == before
    assert compact_edge_log(spark, d["state"]) == 0  # idempotent

    # stale segments/manifests pruned after the commit
    seg_names = os.listdir(os.path.join(d["state"], "segments"))
    assert seg_names == [os.path.basename(segs2[0])]
    manifests = [f for f in os.listdir(d["state"]) if f.startswith("MANIFEST.")]
    assert len(manifests) == 1

    # lineage/metrics sidecar: one line per commit (2 appends + 1
    # compaction), rows_written matching what each commit put on disk
    import json

    with open(os.path.join(d["state"], "METRICS.jsonl")) as fh:
        metrics = [json.loads(line) for line in fh]
    assert [m["action"] for m in metrics] == ["append", "append", "compact"]
    assert [m["batch_id"] for m in metrics] == [0, 1, 1]
    n_final = spark.read.parquet(segs2[0]).count()
    assert metrics[-1]["rows_written"] == n_final
    assert metrics[-1]["rows_compacted"] == n_final
    assert metrics[-1]["segments_in"] == 2
    assert all(m["rows_written"] > 0 for m in metrics)
    # every commit names its manifest (the snapshot index time travel
    # resolves through), and appends record their increment size
    assert all("manifest" in m for m in metrics)
    assert all(
        m["rows_appended"] == m["rows_written"]
        for m in metrics
        if m["action"] == "append"
    )

    # inline auto-compaction: a fresh state with compact_every=2 lands
    # on one base segment and the same merged value
    state2 = d["state"] + "_inline"
    stream_edge_increments_log(
        spark, d["in"] + "/*", state2, d["cp2"], canon, compact_every=2
    )
    segs3, _ = log_segments(state2)
    assert len(segs3) == 1 and os.path.basename(segs3[0]).startswith("base-")
    assert _snap(read_edge_log(spark, state2)) == before

    # the inline fold is a SECOND commit (append snapshot, then rewrite
    # snapshot — the Iceberg two-snapshot shape, identical METRICS lines
    # to the offline path), so the write-amp fact for the folding batch
    # is the sum of its two lines, and the raw increment stays
    # referenced by the retained append manifest instead of being
    # orphaned by a fused commit
    with open(os.path.join(state2, "METRICS.jsonl")) as fh:
        m2 = [json.loads(line) for line in fh]
    assert [m["action"] for m in m2] == ["append", "append", "compact"]
    assert [m["batch_id"] for m in m2] == [0, 1, 1]
    ac = m2[-1]
    n_base2 = spark.read.parquet(segs3[0]).count()
    assert ac["segments_in"] == 2
    assert ac["rows_compacted"] == n_base2
    assert ac["rows_written"] == n_base2
    assert m2[1]["rows_written"] == m2[1]["rows_appended"]
    # every append commit names its changelog unit
    assert all("segment" in m for m in m2 if m["action"] == "append")


def test_log_commits_count_rows_without_a_spark_job(
    spark, tiny_pdf, tiny_df, log_dirs, monkeypatch
):
    """An append commit and an inline compaction take the rows they
    wrote from the parquet footers: between a segment's write and its
    commit no Spark job runs."""
    from pyspark.sql.readwriter import DataFrameWriter

    from transner_spark.streaming import logstate

    d = log_dirs
    canon = _canon(spark, tiny_df)
    _write_batch(spark, tiny_pdf, d["in"], 0, 3, "b0")
    _write_batch(spark, tiny_pdf, d["in"], 3, 5, "b1")

    sc = spark.sparkContext
    group = "log_commit_" + os.path.basename(os.path.dirname(d["state"]))
    control = group + "_control"
    stream_groups, actions = [], []
    write, commit = DataFrameWriter.parquet, logstate._commit

    def state_write(self, path, *a, **k):
        write(self, path, *a, **k)
        if str(path).startswith(d["state"]):
            stream_groups.append(sc.getLocalProperty("spark.jobGroup.id"))
            if len(stream_groups) == 1:  # control: a job here is seen
                sc.setJobGroup(control, control)
                spark.range(3).count()
            sc.setJobGroup(group, group)

    def grouped_commit(*a, **k):
        sc.setLocalProperty("spark.jobGroup.id", stream_groups[-1])
        actions.append(k["metrics"]["action"])
        return commit(*a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", state_write)
    monkeypatch.setattr(logstate, "_commit", grouped_commit)
    logstate.stream_edge_increments_log(
        spark, d["in"] + "/*", d["state"], d["cp"], canon, compact_every=2
    )
    assert actions == ["append", "append", "compact"]
    assert list(sc.statusTracker().getJobIdsForGroup(control))
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_writer_lock_blocks_compaction_and_tmp_orphans_are_pruned(
    spark, tiny_pdf, tiny_df, log_dirs
):
    """The advisory writer lock actually excludes: compaction taken
    while another writer holds LOCK fails loud (non-blocking posture),
    and a crash-orphaned commit tmp file is swept by the next commit."""
    import fcntl

    from transner_spark.streaming.logstate import (
        compact_edge_log,
        read_edge_log,
        stream_edge_increments_log,
    )

    d = log_dirs
    canon = _canon(spark, tiny_df)
    _write_batch(spark, tiny_pdf, d["in"], 0, 3, "b0")
    _write_batch(spark, tiny_pdf, d["in"], 3, 5, "b1")
    stream_edge_increments_log(spark, d["in"] + "/*", d["state"], d["cp"], canon)
    before = _snap(read_edge_log(spark, d["state"]))

    # a second open file description of LOCK conflicts under flock even
    # in-process — the stand-in for a concurrent writer
    fd = os.open(os.path.join(d["state"], "LOCK"), os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        with pytest.raises(RuntimeError, match="active writer"):
            compact_edge_log(spark, d["state"])
    finally:
        os.close(fd)  # releases the conflicting lock
    assert _snap(read_edge_log(spark, d["state"])) == before  # untouched

    # crash-orphaned commit tmp: swept by the next successful commit
    orphan = os.path.join(d["state"], "MANIFEST.99.12345.tmp")
    with open(orphan, "w") as fh:
        fh.write("junk")
    assert compact_edge_log(spark, d["state"]) == 2
    assert not os.path.exists(orphan)
    assert _snap(read_edge_log(spark, d["state"])) == before


def test_log_substrate_generalizes_to_profile_partials(
    spark, tiny_pdf, tiny_df, log_dirs
):
    """The same log substrate maintaining a different monoid: profile
    partials appended per batch, merged on read, re-deriving the EXACT
    one-shot serving view; offline compaction preserves the value."""
    from transner_spark.operators.annotate import annotate_turns, explode_triples
    from transner_spark.operators.materialize import (
        entity_profiles,
        profiles_from_partials,
    )
    from transner_spark.streaming.logstate import (
        compact_profile_partials_log,
        log_segments,
        read_profile_partials_log,
        stream_profile_partials_log,
    )

    d = log_dirs
    canon = _canon(spark, tiny_df)
    _write_batch(spark, tiny_pdf, d["in"], 0, 3, "b0")
    _write_batch(spark, tiny_pdf, d["in"], 3, 5, "b1")
    stream_profile_partials_log(
        spark, d["in"] + "/*", d["state"], d["cp"], canon
    )
    assert len(log_segments(d["state"])[0]) == 2

    def view_snap(df):
        cols = [
            "entity_id", "n_subj", "n_obj", "n_preds",
            "first_ts", "last_ts", "top_surface",
        ]
        return sorted(map(tuple, df.select(cols).collect()))

    maintained = profiles_from_partials(
        read_profile_partials_log(spark, d["state"])
    )
    whole = entity_profiles(explode_triples(annotate_turns(tiny_df)), canon)
    assert view_snap(maintained) == view_snap(whole)

    assert compact_profile_partials_log(spark, d["state"]) == 2
    assert view_snap(
        profiles_from_partials(read_profile_partials_log(spark, d["state"]))
    ) == view_snap(whole)


def test_log_state_checkpoint_identity_guard(spark, tiny_pdf, tiny_df, log_dirs):
    """A different (or recreated) checkpoint against existing state —
    or a legacy two-field CURRENT with no recorded identity — raises
    instead of silently dropping batches, and the committed state is
    untouched."""
    import shutil

    from transner_spark.streaming.logstate import (
        log_segments,
        stream_edge_increments_log,
    )

    d = log_dirs
    canon = _canon(spark, tiny_df)
    _write_batch(spark, tiny_pdf, d["in"], 0, 3, "b0")
    stream_edge_increments_log(spark, d["in"] + "/*", d["state"], d["cp"], canon)
    committed = log_segments(d["state"])

    _write_batch(spark, tiny_pdf, d["in"], 3, 5, "b1")
    with pytest.raises(Exception, match="different checkpoint"):
        stream_edge_increments_log(
            spark, d["in"] + "/*", d["state"], d["cp2"], canon
        )
    assert log_segments(d["state"]) == committed

    # a LEGACY two-field CURRENT (no recorded identity) is just as
    # uncomparable: rewrite the pointer without its identity field and
    # expect the same loud failure even under the ORIGINAL checkpoint
    cur = os.path.join(d["state"], "CURRENT")
    with open(cur) as fh:
        current_line = fh.read()
    with open(cur, "w") as fh:
        fh.write(" ".join(current_line.split()[:2]))
    with pytest.raises(Exception, match="different checkpoint"):
        stream_edge_increments_log(
            spark, d["in"] + "/*", d["state"], d["cp"], canon
        )
    assert log_segments(d["state"]) == committed
    with open(cur, "w") as fh:
        fh.write(current_line)

    # recreated-at-same-path checkpoint: ids restart, identity differs
    shutil.rmtree(d["cp"])
    with pytest.raises(Exception, match="different checkpoint"):
        stream_edge_increments_log(
            spark, d["in"] + "/*", d["state"], d["cp"], canon
        )
    assert log_segments(d["state"]) == committed


def test_log_state_time_travel(spark, tiny_pdf, tiny_df, log_dirs):
    """Snapshot retention + as-of reads: with retain_snapshots=k the
    last k manifests (and the segments they reference) survive pruning,
    and read_edge_log_asof(b) re-derives exactly the table the live read
    returned when batch b committed — including ACROSS a compaction
    (pre-compaction manifests keep their raw segments alive). Resolution
    is newest-snapshot-<=-b; expired snapshots fail loud."""
    from transner_spark.streaming.logstate import (
        read_edge_log,
        read_edge_log_asof,
        stream_edge_increments_log,
    )

    d = log_dirs
    canon = _canon(spark, tiny_df)

    # three sequential batches, retention deep enough to keep them all
    live_at = {}
    for bid, (lo, hi) in enumerate([(0, 2), (2, 4), (4, 6)]):
        _write_batch(spark, tiny_pdf, d["in"], lo, hi, f"b{bid}")
        stream_edge_increments_log(
            spark, d["in"] + "/*", d["state"], d["cp"], canon,
            retain_snapshots=8,
        )
        live_at[bid] = _snap(read_edge_log(spark, d["state"]))

    for bid, (lo, hi) in enumerate([(0, 2), (0, 4), (0, 6)]):
        got = _snap(read_edge_log_asof(spark, d["state"], bid))
        assert got == live_at[bid]
        assert got == _snap(_batch_edges(tiny_df, canon, 0, hi))

    # newest-<=-b semantics: asking past the live batch answers live
    assert _snap(read_edge_log_asof(spark, d["state"], 99)) == live_at[2]
    # asking before the first commit fails loud
    with pytest.raises(RuntimeError, match="at or before"):
        read_edge_log_asof(spark, d["state"], -1)

    # offline compaction with NO explicit retention honors the window
    # the stream persisted (RETENTION) — a plain maintenance call can
    # never expire history the stream was keeping
    from transner_spark.streaming.logstate import compact_edge_log

    assert compact_edge_log(spark, d["state"]) == 3
    for bid in (0, 1, 2):
        assert _snap(read_edge_log_asof(spark, d["state"], bid)) == live_at[bid]


def test_log_state_time_travel_across_compaction(
    spark, tiny_pdf, tiny_df, log_dirs
):
    """Inline compaction folds the live manifest but retention keeps the
    pre-compaction snapshots' raw segments: as-of reads before the
    compaction point still answer, and the default retain=1 expires
    history with a loud error."""
    from transner_spark.streaming.logstate import (
        read_edge_log,
        read_edge_log_asof,
        stream_edge_increments_log,
    )

    d = log_dirs
    canon = _canon(spark, tiny_df)
    live_at = {}
    for bid, (lo, hi) in enumerate([(0, 2), (2, 4), (4, 6)]):
        _write_batch(spark, tiny_pdf, d["in"], lo, hi, f"b{bid}")
        stream_edge_increments_log(
            spark, d["in"] + "/*", d["state"], d["cp"], canon,
            compact_every=3, retain_snapshots=8,
        )
        live_at[bid] = _snap(read_edge_log(spark, d["state"]))

    # batch 2's commit compacted (3 live segments -> base); snapshots
    # 0 and 1 still resolve through their retained raw segments
    segs = os.listdir(os.path.join(d["state"], "segments"))
    assert any(s.startswith("base-") for s in segs)
    for bid in (0, 1, 2):
        assert _snap(read_edge_log_asof(spark, d["state"], bid)) == live_at[bid]

    # default retention (=1) on a fresh state expires history: the
    # as-of resolution finds the snapshot in METRICS but its manifest
    # is gone -> loud error, never a silently-wrong answer
    state2, cp2 = d["state"] + "_r1", d["cp"] + "_r1"
    in2 = d["in"] + "_r1"
    os.makedirs(in2)
    for bid, (lo, hi) in enumerate([(0, 2), (2, 4)]):
        _write_batch(spark, tiny_pdf, in2, lo, hi, f"b{bid}")
        stream_edge_increments_log(spark, in2 + "/*", state2, cp2, canon)
    with pytest.raises(RuntimeError, match="expired"):
        read_edge_log_asof(spark, state2, 0)
    # ...but the live snapshot always answers (CURRENT-authoritative)
    assert _snap(read_edge_log_asof(spark, state2, 1)) == _snap(
        read_edge_log(spark, state2)
    )


def test_expire_snapshots_reclaims_history(spark, tiny_pdf, tiny_df, log_dirs):
    """Offline snapshot expiry (the Iceberg ``expireSnapshots`` verb):
    shrinks retained history to the last ``keep`` snapshots, physically
    reclaims segments only expired manifests reference, persists
    ``keep`` as the state's new retention policy, and leaves expired
    as-of reads failing LOUD (METRICS survives, so the error names the
    expiry, never 'unknown batch')."""
    from transner_spark.streaming.logstate import (
        compact_edge_log,
        expire_snapshots,
        read_edge_log,
        read_edge_log_asof,
        stream_edge_increments_log,
    )

    d = log_dirs
    canon = _canon(spark, tiny_df)

    # empty state: nothing to expire, no error
    assert expire_snapshots(d["state"], keep=1) == 0
    with pytest.raises(ValueError, match="keep >= 1"):
        expire_snapshots(d["state"], keep=0)

    live_at = {}
    for bid, (lo, hi) in enumerate([(0, 2), (2, 4), (4, 6)]):
        _write_batch(spark, tiny_pdf, d["in"], lo, hi, f"b{bid}")
        stream_edge_increments_log(
            spark, d["in"] + "/*", d["state"], d["cp"], canon,
            retain_snapshots=8,
        )
        live_at[bid] = _snap(read_edge_log(spark, d["state"]))

    # compact (retention deep: pre-compaction raw segments of EARLIER
    # batches stay alive for time travel; the explicit maintenance verb
    # supersedes the same-batch append manifest it just folded — its
    # read is value-identical, so only batch 2's raw changelog unit is
    # reclaimed, never as-of coverage)
    assert compact_edge_log(spark, d["state"]) == 3
    seg_root = os.path.join(d["state"], "segments")
    segs_after_compact = set(os.listdir(seg_root))
    assert {"s0", "s1"} <= segs_after_compact
    assert "s2" not in segs_after_compact  # superseded by base-2
    for bid in (0, 1, 2):
        assert _snap(read_edge_log_asof(spark, d["state"], bid)) == live_at[bid]

    # expire down to the live batch only: the two earlier batches'
    # manifests expired (the compact pair for batch 2 already collapsed
    # to one), the raw segments (referenced by nothing live) physically
    # reclaimed, the base segment kept
    assert expire_snapshots(d["state"], keep=1) == 2
    segs = set(os.listdir(seg_root))
    assert not ({"s0", "s1", "s2"} & segs) and any(
        s.startswith("base-") for s in segs
    )
    manifests = [f for f in os.listdir(d["state"]) if f.startswith("MANIFEST.")]
    assert len(manifests) == 1

    # live read is untouched; expired history fails loud with the
    # precise 'expired' diagnosis (METRICS.jsonl outlives the snapshots)
    assert _snap(read_edge_log(spark, d["state"])) == live_at[2]
    assert _snap(read_edge_log_asof(spark, d["state"], 2)) == live_at[2]
    with pytest.raises(RuntimeError, match="expired"):
        read_edge_log_asof(spark, d["state"], 0)

    # keep became the state's policy: the next commit prunes at 1, so
    # history stays shallow without re-passing retain_snapshots
    with open(os.path.join(d["state"], "RETENTION")) as fh:
        assert fh.read().strip() == "1"
    # idempotent: nothing further to expire
    assert expire_snapshots(d["state"], keep=1) == 0


def test_changelog_reads_are_the_monoid_delta(
    spark, tiny_pdf, tiny_df, log_dirs
):
    """Changelog (incremental-consumption) reads: ``(since, until]``
    returns exactly the batches-in-window increment rollup;
    merge(asof(since) ∪ changes) == asof(until) (the monoid identity a
    downstream consumer relies on); the delta survives a compaction
    point while retention holds the append snapshots; and a read whose
    raw segments retention expired fails LOUD, never partially."""
    from transner_spark.operators.materialize import merge_edge_increments
    from transner_spark.streaming.logstate import (
        read_edge_log_asof,
        read_edge_log_changes,
        stream_edge_increments_log,
    )

    d = log_dirs
    canon = _canon(spark, tiny_df)
    bounds = [(0, 2), (2, 4), (4, 6)]
    for bid, (lo, hi) in enumerate(bounds):
        _write_batch(spark, tiny_pdf, d["in"], lo, hi, f"b{bid}")
        stream_edge_increments_log(
            spark, d["in"] + "/*", d["state"], d["cp"], canon,
            compact_every=3, retain_snapshots=8,
        )

    # (0, 2] = increments of batches 1 and 2, across the batch-2
    # compaction point (the raw s2 lives because the append snapshot is
    # retained); equals the direct rollup of those turns' edges
    got = _snap(read_edge_log_changes(spark, d["state"], since_batch=0))
    assert got == _snap(_batch_edges(tiny_df, canon, 2, 6))
    # explicit until: (0, 1]
    assert _snap(
        read_edge_log_changes(spark, d["state"], 0, until_batch=1)
    ) == _snap(_batch_edges(tiny_df, canon, 2, 4))

    # the consumer identity: asof(0) merged with changes(0, 2] == asof(2)
    merged = merge_edge_increments(
        read_edge_log_asof(spark, d["state"], 0).unionByName(
            read_edge_log_changes(spark, d["state"], 0)
        )
    )
    assert _snap(merged) == _snap(read_edge_log_asof(spark, d["state"], 2))

    # empty window -> None; bad windows fail loud
    assert read_edge_log_changes(spark, d["state"], 2) is None
    with pytest.raises(RuntimeError, match="past the live"):
        read_edge_log_changes(spark, d["state"], 0, until_batch=99)
    with pytest.raises(ValueError, match="since_batch <= until_batch"):
        read_edge_log_changes(spark, d["state"], 3, until_batch=1)

    # default retention (=1, batch units): a fold's append+compact pair
    # shares one slot, so the folding batch's raw segment survives the
    # fold itself — but once the NEXT batch commits, the older batches
    # leave the window, their raw segments die, and the changelog says
    # so loudly instead of returning a partial delta
    state2, cp2, in2 = d["state"] + "_r1", d["cp"] + "_r1", d["in"] + "_r1"
    os.makedirs(in2)
    for bid, (lo, hi) in enumerate(bounds + [(0, 2)]):
        _write_batch(spark, tiny_pdf, in2, lo, hi, f"b{bid}")
        stream_edge_increments_log(
            spark, in2 + "/*", state2, cp2, canon, compact_every=3
        )
    with pytest.raises(RuntimeError, match="expired raw segment"):
        read_edge_log_changes(spark, state2, 0)


def test_stream_pipeline_log_equals_batch(spark, tiny_pdf, tiny_df, log_dirs):
    """Full-chain continuous ingestion (stream_pipeline_log): three
    arrivals with NOTHING precomputed — incremental NER + incremental
    linking + per-batch canon + log appends — served through
    read_pipeline_edges (merge-on-read + final-canon re-resolution) must
    equal the one-shot batch derivation over everything ingested so far;
    link state keeps only the last two committed versions; a no-new-file
    rerun changes nothing."""
    from transner_spark.streaming.logstate import (
        LINKS_DIR,
        _read_current,
        read_pipeline_edges,
        read_pipeline_links,
        stream_pipeline_log,
    )

    boundaries = [(0, 2, "b0"), (2, 4, "b1"), (4, 6, "b2")]
    for lo, hi, name in boundaries:
        _write_batch(spark, tiny_pdf, log_dirs["in"], lo, hi, name)
        stream_pipeline_log(
            spark, log_dirs["in"] + "/*", log_dirs["state"], log_dirs["cp"],
            compact_every=3,
        )
        ingested = tiny_df.where(F.col("turn_idx") < hi)
        # batch twin over the SAME prefix: full links → canon → edges
        canon = _canon(spark, ingested)
        want = _snap(_batch_edges(tiny_df, canon, 0, hi))
        got = _snap(read_pipeline_edges(spark, log_dirs["state"]))
        assert got == want, f"prefix {name} diverged"

    # link-state hygiene: only the previous + current versions survive
    _, last_applied, _ = _read_current(log_dirs["state"])
    live = sorted(os.listdir(os.path.join(log_dirs["state"], LINKS_DIR)))
    assert live == [f"v{last_applied - 1}", f"v{last_applied}"]
    # the maintained link table equals the full recompute (values)
    from transner_spark.operators.annotate import annotate_turns, explode_triples
    from transner_spark.operators.linking import link_surfaces, node_surfaces

    full_links = link_surfaces(
        spark, node_surfaces(explode_triples(annotate_turns(tiny_df)))
    )
    key = lambda df: sorted(  # noqa: E731
        map(tuple, df.select("norm_key", "entity_key", "method").collect())
    )
    assert key(read_pipeline_links(spark, log_dirs["state"])) == key(full_links)

    # idempotence: rerun with no new files is a committed no-op
    before = _snap(read_pipeline_edges(spark, log_dirs["state"]))
    stream_pipeline_log(
        spark, log_dirs["in"] + "/*", log_dirs["state"], log_dirs["cp"],
        compact_every=3,
    )
    assert _snap(read_pipeline_edges(spark, log_dirs["state"])) == before


def test_stream_pipeline_log_link_retention(spark, tiny_pdf, tiny_df, log_dirs):
    """Link-version pruning follows the edge log's snapshot retention:
    with retain_snapshots=2, the newest two committed link versions
    survive (they pair with the retained edge snapshots for as-of
    reads) plus nothing else."""
    from transner_spark.streaming.logstate import LINKS_DIR, stream_pipeline_log

    for lo, hi, name in [(0, 2, "b0"), (2, 3, "b1"), (3, 4, "b2"), (4, 5, "b3")]:
        _write_batch(spark, tiny_pdf, log_dirs["in"], lo, hi, name)
        stream_pipeline_log(
            spark, log_dirs["in"] + "/*", log_dirs["state"], log_dirs["cp"],
            retain_snapshots=2,
        )
    live = sorted(os.listdir(os.path.join(log_dirs["state"], LINKS_DIR)))
    assert live == ["v1", "v2", "v3"]  # newest 2 committed + current

    # full-chain time travel: AS OF batch 2 = the batch derivation over
    # the first three arrivals (turn_idx < 4), with the canon map from
    # the SAME point in history
    from transner_spark.streaming.logstate import read_pipeline_edges_asof

    prefix = tiny_df.where(F.col("turn_idx") < 4)
    want = _snap(_batch_edges(tiny_df, _canon(spark, prefix), 0, 4))
    got = _snap(read_pipeline_edges_asof(spark, log_dirs["state"], 2))
    assert got == want
    # pruned history fails loud, never answers from another batch
    with pytest.raises(RuntimeError, match="retention window"):
        read_pipeline_edges_asof(spark, log_dirs["state"], 0).collect()


def test_stream_pipeline_log_fresh_checkpoint_fails_loud(
    spark, tiny_pdf, log_dirs
):
    """The inherited checkpoint-identity guard holds for the full-chain
    runner: pointing a NEW checkpoint at existing pipeline state raises
    instead of silently dropping batches."""
    from transner_spark.streaming.logstate import stream_pipeline_log

    _write_batch(spark, tiny_pdf, log_dirs["in"], 0, 3, "b0")
    stream_pipeline_log(
        spark, log_dirs["in"] + "/*", log_dirs["state"], log_dirs["cp"]
    )
    _write_batch(spark, tiny_pdf, log_dirs["in"], 3, 5, "b1")
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(
        (RuntimeError, StreamingQueryException), match="different checkpoint"
    ):
        stream_pipeline_log(
            spark, log_dirs["in"] + "/*", log_dirs["state"], log_dirs["cp2"]
        )


def test_read_pipeline_links_missing_version_fails_loud(spark, tiny_pdf, log_dirs):
    """A links/ dir that lacks the committed batch's version (deleted
    outside the writer) raises the curated error with its remediation,
    not a bare path-not-found from the parquet reader."""
    import shutil

    from transner_spark.streaming.logstate import (
        _links_version_path,
        _read_current,
        read_pipeline_links,
        stream_pipeline_log,
    )

    _write_batch(spark, tiny_pdf, log_dirs["in"], 0, 3, "b0")
    stream_pipeline_log(
        spark, log_dirs["in"] + "/*", log_dirs["state"], log_dirs["cp"]
    )
    _, last_applied, _ = _read_current(log_dirs["state"])
    assert read_pipeline_links(spark, log_dirs["state"]).count() > 0
    shutil.rmtree(_links_version_path(log_dirs["state"], last_applied))
    with pytest.raises(RuntimeError, match=f"v{last_applied} is missing.*rebuild"):
        read_pipeline_links(spark, log_dirs["state"])


def test_stream_pipeline_log_crash_between_link_write_and_edge_commit(
    spark, tiny_pdf, tiny_df, log_dirs, monkeypatch
):
    """Lockstep crash: batch 1's edge commit raises after ``links/v1`` is
    written. The committed state stays at batch 0 — the edge log's last
    applied batch is 0 and ``read_pipeline_links`` serves ``v0``, never
    the uncommitted ``v1`` — and re-delivering batch 1 through the same
    checkpoint converges to the one-shot batch derivation."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from transner_spark.streaming import logstate

    state, cp, src = log_dirs["state"], log_dirs["cp"], log_dirs["in"] + "/*"

    def links(df):
        return sorted(
            map(tuple, df.select("norm_key", "entity_key", "method").collect())
        )

    _write_batch(spark, tiny_pdf, log_dirs["in"], 0, 2, "b0")
    logstate.stream_pipeline_log(spark, src, state, cp)
    links_v0 = links(logstate.read_pipeline_links(spark, state))

    real_commit = logstate._commit

    def crash_on_batch_1(state_dir, segment_rels, batch_id, *args, **kwargs):
        if batch_id == 1:
            raise RuntimeError("injected crash before the edge commit")
        return real_commit(state_dir, segment_rels, batch_id, *args, **kwargs)

    monkeypatch.setattr(logstate, "_commit", crash_on_batch_1)
    _write_batch(spark, tiny_pdf, log_dirs["in"], 2, 4, "b1")
    with pytest.raises(
        (RuntimeError, StreamingQueryException), match="injected crash"
    ):
        logstate.stream_pipeline_log(spark, src, state, cp)

    v1 = logstate._links_version_path(state, 1)
    assert os.path.isdir(v1)  # the link write happened before the crash
    assert links(spark.read.parquet(v1)) != links_v0  # batch 1 adds vocabulary
    assert logstate._read_current(state)[1] == 0
    assert links(logstate.read_pipeline_links(spark, state)) == links_v0

    monkeypatch.setattr(logstate, "_commit", real_commit)
    logstate.stream_pipeline_log(spark, src, state, cp)
    assert logstate._read_current(state)[1] == 1
    canon = _canon(spark, tiny_df.where(F.col("turn_idx") < 4))
    want = _snap(_batch_edges(tiny_df, canon, 0, 4))
    assert _snap(logstate.read_pipeline_edges(spark, state)) == want
