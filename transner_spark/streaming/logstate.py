"""Log-structured streaming edge state: O(batch) writes, merge-on-read,
amortized compaction.

A maintained KG's steady state is tiny increments against a huge table,
so the state is kept in the production pattern for that split
(Iceberg/Delta merge-on-read, LSM trees, Kafka compacted topics):

- **append**: each micro-batch writes ONLY its increment-sized edge
  segment (``segments/s{batch_id}``) — per-batch write cost is O(batch),
  independent of table size;
- **merge-on-read**: readers union the live segments and apply the same
  commutative-monoid rollup the batch gate proves
  (``merge_edge_increments``: weight sums, first/last ts bounds) — one
  hash aggregate whose input is the segment rows;
- **compaction**: when the live-segment count passes a threshold (or on
  an explicit ``compact_edge_log`` call) the segments are rolled up once
  into a single base segment, restoring O(1)-segment reads — a
  table-sized rewrite paid once per compaction, never once per batch.

Commit protocol (the filesystem mirror of a table format's snapshot +
manifest-list):

- segment dirs are named by batch id and written with
  ``mode("overwrite")``: a crash mid-write leaves an uncommitted dir
  that re-delivery simply overwrites;
- each commit writes an immutable ``MANIFEST.{n}`` (one live segment
  path per line, tmp + ``os.replace``), then atomically swings
  ``CURRENT`` — which records the manifest name, the last applied batch
  id, and the CHECKPOINT IDENTITY (see ``_checkpoint_identity``: batch
  ids are only monotone within one checkpoint's sequence, so a
  fresh/recreated checkpoint against existing state fails loud instead
  of silently dropping batches);
- superseded manifests, unreferenced segment dirs, and orphaned
  ``*.tmp`` files from crashed commits are pruned only AFTER the
  commit;
- commits are serialized by an advisory ``flock`` on
  ``state_dir/LOCK`` (held across read-CURRENT → write → swing):
  the streaming writer blocks on it, offline ``compact_edge_log``
  takes it non-blocking and fails loud if a writer is active, so a
  batch can never land between compaction's CURRENT read and its
  swing and be pruned away. Inline auto-compaction
  (``compact_every``) runs inside foreachBatch under the same lock
  hold, as a SECOND commit after the append commit (append snapshot,
  then rewrite snapshot — the Iceberg two-snapshot shape), so the raw
  increment stays referenced by a retained manifest instead of being
  orphaned by a fused fold. At warehouse scale the lock is the table
  format's atomic snapshot CAS (Iceberg commit conflict resolution).

Read path at scale: segments share one schema, so the reader is a
single multi-path parquet scan → one hash aggregate on the edge key
(map-side partials bound hot edges). Read amplification grows with the
live-segment count — exactly the LSM trade perfbench's traced
``logstate`` leg measures (write amp, segments live, commit/read
time) — and compaction is the knob.

Snapshot retention + time travel: ``retain_snapshots=k`` keeps the
snapshots of the last k DISTINCT applied batches (and every segment
they reference) through the prune — batch units, so an inline fold's
two same-batch commits cost one slot and never silently shrink
time-travel depth; the writer persists the window into the state dir
(RETENTION) so offline compaction honors it by default — and
``read_edge_log_asof`` answers "the table as of batch b" by resolving
b through the state's snapshot history (METRICS.jsonl records the
manifest per commit — the Iceberg metadata-log / ``VERSION AS OF``
pattern; retention is the ``expireSnapshots`` knob). Resolution is
newest-snapshot-≤-b; reads of expired snapshots fail loud. Since
manifests and segments are immutable, an as-of read is value-identical
to what the live read returned when that snapshot committed — pinned
by the stream_edges_log_travel gate against a corpus-prefix SQL
derivation.

Changelog (incremental) reads: ``read_edge_log_changes`` hands a
downstream incremental consumer (ANN index maintainer, serving-view
refresher, replication) the monoid DELTA of batches ``(since,
until]`` — the union-rollup of just those raw increment segments,
never a table-sized diff — the Iceberg incremental-read verb. Reads
that would need raw segments the retention window already expired fail
loud (consume more often or retain deeper), never return a silently
partial delta.
"""

from __future__ import annotations

import contextlib
import fcntl
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from transner_spark.config import PipelineConfig
from transner_spark.operators.annotate import annotate_turns
from transner_spark.sources.catalog import append_record, read_records, task_row_counts
from transner_spark.streaming.incremental import read_transcripts_stream

SEGMENTS_DIR = "segments"
MANIFEST_PREFIX = "MANIFEST."


def _checkpoint_identity(checkpoint_dir: str) -> str:
    """Stable identity of a streaming checkpoint: the query id Spark
    records in ``<checkpoint>/metadata`` at stream start.

    ``CURRENT`` records it next to the last applied batch id because
    batch ids are only monotone within one checkpoint's id sequence:
    pointing a fresh, relocated or recreated checkpoint (whose ids
    restart at 0) at an existing state dir would make the
    ``batch_id <= last_applied`` re-delivery skip silently drop
    genuinely new batches. A writer whose identity differs from the
    committed one — or that finds a legacy two-field ``CURRENT`` with
    no recorded identity, which is just as uncomparable — fails loud
    instead.

    A path digest is NOT enough: a checkpoint deleted and recreated at
    the SAME path restarts batch ids at 0 but keeps its digest, so the
    guard would silently drop new batches — exactly the failure it
    exists to make loud. The metadata query id is regenerated with the
    checkpoint, so recreation is detected. Callers resolve this from
    INSIDE foreachBatch (StreamExecution writes the file at query
    start, before the first batch); a missing/unreadable metadata there
    is itself an error worth raising. The uuid is whitespace-free —
    safe inside the CURRENT line."""
    import json as _json

    with open(os.path.join(checkpoint_dir, "metadata")) as fh:
        return str(_json.load(fh)["id"])


def _read_current(state_dir: str) -> tuple[str | None, int, str | None]:
    """(manifest name, last applied batch id, checkpoint identity) from
    the CURRENT pointer; (None, -1, None) if nothing committed. A legacy
    two-field pointer yields identity None."""
    cur = os.path.join(state_dir, "CURRENT")
    if not os.path.exists(cur):
        return None, -1, None
    with open(cur) as fh:
        fields = fh.read().split()
    vname, bid = fields[0], int(fields[1])
    ck_id = fields[2] if len(fields) > 2 else None
    return vname, bid, ck_id


@contextlib.contextmanager
def _writer_lock(state_dir: str, blocking: bool = True):
    """Advisory exclusive lock serializing commits on one state dir.
    Held across read-CURRENT → write → CURRENT swing, it makes the
    read-modify-write atomic between the streaming writer and offline
    compaction. ``blocking=False`` raises RuntimeError if a writer is
    active instead of waiting (the compaction posture: abort loud,
    never stall a live stream behind a table-sized rewrite)."""
    os.makedirs(state_dir, exist_ok=True)
    fd = os.open(os.path.join(state_dir, "LOCK"), os.O_CREAT | os.O_RDWR)
    try:
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | (0 if blocking else fcntl.LOCK_NB))
        except BlockingIOError:
            raise RuntimeError(
                f"state dir {state_dir!r} has an active writer holding "
                "LOCK — rerun compaction when the stream is idle."
            )
        yield
    finally:
        os.close(fd)  # releases the flock


def _abs_seg(state_dir: str, rel: str) -> str:
    """Manifest entries use '/' regardless of platform; join portably."""
    return os.path.join(state_dir, *rel.split("/"))


def _read_manifest(state_dir: str, manifest_name: str) -> list[str]:
    """Live segment paths (relative to state_dir), in commit order.
    ``#``-prefixed lines are the manifest's self-describing header
    (batch id + action, see ``_manifest_meta``), not segments."""
    with open(os.path.join(state_dir, manifest_name)) as fh:
        return [
            line.strip()
            for line in fh
            if line.strip() and not line.startswith("#")
        ]


def _manifest_meta(state_dir: str, manifest_name: str) -> tuple[int, str]:
    """(batch_id, action) from the manifest's header line
    (``#batch=<bid> action=<append|compact>``). The header makes each
    snapshot self-describing so the prune can count retention in BATCH
    units without consulting (and re-scanning) the unbounded
    METRICS.jsonl on every commit. A manifest without one was not
    written by ``_commit``: fail loud rather than guess its batch."""
    with open(os.path.join(state_dir, manifest_name)) as fh:
        first = fh.readline().strip()
    fields = dict(
        kv.split("=", 1) for kv in first.lstrip("#").split() if "=" in kv
    )
    try:
        return int(fields["batch"]), fields["action"]
    except (KeyError, ValueError):
        raise RuntimeError(
            f"manifest {manifest_name!r} in {state_dir!r} has no "
            "'#batch=<bid> action=<...>' header"
        ) from None


def log_segments(state_dir: str) -> tuple[list[str], int]:
    """Resolve the live snapshot of a log-structured state dir
    (monoid-agnostic — edge states and profile-partials states share the
    layout): (absolute segment paths, last applied batch id), or
    ([], -1) if no commit yet. Readers go through this instead of
    assuming a layout."""
    manifest, bid, _ = _read_current(state_dir)
    if manifest is None:
        return [], -1
    rels = _read_manifest(state_dir, manifest)
    return [_abs_seg(state_dir, r) for r in rels], bid


def _read_log(spark: SparkSession, state_dir: str, rollup) -> DataFrame | None:
    """Merge-on-read: union the live segments and apply the state's
    rollup monoid (one multi-path scan + one hash aggregate). Returns
    None if nothing has committed."""
    segs, _ = log_segments(state_dir)
    if not segs:
        return None
    return rollup(spark.read.parquet(*segs))


def read_edge_log(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Merge-on-read over an edge-state dir via the edge monoid. The
    result is the whole maintained edge table — the stream_edges_log_eq
    gate checks it against the whole-corpus SQL derivation."""
    from transner_spark.operators.materialize import merge_edge_increments

    return _read_log(spark, state_dir, merge_edge_increments)


def read_profile_partials_log(
    spark: SparkSession, state_dir: str
) -> DataFrame | None:
    """Merge-on-read over a profile-partials state dir via the partial
    monoid (operators/materialize.merge_profile_partials); feed the
    result to ``profiles_from_partials`` for the serving view. Gate:
    stream_profiles_log_eq."""
    from transner_spark.operators.materialize import merge_profile_partials

    return _read_log(spark, state_dir, merge_profile_partials)


def _resolve_asof(state_dir: str, batch_id: int) -> str:
    """Resolve a batch id to the manifest of the newest retained
    snapshot whose last applied batch is ≤ ``batch_id`` — Iceberg
    ``VERSION AS OF`` semantics over the state's own snapshot history
    (METRICS.jsonl records one ``manifest`` per commit; CURRENT stays
    authoritative for the live snapshot). Fails loud when the resolved
    snapshot has been expired by the retention window instead of
    silently answering from a different snapshot."""
    cur_manifest, cur_bid, _ = _read_current(state_dir)
    if cur_manifest is None:
        raise RuntimeError(f"state dir {state_dir!r} has no committed snapshot")
    if batch_id >= cur_bid:
        return cur_manifest
    try:
        records = read_records(state_dir)
    except FileNotFoundError:
        raise RuntimeError(
            f"state dir {state_dir!r} predates snapshot history "
            "(no METRICS.jsonl) — time travel needs states written by "
            "this module version."
        ) from None
    best: dict | None = None
    for rec in records:
        if "manifest" in rec and rec["batch_id"] <= batch_id:
            best = rec  # commit order == file order; last wins
    if best is None:
        raise RuntimeError(
            f"no snapshot at or before batch {batch_id} in {state_dir!r} "
            f"(earliest recorded commit is newer)."
        )
    mname = best["manifest"]
    if not os.path.exists(os.path.join(state_dir, mname)):
        raise RuntimeError(
            f"snapshot {mname} (batch {best['batch_id']}) has been "
            f"expired by the retention window — rerun the writer with a "
            "larger retain_snapshots to keep history this deep."
        )
    return mname


def _read_log_asof(
    spark: SparkSession, state_dir: str, rollup, batch_id: int
) -> DataFrame:
    """Merge-on-read pinned to a retained snapshot: union the segments
    of the as-of manifest and apply the state's rollup monoid. The
    result equals what ``_read_log`` returned when that snapshot was
    live — the read path never depends on which commits happened
    later (segments and manifests are immutable; retention only
    controls how long they survive)."""
    mname = _resolve_asof(state_dir, batch_id)
    rels = _read_manifest(state_dir, mname)
    for r in rels:
        if not os.path.exists(_abs_seg(state_dir, r)):
            raise RuntimeError(
                f"snapshot {mname} references expired segment {r!r} — "
                "retention window too small for this read."
            )
    return rollup(spark.read.parquet(*(_abs_seg(state_dir, r) for r in rels)))


def read_edge_log_asof(
    spark: SparkSession, state_dir: str, batch_id: int
) -> DataFrame:
    """Time-travel read of a maintained edge state: the edge table as of
    the snapshot committed for ``batch_id`` (or the newest one before
    it). The stream_edges_log_travel gate pins this against the DuckDB
    edge derivation restricted to the conversations of the first k
    micro-batches."""
    from transner_spark.operators.materialize import merge_edge_increments

    return _read_log_asof(spark, state_dir, merge_edge_increments, batch_id)


def _changes_segments(
    state_dir: str, since_batch: int, until_batch: int | None = None
) -> list[str]:
    """Resolve a changelog read to raw increment segments: the segment
    of every applied batch b with ``since_batch < b <= until_batch``
    (None = the live batch), in batch order, as state_dir-relative
    paths. This is the Iceberg incremental-read verb over the state's
    own snapshot history: METRICS.jsonl names each append commit's
    segment, and the read fails LOUD when

    - ``until_batch`` is past the live snapshot (nothing committed to
      answer from),
    - a required raw segment has been expired (compaction folded it and
      the retention window has passed its append snapshot) — the fix is
      a deeper ``retain_snapshots`` or a more frequent consumer, never
      a silently partial delta.

    Duplicate history lines from a crash-redelivered batch are harmless
    (same segment name, set-deduped)."""
    _, cur_bid, _ = _read_current(state_dir)
    if cur_bid < 0:
        raise RuntimeError(f"state dir {state_dir!r} has no committed snapshot")
    until = cur_bid if until_batch is None else until_batch
    if until > cur_bid:
        raise RuntimeError(
            f"changelog read until batch {until} is past the live "
            f"snapshot (batch {cur_bid}) in {state_dir!r}"
        )
    if since_batch > until:
        raise ValueError(
            f"changelog read needs since_batch <= until_batch "
            f"(got {since_batch} > {until})"
        )
    try:
        records = read_records(state_dir)
    except FileNotFoundError:
        raise RuntimeError(
            f"state dir {state_dir!r} predates snapshot history "
            "(no METRICS.jsonl) — changelog reads need states written "
            "by this module version."
        ) from None
    by_bid: dict[int, str] = {}
    for rec in records:
        if rec.get("action") == "append" and (
            since_batch < rec["batch_id"] <= until
        ):
            by_bid[rec["batch_id"]] = rec.get(
                "segment", f"{SEGMENTS_DIR}/s{rec['batch_id']}"
            )
    missing = [
        (b, r)
        for b, r in sorted(by_bid.items())
        if not os.path.exists(_abs_seg(state_dir, r))
    ]
    if missing:
        raise RuntimeError(
            f"changelog read ({since_batch}, {until}] on {state_dir!r} "
            f"needs expired raw segment(s) "
            f"{[r for _, r in missing]} — compaction folded them and "
            "retention let their append snapshots go. Keep a deeper "
            "retain_snapshots or consume the changelog more often."
        )
    return [by_bid[b] for b in sorted(by_bid)]


def _read_log_changes(
    spark: SparkSession,
    state_dir: str,
    rollup,
    since_batch: int,
    until_batch: int | None = None,
) -> DataFrame | None:
    """The monoid DELTA between two retained snapshots: union the raw
    increment segments of the batches in ``(since, until]`` and roll
    them up. By the merge monoid's associativity,
    ``rollup(asof(since) ∪ changes(since, until)) == asof(until)`` —
    pinned by tests/test_logstate.py. Returns None for an empty range
    (no batches applied in the window). This is what a downstream
    incremental consumer (ANN index maintainer, serving-view refresher)
    reads instead of diffing two table-sized snapshots."""
    rels = _changes_segments(state_dir, since_batch, until_batch)
    if not rels:
        return None
    return rollup(
        spark.read.parquet(*(_abs_seg(state_dir, r) for r in rels))
    )


def read_edge_log_changes(
    spark: SparkSession,
    state_dir: str,
    since_batch: int,
    until_batch: int | None = None,
) -> DataFrame | None:
    """Changelog read of a maintained edge state: the edge-increment
    delta contributed by batches in ``(since_batch, until_batch]`` —
    itself a valid increment table (merge it into any downstream copy
    with ``merge_edge_increments``). Gate ``stream_edges_log_travel``
    pins it against the DuckDB edge derivation restricted to those
    batches' conversations."""
    from transner_spark.operators.materialize import merge_edge_increments

    return _read_log_changes(
        spark, state_dir, merge_edge_increments, since_batch, until_batch
    )


def _persist_retention(state_dir: str, retain: int) -> None:
    """Record the snapshot-retention window in the state dir itself
    (RETENTION, tmp + atomic replace) so the policy is a property of
    the STATE, not of whichever process happens to call next: offline
    compaction resolves its prune window from here by default instead
    of silently expiring history a stream paid to keep."""
    tmp = os.path.join(state_dir, f"RETENTION.{os.getpid()}.tmp")
    with open(tmp, "w") as fh:
        fh.write(str(int(retain)))
    os.replace(tmp, os.path.join(state_dir, "RETENTION"))


def _state_retention(state_dir: str) -> int:
    """The state's persisted retention window (1 — keep only the live
    snapshot — when nothing was ever persisted)."""
    try:
        with open(os.path.join(state_dir, "RETENTION")) as fh:
            return max(1, int(fh.read().strip()))
    except FileNotFoundError:
        return 1


def _commit(
    state_dir: str,
    segment_rels: list[str],
    batch_id: int,
    ck_identity: str,
    manifest_seq: int,
    retain: int | None = None,
    metrics: dict | None = None,
    supersede: bool = False,
) -> str:
    """Write an immutable manifest (with a self-describing
    ``#batch=<bid> action=<...>`` header), append the
    snapshot-history/metrics line, then atomically swing CURRENT; prune
    via ``_prune`` after the commit. Caller holds ``_writer_lock``, so
    no other commit's in-flight tmp can exist during the prune.

    The history line is the commit record (``sources/catalog``'s
    METRICS.jsonl, never pruned): batch id, action, manifest, live
    segments, rows appended/compacted/physically written. Since each
    line names its manifest, it doubles as the snapshot index
    ``_resolve_asof`` time-travels through. It goes in BEFORE the swing
    so every committed snapshot is guaranteed a line (a re-delivered
    batch skips before re-committing, so a post-swing append could lose
    its line forever in a crash window and leave as-of reads of that
    batch silently answering from the previous snapshot). The converse
    crash — line written, swing never happened — leaves a GHOST line
    for an uncommitted batch, which is unreachable: ``_resolve_asof``
    answers any ``batch_id >= CURRENT``'s from CURRENT itself, and
    re-delivery rewrites the same manifest name with identical content
    before appending a (harmless, last-wins) duplicate line.

    ``retain`` is the snapshot-retention window in BATCH units: the
    snapshots of the last ``retain`` DISTINCT applied batch ids survive
    the prune, along with every segment any of them references — so
    ``read_*_log_asof`` can time-travel to any of the last ``retain``
    batches, including across a compaction. An inline fold's two
    commits share a batch id and therefore consume ONE retention slot
    (a fold never silently shrinks time-travel depth), and the fold's
    append manifest keeps the raw increment alive for changelog reads
    while its batch stays in the window. ``retain=None`` resolves the
    state's persisted policy (RETENTION file; 1 — only the live batch —
    if never set). This is the table-format snapshot-expiry knob
    (Iceberg ``expireSnapshots``). ``supersede=True`` is the explicit
    maintenance posture (offline compaction): append manifests shadowed
    by a newer same-batch compact manifest are dropped even inside the
    window — value-identical by the merge monoid, so time travel loses
    nothing; only the raw changelog unit is reclaimed. Returns the
    committed manifest's name."""
    if retain is None:
        retain = _state_retention(state_dir)
    action = (metrics or {}).get("action", "append")
    mname = f"{MANIFEST_PREFIX}{manifest_seq}"
    tmp = os.path.join(state_dir, f"{mname}.{os.getpid()}.tmp")
    with open(tmp, "w") as fh:
        fh.write(f"#batch={batch_id} action={action}\n")
        fh.write("\n".join(segment_rels) + "\n")
    os.replace(tmp, os.path.join(state_dir, mname))
    if metrics is not None:
        append_record(
            state_dir, {**metrics, "batch_id": batch_id, "manifest": mname}
        )
    tmp = os.path.join(state_dir, f"CURRENT.{os.getpid()}.tmp")
    with open(tmp, "w") as fh:
        fh.write(f"{mname} {batch_id} {ck_identity}")
    os.replace(tmp, os.path.join(state_dir, "CURRENT"))
    _prune(state_dir, retain, supersede=supersede)
    return mname


def _prune(state_dir: str, retain: int, supersede: bool = False) -> int:
    """The single snapshot-expiry implementation behind both
    ``_commit`` and ``expire_snapshots`` (review r4: the two copies had
    already diverged on ``*.tmp`` cleanup). Retention is counted in
    BATCH units: walking manifests newest-first, a manifest survives iff
    its batch id is among the first ``retain`` distinct batch ids
    encountered — so an inline fold's append+compact pair costs one slot
    and ``retain=k`` always means "the last k applied batches stay
    time-travelable".

    ``supersede=True`` (offline compaction / ``expire_snapshots``)
    additionally drops append manifests shadowed by a NEWER compact
    manifest of the same batch: the two read value-identically (monoid),
    so this reclaims the raw increment segments without shrinking as-of
    coverage — the explicit storage-reclaim verb. The streaming writer
    never passes it: an automatic fold must not expire changelog units
    the user's retention window is paying for.

    Also removes every crash-orphaned ``*.tmp`` and every segment dir no
    surviving manifest references. Returns the number of manifests
    removed. Caller holds ``_writer_lock``."""
    entries = sorted(
        (
            f
            for f in os.listdir(state_dir)
            if f.startswith(MANIFEST_PREFIX) and not f.endswith(".tmp")
        ),
        key=_manifest_seq,
        reverse=True,
    )
    retain = max(1, retain)
    seen_bids: list[int] = []
    compacted_bids: set[int] = set()
    keep: list[str] = []
    drop: list[str] = []
    for f in entries:
        bid, action = _manifest_meta(state_dir, f)
        is_compact = action == "compact"
        if bid not in seen_bids:
            if len(seen_bids) >= retain:
                drop.append(f)
                continue
            seen_bids.append(bid)
        if supersede and not is_compact and bid in compacted_bids:
            drop.append(f)
            continue
        if is_compact:
            compacted_bids.add(bid)
        keep.append(f)
    live: set[str] = set()
    for f in keep:
        live.update(r.split("/")[-1] for r in _read_manifest(state_dir, f))
    seg_root = os.path.join(state_dir, SEGMENTS_DIR)
    if os.path.isdir(seg_root):
        for d in os.listdir(seg_root):
            if d not in live:
                shutil.rmtree(os.path.join(seg_root, d), ignore_errors=True)
    for f in drop:
        os.remove(os.path.join(state_dir, f))
    for f in os.listdir(state_dir):
        if f.endswith(".tmp"):
            os.remove(os.path.join(state_dir, f))
    return len(drop)


def _manifest_seq(manifest_name: str | None) -> int:
    return -1 if manifest_name is None else int(manifest_name.removeprefix(MANIFEST_PREFIX))


def _compact_log(
    spark: SparkSession, state_dir: str, rollup, retain: int | None = None
) -> int:
    """Offline compaction: roll the live segments up into one base
    segment and commit a one-entry manifest. Returns the number of
    segments compacted away (0 = nothing to do). The rollup is the same
    monoid as the read path, so reads before and after are
    value-identical (pinned by tests/test_logstate.py).

    Concurrency: takes ``_writer_lock`` NON-blocking for the whole
    read-CURRENT → rollup-write → swing — an active streaming writer
    makes this raise immediately (never stall a live stream behind a
    table-sized rewrite), and while compaction holds the lock no batch
    can commit between its CURRENT read and its swing, so a concurrent
    batch can never be pruned away."""
    with _writer_lock(state_dir, blocking=False):
        manifest, bid, ck = _read_current(state_dir)
        if manifest is None:
            return 0
        rels = _read_manifest(state_dir, manifest)
        if len(rels) <= 1:
            return 0
        merged = _read_log(spark, state_dir, rollup)
        base_rel = f"{SEGMENTS_DIR}/base-{bid}"
        merged.write.mode("overwrite").parquet(_abs_seg(state_dir, base_rel))
        # defense in depth beyond the flock (review r4): a writer that
        # does not honor the lock (older module version, or a filesystem
        # where flock is advisory-only across hosts) would otherwise have
        # its batch silently pruned — re-check CURRENT and fail loud.
        manifest2, bid2, _ = _read_current(state_dir)
        if (manifest2, bid2) != (manifest, bid):
            raise RuntimeError(
                f"compaction on {state_dir!r} lost a race despite the "
                f"writer lock (CURRENT {manifest} b{bid} -> {manifest2} "
                f"b{bid2}): a non-lock-honoring writer is active — "
                "compaction aborted, no state was changed."
            )
        n_base = sum(task_row_counts(_abs_seg(state_dir, base_rel)).values())
        _commit(
            state_dir,
            [base_rel],
            bid,
            ck or "",
            _manifest_seq(manifest) + 1,
            retain=retain,
            metrics={
                "action": "compact",
                "segments_in": len(rels),
                "segments_live": 1,
                "rows_compacted": n_base,
                "rows_written": n_base,
            },
            # the explicit maintenance verb reclaims the same-batch
            # append manifest it just superseded (value-identical read)
            supersede=True,
        )
        return len(rels)


def expire_snapshots(state_dir: str, keep: int) -> int:
    """Offline snapshot expiry — the Iceberg ``expireSnapshots`` verb:
    shrink the state's retained history to the last ``keep`` BATCHES,
    persist ``keep`` as the new retention policy, and prune every
    manifest (and segment only expired manifests reference) outside the
    window — including append manifests a newer same-batch compaction
    superseded (``_prune(supersede=True)``: value-identical reads, so
    only raw changelog units are reclaimed, never as-of coverage inside
    the window). Storage reclaim for states whose time-travel depth can
    relax after a backfill. Takes the writer lock non-blocking (same
    posture as compaction: never stall a live stream). Returns the
    number of manifests expired. METRICS.jsonl is never pruned — the
    audit trail outlives the snapshots it describes, so expired as-of
    reads keep failing with the precise 'expired' error rather than
    'unknown batch'."""
    if keep < 1:
        raise ValueError("expire_snapshots needs keep >= 1")
    with _writer_lock(state_dir, blocking=False):
        _persist_retention(state_dir, keep)  # policy even when empty
        manifest, _, _ = _read_current(state_dir)
        if manifest is None:
            return 0
        return _prune(state_dir, keep, supersede=True)


def compact_edge_log(
    spark: SparkSession, state_dir: str, retain_snapshots: int | None = None
) -> int:
    """Offline compaction of an edge-state dir (see ``_compact_log``).
    ``retain_snapshots=None`` (the default) honors the retention window
    the stream persisted into the state dir (RETENTION), so a plain
    maintenance call can never expire history the stream was paying to
    keep; pass an explicit value only to deliberately override the
    state's policy."""
    from transner_spark.operators.materialize import merge_edge_increments

    return _compact_log(
        spark, state_dir, merge_edge_increments, retain=retain_snapshots
    )


def compact_profile_partials_log(
    spark: SparkSession, state_dir: str, retain_snapshots: int | None = None
) -> int:
    """Offline compaction of a profile-partials state dir (see
    ``_compact_log`` and ``compact_edge_log`` on retention)."""
    from transner_spark.operators.materialize import merge_profile_partials

    return _compact_log(
        spark, state_dir, merge_profile_partials, retain=retain_snapshots
    )


def _stream_log_maintenance(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    make_increment,
    rollup,
    cfg: PipelineConfig | None,
    max_files_per_trigger: int,
    await_termination: bool,
    compact_every: int | None,
    op_name: str,
    retain_snapshots: int = 1,
):
    """Generic log-structured maintenance runner: any maintained state
    whose increment is a per-batch derivation
    (``make_increment(batch, batch_id)`` — the id lets a derivation
    version its own side state, e.g. the full pipeline's link table)
    and whose merge is a commutative monoid (``rollup(union_of_parts)``)
    gets O(batch) appends, merge-on-read, inline compaction at
    ``compact_every`` live segments, the manifest/CURRENT atomic commit,
    the writer lock, and the checkpoint-identity guard — the same
    substrate serves the edge table, the entity-profile partials, and
    the full-chain pipeline state."""

    def append_batch(batch_df: DataFrame, batch_id: int) -> None:
        ck_identity = _checkpoint_identity(checkpoint_dir)
        with _writer_lock(state_dir):
            manifest, last_applied, state_ck = _read_current(state_dir)
            if manifest is not None and state_ck != ck_identity:
                raise RuntimeError(
                    f"{op_name}: state dir {state_dir!r} "
                    f"was built by a different checkpoint (or one with no "
                    f"recorded identity; state {state_ck}, this query "
                    f"{ck_identity}). Batch ids are not comparable across "
                    "checkpoints — reuse the original checkpoint_dir or "
                    "start a fresh state_dir."
                )
            if batch_id <= last_applied:
                return  # re-delivered batch: already committed
            sess = batch_df.sparkSession
            _persist_retention(state_dir, retain_snapshots)
            inc = make_increment(batch_df, batch_id)
            seg_rel = f"{SEGMENTS_DIR}/s{batch_id}"
            inc.write.mode("overwrite").parquet(_abs_seg(state_dir, seg_rel))
            # footer counts, no Spark job; taken BEFORE _commit, whose
            # prune may expire the raw segment once the retention window
            # passes a compaction
            n_inc = sum(task_row_counts(_abs_seg(state_dir, seg_rel)).values())
            rels = (
                _read_manifest(state_dir, manifest) if manifest else []
            ) + [seg_rel]
            _commit(
                state_dir,
                rels,
                batch_id,
                ck_identity,
                _manifest_seq(manifest) + 1,
                retain=retain_snapshots,
                metrics={
                    "action": "append",
                    "segment": seg_rel,  # the changelog unit (_read_log_changes)
                    "segments_live": len(rels),
                    "rows_appended": n_inc,
                    "rows_written": n_inc,
                },
            )
            if compact_every is not None and len(rels) >= compact_every:
                # a SECOND commit for the fold (append snapshot, then
                # rewrite snapshot — the Iceberg two-snapshot shape, and
                # the same METRICS lines the offline path writes). The
                # raw increment stays referenced by the append manifest
                # — and since retention counts BATCHES, the pair costs
                # one slot, keeping the increment changelog-readable
                # while its batch is in the window; a fused commit
                # would orphan it immediately. Crash between the two commits: the batch
                # is durably applied (re-delivery skips), and the fold
                # simply re-triggers on the next batch's live count.
                merged = rollup(
                    sess.read.parquet(
                        *(_abs_seg(state_dir, r) for r in rels)
                    )
                )
                base_rel = f"{SEGMENTS_DIR}/base-{batch_id}"
                merged.write.mode("overwrite").parquet(
                    _abs_seg(state_dir, base_rel)
                )
                n_base = sum(
                    task_row_counts(_abs_seg(state_dir, base_rel)).values()
                )
                _commit(
                    state_dir,
                    [base_rel],
                    batch_id,
                    ck_identity,
                    _manifest_seq(manifest) + 2,
                    retain=retain_snapshots,
                    metrics={
                        "action": "compact",
                        "segments_in": len(rels),
                        "segments_live": 1,
                        "rows_compacted": n_base,
                        "rows_written": n_base,
                    },
                )

    q = (
        annotate_turns(
            read_transcripts_stream(spark, input_dir, max_files_per_trigger), cfg
        )
        .writeStream.foreachBatch(append_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


def stream_edge_increments_log(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    canon: DataFrame,
    cfg: PipelineConfig | None = None,
    max_files_per_trigger: int = 1,
    await_termination: bool = True,
    compact_every: int | None = None,
    retain_snapshots: int = 1,
):
    """Streaming KG maintenance: each micro-batch of new transcripts is
    annotated, rolled up to an edge increment (operators/materialize),
    and APPENDED as a segment — per-batch write cost is the increment,
    never the accumulated table; ``read_edge_log`` merges the segments
    with the ``merge_edge_increments`` monoid the batch gate proves.
    ``compact_every=k`` compacts inline whenever the live-segment count
    would reach k (the LSM flush knob; None = never, compaction is then
    an offline ``compact_edge_log`` call).

    The canonical map is a parameter: it refreshes on a slower cadence
    than the edge increments (the two-speed design documented on
    ``merge_edge_increments``); a canon refresh triggers a one-off batch
    re-resolution, not a streaming change. A state dir is bound to the
    checkpoint that built it — see ``_checkpoint_identity`` for the
    guard."""
    from transner_spark.operators.annotate import explode_triples
    from transner_spark.operators.materialize import (
        materialize_edges,
        merge_edge_increments,
    )

    return _stream_log_maintenance(
        spark,
        input_dir,
        state_dir,
        checkpoint_dir,
        make_increment=lambda b, _bid: materialize_edges(explode_triples(b), canon),
        rollup=merge_edge_increments,
        cfg=cfg,
        max_files_per_trigger=max_files_per_trigger,
        await_termination=await_termination,
        compact_every=compact_every,
        op_name="stream_edge_increments_log",
        retain_snapshots=retain_snapshots,
    )


def stream_profile_partials_log(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    canon: DataFrame,
    cfg: PipelineConfig | None = None,
    max_files_per_trigger: int = 1,
    await_termination: bool = True,
    compact_every: int | None = None,
    retain_snapshots: int = 1,
):
    """Streaming maintenance of the entity-profile SERVING VIEW on the
    same log substrate: each micro-batch becomes a
    per-(entity, pred, surface) partials increment
    (operators/materialize.entity_profile_partials — the key that makes
    the view's pred-distinct and modal-surface aggregates distributive),
    appended as a segment and merged on read with the partial monoid.
    ``profiles_from_partials(read_profile_partials_log(...))`` re-derives
    the EXACT one-shot view — the stream_profiles_log_eq gate pins that
    against the full-recompute SQL oracle. State is bounded by the
    observed (entity, pred, surface) vocabulary, not the corpus."""
    from transner_spark.operators.annotate import explode_triples
    from transner_spark.operators.materialize import (
        entity_profile_partials,
        merge_profile_partials,
    )

    return _stream_log_maintenance(
        spark,
        input_dir,
        state_dir,
        checkpoint_dir,
        make_increment=lambda b, _bid: entity_profile_partials(
            explode_triples(b), canon
        ),
        rollup=merge_profile_partials,
        cfg=cfg,
        max_files_per_trigger=max_files_per_trigger,
        await_termination=await_termination,
        compact_every=compact_every,
        op_name="stream_profile_partials_log",
        retain_snapshots=retain_snapshots,
    )


# ---------------------------------------------------------- full chain

LINKS_DIR = "links"


def _links_version_path(state_dir: str, batch_id: int) -> str:
    return os.path.join(state_dir, LINKS_DIR, f"v{batch_id}")


def _live_link_versions(state_dir: str, last_applied: int) -> list[int]:
    """Committed link-version ids (<= last applied batch), ascending —
    the ONE definition of committed-ness shared by the pruner and the
    as-of reader. Fails loud (RuntimeError, with remediation) when the
    state has no links/ directory at all — e.g. an edge-only substrate
    built by stream_edge_increments_log."""
    links_dir = os.path.join(state_dir, LINKS_DIR)
    if not os.path.isdir(links_dir):
        raise RuntimeError(
            f"state dir {state_dir!r} has no link state ({LINKS_DIR}/) — "
            "full-chain readers need a state built by stream_pipeline_log."
        )
    return sorted(
        int(d[1:])
        for d in os.listdir(links_dir)
        if d.startswith("v") and d[1:].isdigit() and int(d[1:]) <= last_applied
    )


def read_pipeline_links(spark: SparkSession, state_dir: str) -> DataFrame:
    """The maintained link table at the last COMMITTED batch (resolved
    from the edge log's CURRENT pointer — the link snapshot and the edge
    commit advance together, so an uncommitted crash remnant is never
    served)."""
    _, last_applied, _ = _read_current(state_dir)
    if last_applied < 0:
        raise ValueError(f"no committed pipeline state in {state_dir!r}")
    if last_applied not in _live_link_versions(state_dir, last_applied):
        raise RuntimeError(
            f"link version v{last_applied} is missing from {state_dir!r} "
            f"although the edge log committed batch {last_applied} — the "
            "link state was deleted outside the writer and cannot be "
            "recovered from the edge log; rebuild it by rerunning "
            "stream_pipeline_log into a fresh state and checkpoint dir."
        )
    return spark.read.parquet(_links_version_path(state_dir, last_applied))


def read_pipeline_edges(spark: SparkSession, state_dir: str) -> DataFrame:
    """Serve the full-chain pipeline state: merge-on-read over the edge
    log, then ``reresolve_edges`` through the canonical map refreshed
    from the maintained link table — the slow speed of the two-speed
    design, executed at read time. Increments were resolved under each
    batch's then-current map; because the link graph only GROWS under
    continuous ingest (linking is per-surface against a static alias
    dictionary), every later map is a coarsening of every earlier one,
    which is exactly ``reresolve_edges``' correctness precondition — so
    the served table equals the whole-corpus batch derivation
    (value-pinned by the stream_pipeline_e2e gate)."""
    from transner_spark.operators.canonicalize import canonicalize
    from transner_spark.operators.materialize import reresolve_edges

    edges = read_edge_log(spark, state_dir)
    canon = canonicalize(read_pipeline_links(spark, state_dir))
    return reresolve_edges(edges, canon)


def read_pipeline_links_asof(
    spark: SparkSession, state_dir: str, batch_id: int
) -> DataFrame:
    """The maintained link table AS OF ``batch_id`` (newest committed
    version ≤ it — the same newest-≤-b semantics as the edge log's
    snapshot resolution). Fails loud when the version has been pruned by
    the retention window, never answers from a different batch's
    vocabulary."""
    _, last_applied, _ = _read_current(state_dir)
    if last_applied < 0:
        raise RuntimeError(f"no committed pipeline state in {state_dir!r}")
    live = _live_link_versions(state_dir, last_applied)
    eligible = [b for b in live if b <= batch_id]
    if not eligible:
        raise RuntimeError(
            f"no link version at or before batch {batch_id} in "
            f"{state_dir!r} — it has been pruned by the retention "
            "window; rerun the writer with a larger retain_snapshots "
            "to keep history this deep."
        )
    return spark.read.parquet(_links_version_path(state_dir, max(eligible)))


def read_pipeline_edges_asof(
    spark: SparkSession, state_dir: str, batch_id: int
) -> DataFrame:
    """Time travel over the FULL pipeline state: the edge log AS OF
    ``batch_id`` re-resolved through the canon map refreshed from the
    link table AS OF the same batch — edges and linking state stay
    mutually consistent at every retained point in history (link
    versions are pruned in step with edge-snapshot retention), so the
    as-of read equals what ``read_pipeline_edges`` returned when that
    batch was live."""
    from transner_spark.operators.canonicalize import canonicalize
    from transner_spark.operators.materialize import reresolve_edges

    edges = read_edge_log_asof(spark, state_dir, batch_id)
    canon = canonicalize(read_pipeline_links_asof(spark, state_dir, batch_id))
    return reresolve_edges(edges, canon)


def stream_pipeline_log(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    cfg: PipelineConfig | None = None,
    max_files_per_trigger: int = 1,
    await_termination: bool = True,
    compact_every: int | None = None,
    retain_snapshots: int = 1,
):
    """FULL-chain continuous ingestion — the end-to-end streaming twin
    of the batch pipeline, with NOTHING precomputed: each micro-batch is
    annotated (the same fused mapInPandas NER), exploded to triples, its
    NEW vocabulary linked incrementally against the maintained link
    table (``link_surfaces_incremental`` — per-batch linking cost is
    O(new vocabulary), and under a Zipfian surface distribution a
    steady-state batch contributes almost none), the canonical map
    refreshed from the maintained LINK TABLE (closed-form star over
    links — never a corpus pass), and the batch's edge increment
    resolved under that batch-time map and APPENDED as an
    increment-sized segment on the log substrate (O(batch) writes,
    inline compaction, atomic manifest commits, checkpoint-identity
    guard — all inherited from ``_stream_log_maintenance``).

    Link-table snapshots version alongside the edge log
    (``links/v{batch_id}``): the previous committed version resolves
    from the edge log's own last-applied batch id inside the SAME
    writer-lock hold, so a crash after the link write but before the
    edge commit leaves only an unreferenced ``links/v{b}`` dir that
    re-delivery overwrites — link state and edge state can never commit
    out of step. Superseded link versions (older than the previous
    committed one) are pruned in the same pass.

    Serving is ``read_pipeline_edges``: merge-on-read + re-resolution
    through the CURRENT map (see its docstring for why batch-time maps
    are safely stale). The stream_pipeline_e2e gate pins the whole chain
    against the golden-free full-pipeline SQL re-derivation."""
    from transner_spark.operators.annotate import explode_triples
    from transner_spark.operators.canonicalize import canonicalize
    from transner_spark.operators.linking import (
        link_surfaces,
        link_surfaces_incremental,
        node_surfaces,
    )
    from transner_spark.operators.materialize import (
        materialize_edges,
        merge_edge_increments,
    )

    def make_increment(batch_df: DataFrame, batch_id: int) -> DataFrame:
        sess = batch_df.sparkSession
        _, last_applied, _ = _read_current(state_dir)
        # triples feed both the linking residual and the edge rollup —
        # pin them so the NER stage runs once per batch, not twice
        triples = explode_triples(batch_df).localCheckpoint()
        surfaces = node_surfaces(triples)
        if last_applied >= 0:
            links = link_surfaces_incremental(
                sess,
                sess.read.parquet(
                    _links_version_path(state_dir, last_applied)
                ),
                surfaces,
                cfg,
            )
        else:
            links = link_surfaces(sess, surfaces, cfg)
        links_path = _links_version_path(state_dir, batch_id)
        links.write.mode("overwrite").parquet(links_path)
        # prune link versions in step with the edge log's snapshot
        # retention: keep the newest ``retain_snapshots`` COMMITTED
        # versions (ids <= last_applied — they pair with the retained
        # edge snapshots for as-of reads) plus this in-flight one.
        # Readers holding a lazy plan across more than the retention
        # window fail loud on the missing file — the same contract as
        # expired edge-log snapshots (review r5 finding 1).
        # max(1, retain): the edge substrate's _prune clamps the same
        # way — retain_snapshots=0 must never delete v{last_applied}
        # while it is still the committed recovery/serving version
        # (review r5b finding 1)
        links_dir = os.path.join(state_dir, LINKS_DIR)
        committed = list(
            reversed(_live_link_versions(state_dir, last_applied))
        )
        keep = {
            f"v{b}" for b in committed[: max(1, retain_snapshots)]
        } | {f"v{batch_id}"}
        for d in os.listdir(links_dir):
            if d.startswith("v") and d not in keep:
                shutil.rmtree(os.path.join(links_dir, d), ignore_errors=True)
        canon = canonicalize(sess.read.parquet(links_path))
        return materialize_edges(triples, canon)

    return _stream_log_maintenance(
        spark,
        input_dir,
        state_dir,
        checkpoint_dir,
        make_increment=make_increment,
        rollup=merge_edge_increments,
        cfg=cfg,
        max_files_per_trigger=max_files_per_trigger,
        await_termination=await_termination,
        compact_every=compact_every,
        op_name="stream_pipeline_log",
        retain_snapshots=retain_snapshots,
    )
