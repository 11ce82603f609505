"""Model-based test of the log-state commit/retention/time-travel
protocol (transner_spark/streaming/logstate.py).

The protocol layer — ``_commit``, ``expire_snapshots``,
``_resolve_asof``, ``_persist_retention`` — is pure filesystem logic
(manifests, CURRENT, METRICS.jsonl, segment dirs); only the rollup
needs Spark. So Hypothesis can drive hundreds of random
append / compact / expire / set-retention sequences against an
in-memory model in seconds and check, after every step, the invariants
the Spark-backed tests can only afford to spot-check:

- CURRENT always names the newest manifest and its batch id;
- retention is counted in BATCH units: exactly the manifests of the
  last ``retention`` DISTINCT applied batch ids survive on disk (a
  compaction commit shares its batch's slot) — never a gap, never a
  leak — and the supersede rule (offline compaction/expiry) drops
  append manifests shadowed by a newer same-batch compact manifest;
- every segment a retained manifest references exists, and no
  unreferenced segment dir survives a prune (no storage leak);
- ``_resolve_asof`` answers every batch id from the model's own
  history: the live snapshot for ids >= CURRENT's, the newest
  retained snapshot at-or-before the id otherwise, 'expired' (never
  'unknown batch') for ids whose snapshot the retention window ate,
  and 'earliest recorded commit is newer' for ids before history;
- ``expire_snapshots`` returns the exact manifest count it removed,
  is idempotent, and becomes the state's persisted policy for the
  NEXT commit's prune.

Segments are stand-in dirs (the protocol never reads their contents);
the Spark-backed value checks live in tests/test_logstate.py.
"""

from __future__ import annotations

import os

import pytest
from hypothesis import settings
from hypothesis import strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine,
    initialize,
    invariant,
    precondition,
    rule,
)

from transner_spark.streaming.logstate import (
    MANIFEST_PREFIX,
    SEGMENTS_DIR,
    _changes_segments,
    _commit,
    _manifest_seq,
    _persist_retention,
    _read_current,
    _read_manifest,
    _resolve_asof,
    _state_retention,
    expire_snapshots,
)

CK = "model-ck"


def _fake_segment(state_dir: str, rel: str) -> None:
    """The protocol treats segments as opaque dirs; a marker file is
    enough for existence checks."""
    d = os.path.join(state_dir, *rel.split("/"))
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "part-0"), "w") as fh:
        fh.write("x")


class LogStateModel(RuleBasedStateMachine):
    def __init__(self):
        super().__init__()
        import tempfile

        self._tmp = tempfile.TemporaryDirectory(prefix="logstate-model-")
        self.state_dir = self._tmp.name
        os.makedirs(os.path.join(self.state_dir, SEGMENTS_DIR), exist_ok=True)
        # model state: entries are (seq, bid, rels, action)
        self.snapshots: list[tuple[int, int, tuple[str, ...], str]] = []
        self.retained: list[tuple[int, int, tuple[str, ...], str]] = []
        self.history: list[tuple[int, str]] = []  # (bid, manifest) per commit
        self.retention = 1  # matches _state_retention default
        self.next_bid = 0

    @initialize()
    def _init(self):
        pass

    # ---- operations -------------------------------------------------

    @rule(gap=st.integers(min_value=1, max_value=3))
    def append(self, gap):
        """A micro-batch commit: prior live segments + one new segment."""
        bid = self.next_bid
        self.next_bid += gap  # gaps exercise asof between-commit ids
        live = self.retained[-1][2] if self.retained else ()
        seg = f"{SEGMENTS_DIR}/s{bid}"
        _fake_segment(self.state_dir, seg)
        rels = list(live) + [seg]
        seq = (self.snapshots[-1][0] + 1) if self.snapshots else 0
        _commit(
            self.state_dir, rels, bid, CK, seq,
            retain=None,  # resolve the state's persisted policy
            metrics={"action": "append"},
        )
        self._model_commit(seq, bid, tuple(rels), "append")

    @precondition(lambda self: self.retained)
    @rule(supersede=st.booleans())
    def compact(self, supersede):
        """A compaction commit: same batch id, one base segment.
        ``supersede=False`` mirrors the inline fold (the raw-increment
        append manifest keeps its slot-mate alive); ``supersede=True``
        mirrors offline ``compact_edge_log`` (same-batch append
        manifests reclaimed)."""
        _, bid, _, _ = self.retained[-1]
        seg = f"{SEGMENTS_DIR}/base-{bid}-{len(self.snapshots)}"
        _fake_segment(self.state_dir, seg)
        seq = self.snapshots[-1][0] + 1
        _commit(
            self.state_dir, [seg], bid, CK, seq,
            retain=None, metrics={"action": "compact"},
            supersede=supersede,
        )
        self._model_commit(seq, bid, (seg,), "compact", supersede=supersede)

    @rule(retain=st.integers(min_value=1, max_value=4))
    def set_retention(self, retain):
        """The writer's retain_snapshots knob: persists the policy; the
        prune applies at the NEXT commit (matching _stream_log_maintenance,
        which persists before committing)."""
        _persist_retention(self.state_dir, retain)
        self.retention = retain

    @rule(keep=st.integers(min_value=1, max_value=4))
    def expire(self, keep):
        want_retained = self._model_prune(self.retained, keep, supersede=True)
        expected = len(self.retained) - len(want_retained)
        got = expire_snapshots(self.state_dir, keep)
        assert got == expected, (got, expected)
        self.retention = keep
        self.retained = want_retained
        # idempotent
        assert expire_snapshots(self.state_dir, keep) == 0

    @staticmethod
    def _model_prune(entries, retain, supersede=False):
        """The retention rule _prune implements: walk newest-first,
        keep manifests whose bid is among the first ``retain`` distinct
        bids; under supersede, drop append manifests shadowed by a
        newer same-bid compact manifest."""
        retain = max(1, retain)
        seen_bids: list[int] = []
        compacted: set[int] = set()
        out = []
        for e in sorted(entries, key=lambda t: -t[0]):
            seq, bid, rels, action = e
            if bid not in seen_bids:
                if len(seen_bids) >= retain:
                    continue
                seen_bids.append(bid)
            if supersede and action == "append" and bid in compacted:
                continue
            if action == "compact":
                compacted.add(bid)
            out.append(e)
        return sorted(out)

    def _model_commit(self, seq, bid, rels, action, supersede=False):
        self.snapshots.append((seq, bid, rels, action))
        self.history.append((bid, f"{MANIFEST_PREFIX}{seq}"))
        self.retained = self._model_prune(
            self.retained + [(seq, bid, rels, action)],
            self.retention,
            supersede=supersede,
        )

    # ---- invariants --------------------------------------------------

    @invariant()
    def current_is_newest(self):
        mname, bid, ck = _read_current(self.state_dir)
        if not self.snapshots:
            assert mname is None and bid == -1
            return
        seq, want_bid, _, _ = self.snapshots[-1]
        assert _manifest_seq(mname) == seq and bid == want_bid and ck == CK

    @invariant()
    def disk_matches_model(self):
        on_disk = {
            _manifest_seq(f): f
            for f in os.listdir(self.state_dir)
            if f.startswith(MANIFEST_PREFIX) and not f.endswith(".tmp")
        }
        assert set(on_disk) == {s[0] for s in self.retained}
        live: set[str] = set()
        for seq, _, rels, _ in self.retained:
            got = tuple(_read_manifest(self.state_dir, on_disk[seq]))
            assert got == rels, (seq, got, rels)
            live.update(r.split("/")[-1] for r in rels)
        seg_root = os.path.join(self.state_dir, SEGMENTS_DIR)
        assert set(os.listdir(seg_root)) == live  # no leak, no missing
        assert not [f for f in os.listdir(self.state_dir) if f.endswith(".tmp")]

    @invariant()
    def retention_policy_persisted(self):
        assert _state_retention(self.state_dir) == self.retention

    @invariant()
    def asof_answers_from_history(self):
        if not self.snapshots:
            with pytest.raises(RuntimeError, match="no committed snapshot"):
                _resolve_asof(self.state_dir, 0)
            return
        retained_seqs = {s[0] for s in self.retained}
        cur_bid = self.snapshots[-1][1]
        first_bid = self.history[0][0]
        # probe every bid from just-before-history to just-past-current
        for q in range(first_bid - 1, cur_bid + 2):
            if q >= cur_bid:
                want = f"{MANIFEST_PREFIX}{self.snapshots[-1][0]}"
                assert _resolve_asof(self.state_dir, q) == want
                continue
            cands = [m for b, m in self.history if b <= q]
            if not cands:
                with pytest.raises(RuntimeError, match="earliest recorded"):
                    _resolve_asof(self.state_dir, q)
            elif _manifest_seq(cands[-1]) not in retained_seqs:
                with pytest.raises(RuntimeError, match="expired"):
                    _resolve_asof(self.state_dir, q)
            else:
                assert _resolve_asof(self.state_dir, q) == cands[-1]

    @invariant()
    def changelog_resolves_from_history(self):
        """_changes_segments returns exactly the window's append
        segments when they all survive, raises 'expired' when any was
        pruned, and polices the window bounds."""
        if not self.snapshots:
            with pytest.raises(RuntimeError, match="no committed snapshot"):
                _changes_segments(self.state_dir, 0)
            return
        cur_bid = self.snapshots[-1][1]
        with pytest.raises(RuntimeError, match="past the live"):
            _changes_segments(self.state_dir, 0, until_batch=cur_bid + 1)
        with pytest.raises(ValueError, match="since_batch <= until_batch"):
            _changes_segments(self.state_dir, cur_bid, until_batch=cur_bid - 1)
        alive = {r for _, _, rels, _ in self.retained for r in rels}
        append_bids = sorted(
            {b for b, _ in self.history}
        )  # appends and compactions share bids; appends own s{b}
        for since in [self.history[0][0] - 1, *append_bids]:
            want = [
                (b, f"{SEGMENTS_DIR}/s{b}")
                for b in append_bids
                if since < b <= cur_bid and self._was_append(b)
            ]
            if any(rel not in alive for _, rel in want):
                with pytest.raises(RuntimeError, match="expired raw segment"):
                    _changes_segments(self.state_dir, since)
            else:
                got = _changes_segments(self.state_dir, since)
                assert got == [rel for _, rel in want], (since, got, want)

    def _was_append(self, bid: int) -> bool:
        """Model appends create segments/s{bid}; compaction commits
        reuse the bid but never an s-segment."""
        return any(
            f"{SEGMENTS_DIR}/s{bid}" in rels for _, _, rels, _ in self.snapshots
        )

    def teardown(self):
        self._tmp.cleanup()


TestLogStateModel = LogStateModel.TestCase
TestLogStateModel.settings = settings(
    max_examples=60, stateful_step_count=25, deadline=None
)
