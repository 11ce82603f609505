"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import random

import pytest

from perfbench import inputs
from perfbench.trace import parse_event_log, self_times

DATA = os.path.join(os.path.dirname(__file__), "data")


def test_generators_are_deterministic_per_seed():
    a = inputs.bulk_turns(7, n_convs=30)
    assert a.equals(inputs.bulk_turns(7, n_convs=30))
    assert not a["conv_id"].isin(inputs.bulk_turns(8, n_convs=30)["conv_id"]).any()

    lt = inputs.longtail_turns(7, n_convs=30)
    assert lt.equals(inputs.longtail_turns(7, n_convs=30))
    assert not lt["text"].equals(inputs.longtail_turns(8, n_convs=30)["text"])

    docs, emb = inputs.docs_tables(7)
    docs2, emb2 = inputs.docs_tables(7)
    assert docs.equals(docs2)
    assert emb["vec_id"].equals(emb2["vec_id"])
    assert all((x == y).all() for x, y in zip(emb["embedding"], emb2["embedding"]))
    assert not docs.equals(inputs.docs_tables(8)[0])


def test_transcripts_parquet_is_byte_identical(tmp_path):
    from perfbench.inputs import write_transcripts

    df = inputs.bulk_turns(3, n_convs=5)
    for name in ("a.parquet", "b.parquet"):
        write_transcripts(df, str(tmp_path / name))
    assert (tmp_path / "a.parquet").read_bytes() == (tmp_path / "b.parquet").read_bytes()


def test_seed_offsets_keep_hot_entity_period_and_timestamp_range():
    import pandas as pd

    from transner_spark.sources.transcripts import gen_turn

    # multiples of 5: the hot entity lands on every 5th conversation
    for seed in (0, 1, 399, 400, 123456, -3):
        assert inputs.conv_offset(seed) % 5 == 0
    # the latest turn any seed generates must convert to pandas' ns range
    last = max(inputs.conv_offset(s) for s in range(inputs.SEED_SLOTS))
    ts = gen_turn(last + inputs.BULK_CONVS, inputs.TURNS_PER_CONV - 1)["ts"]
    assert pd.Timestamp(ts) < pd.Timestamp.max


def test_person_runs_become_chains():
    rng = random.Random(0)
    out = inputs.rewrite_person_runs("Mr Rossi met Mario Rossi, then Anna.", rng)
    words = out.split(" ")
    assert words[:3] == ["Mr", "Rossi", "met"]  # a bare surname is not a run
    assert out.endswith(".") and "," in out
    assert 3 + 1 + 2 + 2 <= len(words) <= 3 + 1 + 4 + 4


def _span(i, name, start, end, parent=None, run_id="r"):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent, "run_id": run_id}


def test_self_time_subtracts_covered_children():
    spans = [
        _span(0, "pipeline", 0.0, 10.0),
        _span(1, "annotate", 1.0, 4.0, parent=0),
        _span(2, "links", 3.0, 6.0, parent=0),  # overlaps annotate: union counts once
        _span(3, "edges", 8.0, 12.0, parent=0),  # runs past the parent: clipped
        _span(4, "inner", 1.5, 2.0, parent=1),
        _span(5, "pipeline", 20.0, 21.0, run_id="other"),
    ]
    own = self_times(spans)
    assert own["pipeline"] == pytest.approx(10.0 - (5.0 + 2.0) + 1.0)
    assert own["annotate"] == pytest.approx(3.0 - 0.5)
    assert own["links"] == pytest.approx(3.0)
    assert own["edges"] == pytest.approx(4.0)
    assert own["inner"] == pytest.approx(0.5)


def test_event_log_parser_on_recorded_log():
    """A traced kg_bulk run's event log cut down to the job-start and
    task-end events of three job groups, plus one failed task without
    metrics, which the parser skips."""
    groups = parse_event_log([os.path.join(DATA, "eventlog_small.json")])
    assert set(groups) == {"annotate", "links", "bookkeeping"}
    a = groups["annotate"]
    assert a["tasks"] == 5
    assert a["run_s"] == pytest.approx(21.073)
    assert a["task_cpu_s"] == pytest.approx(3.669059251)
    assert a["gc_s"] == pytest.approx(0.152)
    assert a["spill_bytes"] == 0
    links = groups["links"]
    assert links["tasks"] == 20
    assert links["shuffle_write_bytes"] == 6374336
    assert links["task_skew"] == pytest.approx(1.055129099790649)
    assert groups["bookkeeping"]["tasks"] == 5
