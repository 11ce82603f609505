"""BENCH.md writers in bench.py (no Spark): ``upsert_section`` owns exactly
its own marker block, and the scaling report's marker sweep
(``_write_bench_md``) carries that block over byte-for-byte."""

from __future__ import annotations

import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def bench(tmp_path, monkeypatch):
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    monkeypatch.setattr(mod, "BENCH_MD", str(tmp_path / "BENCH.md"))
    return mod


def _read(bench) -> str:
    with open(bench.BENCH_MD) as f:
        return f.read()


def test_upsert_section_replaces_only_its_block(bench):
    other = "<!-- OTHER:BEGIN -->\nkeep | me\n<!-- OTHER:END -->"
    with open(bench.BENCH_MD, "w") as f:
        f.write(
            "# head\n\n<!-- TWO_HOP_GUARD:BEGIN -->\nold body\n"
            f"<!-- TWO_HOP_GUARD:END -->\n\n{other}\ntail\n"
        )
    bench.upsert_section("TWO_HOP_GUARD", "new body\n| a | b |")
    assert _read(bench) == (
        "# head\n\n<!-- TWO_HOP_GUARD:BEGIN -->\nnew body\n| a | b |\n"
        f"<!-- TWO_HOP_GUARD:END -->\n\n{other}\ntail\n"
    )


def test_upsert_section_appends_missing_block(bench):
    bench.upsert_section("SKEW_JOIN", "first")  # no file yet
    assert _read(bench) == "\n\n<!-- SKEW_JOIN:BEGIN -->\nfirst\n<!-- SKEW_JOIN:END -->\n"
    with open(bench.BENCH_MD, "w") as f:
        f.write("# head\n\n\n")
    bench.upsert_section("SKEW_JOIN", "body")
    assert _read(bench) == (
        "# head\n\n<!-- SKEW_JOIN:BEGIN -->\nbody\n<!-- SKEW_JOIN:END -->\n"
    )


def test_scaling_report_keeps_upserted_block_verbatim(bench):
    body = "## Two-hop\n\n| guard | rows |\n| --- | --- |\n| off | 20180 |"
    bench.upsert_section("TWO_HOP_GUARD", body)
    block = _read(bench).strip("\n")
    level = {
        "turns": 10,
        "total": 1.0,
        "turns_per_sec": 10.0,
        "triples_per_sec": 5.0,
        "timings": {"annotate": 1.0},
        "rss": {"annotate": 100.0},
    }
    levels = {n: level for n in bench.SCALING_LEVELS}
    effs = {pair: 1.0 for pair in bench.SCALING_PAIRS}
    bench._write_bench_md("sf0.01", levels, effs)
    text = _read(bench)
    assert text.startswith("# BENCH — scaling evidence")
    assert text.count(block) == 1
    assert text.endswith(block + "\n")
