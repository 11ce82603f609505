"""edge_provenance (operators/materialize.py): exact python twin of the
hash-ranked citation sample, salt invariance (two-phase top-k == plain
top-k for any salt count), canon resolution sharing, and guards."""

from __future__ import annotations

import hashlib
import random

import pytest

from transner_spark.operators.materialize import edge_provenance

TRIPLE_SCHEMA = (
    "conv_id string, turn_idx int, subj_value string, subj_type string,"
    " subj_norm string, pred string, obj_value string, obj_type string,"
    " obj_norm string, confidence double"
)
CANON_SCHEMA = "node_id string, canon_id string"


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _triple(conv, turn, s, p, o, st="PERSON", ot="LOCATION"):
    return (conv, turn, s.title(), st, s, p, o.title(), ot, o, 0.9)


def provenance_reference(triples, canon, k):
    """Python twin: resolve via 'surface:'||norm (structural types are
    their own ids), distinct (edge, conv, turn), rank per edge by
    (h60('pv:'||conv||':'||turn), conv, turn), keep <= k."""
    structural = {"AGENT", "TOOL"}

    def rid(norm, typ):
        node = norm if typ in structural else f"surface:{norm}"
        return canon.get(node, node)

    rows = {
        (rid(s_n, s_t), p, rid(o_n, o_t), conv, turn)
        for conv, turn, _, s_t, s_n, p, _, o_t, o_n, _ in triples
    }
    by_edge: dict[tuple, list] = {}
    for sid, p, oid, conv, turn in rows:
        key = _h60(f"pv:{conv}:{turn}")
        by_edge.setdefault((sid, p, oid), []).append((key, conv, turn))
    out = []
    for (sid, p, oid), cites in by_edge.items():
        for r, (_, conv, turn) in enumerate(sorted(cites)[:k], start=1):
            out.append((sid, p, oid, conv, turn, r))
    return sorted(out)


def _collect(df):
    return sorted(
        (
            r["subj_id"], r["pred"], r["obj_id"],
            r["conv_id"], r["turn_idx"], r["rank"],
        )
        for r in df.collect()
    )


@pytest.fixture(scope="module")
def small(spark):
    triples = [
        _triple("c1", 0, "mario rossi", "visited", "berlin"),
        _triple("c1", 1, "mario rossi", "visited", "berlin"),
        _triple("c1", 2, "mario rossi", "visited", "berlin"),
        _triple("c1", 3, "mario rossi", "visited", "berlin"),
        _triple("c2", 0, "mario rossi", "visited", "berlin"),
        _triple("c2", 1, "anna berg", "born_in", "rome"),
        # duplicate triple in one turn -> one citation
        _triple("c2", 2, "anna berg", "born_in", "rome"),
        _triple("c2", 2, "anna berg", "born_in", "rome"),
    ]
    canon = [("surface:mario rossi", "surface:mario"), ("surface:rome", "surface:roma")]
    return triples, canon


def test_provenance_exact(spark, small):
    triples, canon = small
    tdf = spark.createDataFrame(triples, TRIPLE_SCHEMA)
    cdf = spark.createDataFrame(canon, CANON_SCHEMA)
    got = _collect(edge_provenance(tdf, cdf, k=3))
    ref = provenance_reference(triples, dict(canon), 3)
    assert got == ref
    # the 5-citation edge is capped at 3, and keys went through canon
    visited = [r for r in got if r[0] == "surface:mario"]
    assert len(visited) == 3 and {r[5] for r in visited} == {1, 2, 3}
    assert any(r[2] == "surface:roma" for r in got)


def test_provenance_salt_invariance(spark, small):
    triples, canon = small
    tdf = spark.createDataFrame(triples, TRIPLE_SCHEMA)
    cdf = spark.createDataFrame(canon, CANON_SCHEMA)
    a = _collect(edge_provenance(tdf, cdf, k=2, n_salts=1))
    b = _collect(edge_provenance(tdf, cdf, k=2, n_salts=8))
    c = _collect(edge_provenance(tdf, cdf, k=2, n_salts=3))
    assert a == b == c


def test_provenance_randomized_vs_twin(spark):
    rng = random.Random(31)
    people = [f"p{i}" for i in range(5)]
    places = [f"l{i}" for i in range(4)]
    triples = [
        _triple(
            f"c{rng.randint(0, 9)}",
            rng.randint(0, 5),
            rng.choice(people),
            rng.choice(["visited", "born_in"]),
            rng.choice(places),
        )
        for _ in range(120)
    ]
    canon = [(f"surface:p{i}", "surface:P") for i in range(3)]
    tdf = spark.createDataFrame(triples, TRIPLE_SCHEMA)
    cdf = spark.createDataFrame(canon, CANON_SCHEMA)
    got = _collect(edge_provenance(tdf, cdf, k=3, n_salts=4))
    assert got == provenance_reference(triples, dict(canon), 3)


def test_provenance_param_guard(spark, small):
    triples, canon = small
    tdf = spark.createDataFrame(triples, TRIPLE_SCHEMA)
    cdf = spark.createDataFrame(canon, CANON_SCHEMA)
    with pytest.raises(ValueError):
        edge_provenance(tdf, cdf, k=0)
    with pytest.raises(ValueError):
        edge_provenance(tdf, cdf, n_salts=0)
