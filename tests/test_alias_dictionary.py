"""The committed alias-dictionary parquet files match the dictionary
rows the package builds. The Spark linker reads the rows
(``kernels/linking.alias_index``), while the DuckDB ``kg_links`` oracle
and the substring anti-join read the parquet files, and
``ensure_*_parquet`` return a cached file without checking it: a stale
file would split the engines silently. (Spark-free.)"""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from transner_spark.data.aliases import (
    build_alias_rows,
    ensure_alias_dim_parquet,
    ensure_keys_parquet,
)
from transner_spark.kernels.triples import normalize_surface

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_alias_dim_parquet_matches_dictionary_rows():
    table = pq.read_table(ensure_alias_dim_parquet(REPO))
    assert table.column_names == ["alias_id", "entity_key", "alias", "type", "norm"]
    got = list(zip(*(table.column(c).to_pylist() for c in table.column_names)))
    want = [
        (i, k, a, t, normalize_surface(a))
        for i, (k, a, t) in enumerate(build_alias_rows())
    ]
    assert got == want


def test_alias_keys_parquet_is_sorted_nonempty_norms():
    keys = pq.read_table(ensure_keys_parquet(REPO)).column("key").to_pylist()
    norms = {normalize_surface(a) for _k, a, _t in build_alias_rows()}
    assert keys == sorted(n for n in norms if n)
