"""Join/agg-key skew profiler — heavy-hitter diagnostics for shuffle keys.

The reference has no counterpart (it is a single-node service); this is
the pre-flight tooling a 100 TB KG build runs BEFORE committing to a
salt factor. Every expensive shuffle in this repo keys on Zipfian data
— the edge rollup groups by ``(subj_id, pred, obj_id)``
(operators/materialize.materialize_edges, salted with
``SALT_PARTITIONS``), the
linking join keys on normalized surfaces, and ``graph_two_hop`` guards
hub middles with ``max_mid_degree``. All three guards take a numeric
knob whose right value depends on the actual key histogram; this module
measures that histogram distributedly and derives the knob.

Output semantics
----------------
``profile_skew`` returns the global top-k heaviest keys with, per key:

- ``cnt``         — rows carrying the key (= post-shuffle partition rows
                    this key contributes if unsalted)
- ``share``       — cnt / total rows
- ``skew_x``      — cnt / (total / n_keys): how many times hotter than a
                    uniform key this one is (1.0 = perfectly uniform)
- ``salt_factor`` — ceil(cnt / rows_per_task): the minimum salt fan-out
                    that caps this key's per-task rows at the target —
                    feed max(salt_factor) straight into
                    ``operators/materialize.SALT_PARTITIONS``

Scale shape (the 100 TB contract)
---------------------------------
- ONE shuffle, on exactly the key the downstream agg/join would use, so
  the profile costs no more than a count(*) rollup of the real job.
- Totals are a single-row aggregate joined back via
  ``crossJoin(broadcast(...))`` — in-plan scalar, no driver collect.
- Top-k is ``orderBy().limit(k)`` → TakeOrderedAndProject (per-partition
  top-k + a k·P-row driver merge), never a global sort shuffle, and
  never a global window (no ``WindowExec: No Partition Defined``).
- ``keyed`` feeds both the totals branch and the profile branch;
  Catalyst's ReuseExchange serves the second branch from the first's
  shuffle files, so the groupBy executes once.
- Floats are double-rounded (9 then 6 decimals) like graph.pagerank, so
  summation/partitioning order cannot flip the published digit.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_skew(
    df: DataFrame,
    key_cols: Sequence[str],
    top_k: int = 20,
    rows_per_task: int = 1_000_000,
) -> DataFrame:
    """Top-k heavy hitters of ``key_cols`` in ``df`` with share, skew
    multiple, and the per-key salt factor needed to cap any one task at
    ``rows_per_task`` rows. Deterministic under ties (cnt desc, then
    key columns ascending)."""
    if not key_cols:
        raise ValueError("profile_skew needs at least one key column")
    keyed = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("cnt"))
    totals = keyed.agg(
        F.sum("cnt").alias("_total"), F.count(F.lit(1)).alias("_n_keys")
    )
    prof = keyed.crossJoin(F.broadcast(totals)).select(
        *key_cols,
        F.col("cnt").cast("long").alias("cnt"),
        F.round(F.round(F.col("cnt") / F.col("_total"), 9), 6).alias("share"),
        F.round(
            F.round((F.col("cnt") * F.col("_n_keys")) / F.col("_total"), 9), 6
        ).alias("skew_x"),
        F.greatest(
            F.lit(1).cast("long"),
            F.ceil(F.col("cnt") / F.lit(float(rows_per_task))),
        ).alias("salt_factor"),
    )
    return prof.orderBy(F.desc("cnt"), *[F.asc(c) for c in key_cols]).limit(
        top_k
    )

