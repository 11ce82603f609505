"""The non-broadcast linking path (operators/linking.py,
PipelineConfig.link_broadcast_dims=False): the physical-plan swap a
web-scale alias dictionary too large to broadcast actually executes.
Pins (a) bit-identical link output vs the broadcast path on the same
corpus, and (b) the plan shape — dim joins become shuffled
(sort-merge/shuffled-hash) with NO broadcast exchange, while the
default path broadcasts both dim joins."""

from __future__ import annotations

import pytest

from transner_spark.config import PipelineConfig
from transner_spark.operators.annotate import annotate_turns, explode_triples
from transner_spark.operators.linking import link_surfaces, node_surfaces


@pytest.fixture(scope="module")
def surfaces(spark, tiny_df):
    s = node_surfaces(explode_triples(annotate_turns(tiny_df))).localCheckpoint()
    assert s.count() > 0
    return s


def _rows(df):
    return sorted(
        map(tuple, df.select("norm_key", "entity_key", "score", "method").collect())
    )


@pytest.fixture()
def no_auto_broadcast(spark):
    """Emulate a dim over the broadcast threshold: with the hints gone
    AND auto-broadcast off, Catalyst must plan the shuffled join a
    genuinely huge dictionary would get (on the tiny test dim, AQE
    would otherwise just re-broadcast it under the threshold)."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    yield
    spark.conf.set(key, old)


def test_shuffle_path_bit_identical(spark, surfaces, no_auto_broadcast):
    bcast = link_surfaces(spark, surfaces, PipelineConfig())
    shuffled = link_surfaces(
        spark, surfaces, PipelineConfig(link_broadcast_dims=False)
    )
    a, b = _rows(bcast), _rows(shuffled)
    assert a == b
    # sanity: the corpus exercises both link methods, so the identity
    # isn't vacuous
    methods = {m for _, _, _, m in a}
    assert {"exact", "fuzzy"} <= methods


def _plan(spark, surfaces, cfg) -> str:
    df = link_surfaces(spark, surfaces, cfg)
    return df._jdf.queryExecution().executedPlan().toString()


def test_shuffle_path_plan_shape(spark, surfaces, no_auto_broadcast):
    # default: both dim joins broadcast — the mention side never
    # shuffles for the join
    p_b = _plan(spark, surfaces, PipelineConfig())
    assert "BroadcastHashJoin" in p_b

    # link_broadcast_dims=False: no broadcast-hash dim join anywhere;
    # the dim joins run as shuffled joins (SMJ or shuffled-hash — AQE
    # picks), which is the only join strategy that admits runtime skew
    # splitting on the gram key
    p_s = _plan(spark, surfaces, PipelineConfig(link_broadcast_dims=False))
    assert "BroadcastHashJoin" not in p_s
    assert ("SortMergeJoin" in p_s) or ("ShuffledHashJoin" in p_s)
    # the gram join is a left join (it keeps unmatched surfaces): it
    # must also have left the broadcast family
    assert "BroadcastNestedLoopJoin" not in p_s
