"""Skew profiler (operators/skew.py): heavy-hitter ordering, share /
skew_x / salt_factor arithmetic and deterministic tie-breaking — all
checked against a hand-computable fixture plus a pandas differential on
the generated transcripts."""

from __future__ import annotations

import math

import pytest


@pytest.fixture(scope="module")
def skewed_df(spark):
    # 10 rows of key a, 5 of b, 1 each of c,d,e  → 18 rows, 5 keys
    rows = (
        [("a", "p")] * 10 + [("b", "p")] * 5 + [("c", "p"), ("d", "p"), ("e", "p")]
    )
    return spark.createDataFrame(rows, ["k", "p"])


def test_profile_skew_values(skewed_df):
    from transner_spark.operators.skew import profile_skew

    out = profile_skew(skewed_df, ["k", "p"], top_k=3, rows_per_task=4)
    rows = out.collect()
    assert [r["k"] for r in rows] == ["a", "b", "c"]  # c wins the tie by key
    a = rows[0]
    assert a["cnt"] == 10
    assert a["share"] == round(10 / 18, 6)
    assert a["skew_x"] == round(10 * 5 / 18, 6)
    assert a["salt_factor"] == math.ceil(10 / 4)  # 3
    b = rows[1]
    assert b["cnt"] == 5 and b["salt_factor"] == 2
    c = rows[2]
    assert c["cnt"] == 1 and c["salt_factor"] == 1  # floor of 1, never 0


def test_profile_skew_tie_determinism(spark):
    from transner_spark.operators.skew import profile_skew

    df = spark.createDataFrame(
        [(k,) for k in "zyxwv" * 2], ["k"]
    )  # all keys cnt=2: order must be pure key-ascending
    out = profile_skew(df, ["k"], top_k=3)
    assert [r["k"] for r in out.collect()] == ["v", "w", "x"]


def test_profile_requires_keys(skewed_df):
    from transner_spark.operators.skew import profile_skew

    with pytest.raises(ValueError):
        profile_skew(skewed_df, [])


def test_profile_differential_vs_pandas(spark, tiny_df):
    """Top-k heavy hitters over the generated transcripts' (role, tool)
    key must match a pandas groupby — independent of Spark partitioning."""
    from transner_spark.operators.skew import profile_skew

    got = profile_skew(
        tiny_df.where("tool is not null and tool <> ''"),
        ["role", "tool"],
        top_k=5,
        rows_per_task=3,
    ).toPandas()
    pdf = tiny_df.where("tool is not null and tool <> ''").toPandas()
    counts = (
        pdf.groupby(["role", "tool"]).size().reset_index(name="cnt")
    )
    total, n_keys = counts["cnt"].sum(), len(counts)
    counts["share"] = (counts["cnt"] / total).round(9).round(6)
    counts["skew_x"] = (counts["cnt"] * n_keys / total).round(9).round(6)
    counts["salt_factor"] = counts["cnt"].apply(
        lambda c: max(1, math.ceil(c / 3))
    )
    want = counts.sort_values(
        ["cnt", "role", "tool"], ascending=[False, True, True]
    ).head(5)
    assert got[["role", "tool", "cnt", "salt_factor"]].values.tolist() == (
        want[["role", "tool", "cnt", "salt_factor"]].values.tolist()
    )
    assert got["share"].tolist() == pytest.approx(want["share"].tolist())
    assert got["skew_x"].tolist() == pytest.approx(want["skew_x"].tolist())

