"""Skew diagnostics (``datacheck_spark/skew.py``) — hot-key detection,
salt sizing, and partition-balance profiling.

The planted-skew fixture is ``generate_transcripts``'s hot
conversations (``n_hot_convs`` convs at ``hot_factor``× the turns of a
normal conv) — the exact shape a 10^12-turn shuffle dies on.
"""

import math

import pytest
from pyspark.sql import functions as F

from datacheck_spark.skew import (
    diagnose_key_skew,
    hot_keys,
    key_count_profile,
    partition_profile,
)
from datacheck_spark.transcripts import generate_transcripts


@pytest.fixture(scope="module")
def hot_df(spark):
    # 200 convs x 10 turns + 2 hot convs x 1000 turns
    return generate_transcripts(
        spark, n_convs=202, turns_per_conv=10, n_hot_convs=2,
        hot_factor=100, seed=11,
    ).persist()


def test_key_count_profile_exact(spark):
    df = spark.createDataFrame(
        [("a",)] * 6 + [("b",)] * 2 + [("c",)] * 1, "k string"
    )
    rows = {r["k"]: r for r in key_count_profile(df, ["k"]).collect()}
    assert rows["a"]["cnt"] == 6
    assert rows["a"]["share"] == pytest.approx(6 / 9)
    # mean rows/key = 3 -> skew(a) = 2.0, skew(c) = 1/3
    assert rows["a"]["skew"] == pytest.approx(2.0)
    assert rows["c"]["skew"] == pytest.approx(1 / 3)


def test_hot_keys_finds_planted_hot_convs(hot_df):
    top = hot_keys(hot_df, ["conv_id"], top_k=2).collect()
    counts = (
        hot_df.groupBy("conv_id").count().orderBy(F.desc("count")).limit(2)
    ).collect()
    assert {r["conv_id"] for r in top} == {r["conv_id"] for r in counts}
    # hot convs carry ~100x a normal conv's turns
    assert all(r["skew"] > 20 for r in top)


def test_hot_keys_min_skew_filters(hot_df):
    flagged = hot_keys(hot_df, ["conv_id"], top_k=50, min_skew=4.0).collect()
    # only the 2 planted hot convs hold >=4x their fair share
    assert len(flagged) == 2


def test_diagnose_key_skew_salts_only_hot(hot_df):
    rep = diagnose_key_skew(hot_df, ["conv_id"], top_k=5, salt_threshold=4.0)
    assert rep.total_rows == hot_df.count()
    assert rep.distinct_keys == 202
    assert len(rep.salt_recommendations) == 2
    for key, salt in rep.salt_recommendations.items():
        hot = next(
            h for h in rep.hot_keys
            if "|".join(str(v) for v in h["key"].values()) == key
        )
        assert salt == math.ceil(hot["skew"])
        assert salt > 20
    assert rep.max_skew == pytest.approx(
        rep.max_key_rows / rep.mean_rows_per_key
    )


def test_diagnose_empty(spark):
    df = spark.createDataFrame([], "k string")
    rep = diagnose_key_skew(df, ["k"])
    assert rep.total_rows == 0 and rep.hot_keys == []


def test_partition_profile_balance(spark):
    df = spark.range(0, 10000).repartition(8)
    prof = partition_profile(df)
    assert prof["n_partitions"] == 8
    assert prof["total_rows"] == 10000
    # round-robin repartition is near-perfectly balanced
    assert prof["imbalance"] < 1.2

    skewed = spark.range(0, 10000).repartition(8, (F.col("id") < 9000))
    sprof = partition_profile(skewed)
    assert sprof["imbalance"] > 2.0
