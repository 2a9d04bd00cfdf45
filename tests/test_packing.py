"""Sequence packing (concat-and-chunk) tests: partition-count
independence of the distributed prefix sum, chunk semantics, nulls."""

import warnings

import pytest
from pyspark.sql import functions as F

from datacheck_spark.packing import assign_packs, pack_stats


def _mk(spark, n=500, seed=7):
    import random

    rng = random.Random(seed)
    rows = [
        (f"d{i:05d}", rng.randint(0, 900) if rng.random() > 0.05 else None)
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id string, tok int")


def test_partition_count_independence(spark):
    """The prefix sum is a pure function of the global order — the
    same result at 1, 3, and 32 range partitions."""
    df = _mk(spark)
    outs = [
        sorted(
            map(
                tuple,
                assign_packs(
                    df, "tok", budget=2048, num_partitions=p
                ).select("doc_id", "start_offset", "pack_id").collect(),
            )
        )
        for p in (1, 3, 32)
    ]
    assert outs[0] == outs[1] == outs[2]


def test_chunk_semantics(spark):
    """start_offset is the exact running total in doc_id order; every
    pack except the last spans >= budget tokens (a straddling document
    counts toward the pack it starts in); pack ids start at 0 and are
    contiguous."""
    df = _mk(spark, n=300)
    budget = 1000
    out = (
        assign_packs(df, "tok", budget=budget, num_partitions=5)
        .orderBy("doc_id")
        .collect()
    )
    running = 0
    for r in out:
        assert r["start_offset"] == running
        assert r["pack_id"] == running // budget
        running += r["tok"] or 0
    packs = [r["pack_id"] for r in out]
    assert packs[0] == 0
    assert sorted(set(packs)) == list(range(max(packs) + 1))
    stats = pack_stats(
        assign_packs(df, "tok", budget=budget, num_partitions=5), "tok"
    ).collect()
    # each non-final pack's span reaches the next boundary
    for a, b in zip(stats, stats[1:]):
        assert a["first_offset"] + a["tokens"] >= (a["pack_id"] + 1) * budget
        assert b["first_offset"] == a["first_offset"] + a["tokens"]


def test_null_tokens_and_bad_budget(spark):
    df = spark.createDataFrame(
        [("a", None), ("b", 10)], "doc_id string, tok int"
    )
    out = {
        r["doc_id"]: r["start_offset"]
        for r in assign_packs(df, "tok", budget=5).collect()
    }
    assert out == {"a": 0, "b": 0}  # null packs as 0 tokens
    with pytest.raises(ValueError):
        assign_packs(df, "tok", budget=0)


def test_no_deprecated_column_key_lookup(spark):
    """The offset lookup indexes the literal map with a Column key by
    ``map[col]``; ``getItem(col)`` is deprecated with a FutureWarning."""
    df = _mk(spark, n=50)
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        out = assign_packs(df, "tok", budget=1000, num_partitions=2)
    assert out.count() == 50


def test_null_order_key_rejected(spark):
    """A null order key has no position in the stable global order —
    rejected up front (previously crashed with TypeError in the
    driver-side offset sort)."""
    df = spark.createDataFrame(
        [("a", 1), (None, 2), ("c", 3)], "doc_id string, tok int"
    )
    with pytest.raises(ValueError, match="null"):
        assign_packs(df, "tok", budget=5)


def test_no_global_single_partition_window(spark):
    """The plan must not contain a partition-less window (the
    single-task global-sort trap this module exists to avoid) nor a
    checkpoint scan: the deterministic range buckets are recomputable
    from the data, so nothing needs to be pinned (executor loss
    recomputes the same bucket ids — the r4 localCheckpoint variant
    could not)."""
    # range-based input so the only possible RDD scan in the plan would
    # be one introduced by packing itself (a checkpoint or a
    # driver-built offset table — both eliminated)
    df = spark.range(100).selectExpr(
        "format_string('d%05d', id) AS doc_id", "cast(id % 7 AS int) AS tok"
    )
    plan = (
        assign_packs(df, "tok", budget=512, num_partitions=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SinglePartition" not in plan, plan
    assert "Checkpoint" not in plan and "ExistingRDD" not in plan, plan
    # offset lookup is a constant-folded literal map, not a join
    assert "BroadcastHashJoin" not in plan, plan


def test_pack_cli(spark, tmp_path, capsys):
    """`pack` subcommand assigns packs over a parquet table, writes the
    packed output, and reports pack totals."""
    import json

    from datacheck_spark.cli import main

    data = str(tmp_path / "docs.parquet")
    _mk(spark, n=200).withColumnRenamed("tok", "n_tokens").write.parquet(
        data
    )
    out = str(tmp_path / "packed.parquet")
    rc = main([
        "pack", data, "--token-col", "n_tokens", "--budget", "2000",
        "-o", out,
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["documents"] == 200
    assert rep["packs"] >= 1
    packed = spark.read.parquet(out)
    assert packed.count() == 200
    assert {"pack_id", "start_offset"} <= set(packed.columns)
