"""Incremental validation (incremental.py): append-only file diffing,
batch commits, live-view filtering, compaction.

The core correctness claim: the union of incremental batches, filtered
to the live file set, equals a from-scratch full run's violation rows —
exactly, at every step of an add/append/remove/compact history.
"""

import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from datacheck_spark.incremental import (
    IncrementalValidator,
    key_to_path,
    list_data_files,
)
from datacheck_spark.transcripts import TranscriptChecker, generate_transcripts


def _write(df, path, n_files):
    df.repartition(n_files).write.mode("append").parquet(str(path))


def _vset(df):
    """Comparable set of violation rows (contract columns only)."""
    return {
        (r["conv_id"], r["turn_idx"], r["rule_id"], r["observed"])
        for r in df.select("conv_id", "turn_idx", "rule_id", "observed").collect()
    }


@pytest.fixture(scope="module")
def checker():
    return TranscriptChecker()


@pytest.fixture()
def table(spark, tmp_path):
    t = tmp_path / "transcripts"
    df = generate_transcripts(spark, n_convs=60, turns_per_conv=6, seed=7)
    _write(df, t, n_files=3)
    return t


def test_initial_run_matches_full_run(spark, tmp_path, table, checker):
    iv = IncrementalValidator(str(tmp_path / "ckpt"), checker=checker)
    out = iv.run(spark, str(table))
    assert out["new_files"] == 3 and out["removed_files"] == 0
    full = checker.violations(spark.read.parquet(str(table)))
    assert _vset(iv.live_violations(spark)) == _vset(full)
    assert out["live"]["rows"] == spark.read.parquet(str(table)).count()


def test_append_validates_only_new_files(spark, tmp_path, table, checker):
    iv = IncrementalValidator(str(tmp_path / "ckpt"), checker=checker)
    iv.run(spark, str(table))
    before = iv.load_state()

    extra = generate_transcripts(spark, n_convs=25, turns_per_conv=6, seed=99)
    extra = extra.withColumn(
        "conv_id", F.concat(F.lit("x_"), F.col("conv_id"))
    )
    _write(extra, table, n_files=2)

    out = iv.run(spark, str(table))
    assert out["new_files"] == 2 and len(out["batches_written"]) == 1
    # previously validated files were not reprocessed
    after = iv.load_state()
    for p, m in before["files"].items():
        assert after["files"][p]["batch"] == m["batch"]
    # the new batch holds ONLY the new files' rows
    nb = out["batches_written"][0]
    batch_files = {
        r["src_file"]
        for r in spark.read.parquet(iv._batch_dir(nb)).select("src_file").distinct().collect()
    }
    assert all(after["files"][p]["batch"] == nb for p in batch_files)
    # and the live view equals a from-scratch run over the grown table
    full = checker.violations(spark.read.parquet(str(table)))
    assert _vset(iv.live_violations(spark)) == _vset(full)


def test_noop_rerun_writes_nothing(spark, tmp_path, table, checker):
    iv = IncrementalValidator(str(tmp_path / "ckpt"), checker=checker)
    iv.run(spark, str(table))
    n_batches = len(iv.load_state()["batches"])
    out = iv.run(spark, str(table))
    assert out["new_files"] == 0 and out["batches_written"] == []
    assert len(iv.load_state()["batches"]) == n_batches


def test_removed_file_leaves_live_view(spark, tmp_path, table, checker):
    iv = IncrementalValidator(str(tmp_path / "ckpt"), checker=checker)
    iv.run(spark, str(table))
    victim = sorted(list_data_files(str(table)))[0]
    os.remove(key_to_path(victim))
    out = iv.run(spark, str(table))
    assert out["removed_files"] == 1 and out["new_files"] == 0
    full = checker.violations(spark.read.parquet(str(table)))
    assert _vset(iv.live_violations(spark)) == _vset(full)
    assert out["live"]["rows"] == spark.read.parquet(str(table)).count()


def test_rule_version_bump_revalidates_everything(spark, tmp_path, table, checker):
    iv = IncrementalValidator(str(tmp_path / "ckpt"), checker=checker)
    iv.run(spark, str(table))
    iv2 = IncrementalValidator(
        str(tmp_path / "ckpt"), rule_version="v2", checker=checker
    )
    out = iv2.run(spark, str(table))
    assert out["new_files"] == 3  # lineage mismatch -> full revalidation


def test_compact_preserves_live_view(spark, tmp_path, table, checker):
    iv = IncrementalValidator(
        str(tmp_path / "ckpt"), checker=checker, file_group_size=1
    )
    iv.run(spark, str(table))  # 3 batches (one per file)
    assert len(iv.load_state()["batches"]) == 3
    before = _vset(iv.live_violations(spark))
    summ = iv.compact(spark)
    assert summ["batches"] == 1
    assert _vset(iv.live_violations(spark)) == before
    # superseded batch dirs are gone
    vdir = Path(iv.base_path) / "violations"
    assert len(list(vdir.glob("batch=*"))) == 1


def test_percent_encoded_paths_match(spark, tmp_path, checker):
    """Spark reports data-file paths percent-encoded; manifest keys use
    the same encoding so a table under a spaced directory still matches
    between the listing and the live-view semi-join."""
    t = tmp_path / "space dir" / "transcripts"
    df = generate_transcripts(spark, n_convs=20, turns_per_conv=5, seed=11)
    _write(df, t, n_files=2)
    iv = IncrementalValidator(str(tmp_path / "ckpt"), checker=checker)
    out = iv.run(spark, str(t))
    assert out["new_files"] == 2
    assert "%20" in sorted(iv.load_state()["files"])[0]
    full = checker.violations(spark.read.parquet(str(t)))
    assert _vset(iv.live_violations(spark)) == _vset(full)
    # no-op rerun: keys stable across listing round-trips
    assert iv.run(spark, str(t))["new_files"] == 0


def test_batch_trend_flags_bad_append(spark, tmp_path, table, checker):
    """A batch whose violation rate jumps against history is flagged —
    from manifest metrics alone (no Spark job)."""
    iv = IncrementalValidator(
        str(tmp_path / "ckpt"), checker=checker, file_group_size=1
    )
    iv.run(spark, str(table))  # 3 similar-quality batches
    # append an all-blank batch: ~100% non_empty violation rate
    bad = (
        spark.range(40)
        .select(
            F.concat(F.lit("bad_"), F.col("id").cast("string")).alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            F.lit("user").alias("role"),
            F.lit("   ").alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
        )
        .withColumn(
            "conv_bucket",
            F.pmod(F.xxhash64("conv_id"), F.lit(32)).cast("int"),
        )
    )
    _write(bad, table, n_files=1)
    iv.run(spark, str(table))
    trend = iv.batch_trend()
    assert len(trend) == 4
    assert not any(t["flagged"] for t in trend[:3])
    assert trend[3]["flagged"] and trend[3]["error_row_rate"] > 0.9


def test_cli_incremental_gate(spark, tmp_path, table, capsys):
    """`transcripts --incremental` gates THIS run's appends on the
    pass-rate floor (and z-deviation when history allows); historical
    failures stay visible in trend but don't re-fail later runs."""
    import json as _json

    from datacheck_spark.cli import main

    args = [
        "transcripts", str(table),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--incremental", "--threshold", "0.9",
    ]
    assert main(args) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["new_files"] == 3 and out["trend"]

    bad = (
        spark.range(50)
        .select(
            F.concat(F.lit("bad_"), F.col("id").cast("string")).alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            F.lit("user").alias("role"),
            F.lit("   ").alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
        )
        .withColumn(
            "conv_bucket", F.pmod(F.xxhash64("conv_id"), F.lit(32)).cast("int")
        )
    )
    _write(bad, table, n_files=1)
    assert main(args) == 1  # fresh append below the pass-rate floor
    capsys.readouterr()
    assert main(args) == 0  # no-op rerun: history doesn't re-fail
    capsys.readouterr()


def test_schema_evolution_appended_column(spark, tmp_path, table, checker):
    """An appended file carrying an extra column validates cleanly:
    the transcript suite's rules are pinned to transcript columns, so
    the live view still equals a from-scratch run over the mixed-schema
    directory (rules compile per file group — see module docstring)."""
    iv = IncrementalValidator(str(tmp_path / "ckpt"), checker=checker)
    iv.run(spark, str(table))
    extra = (
        generate_transcripts(spark, n_convs=10, turns_per_conv=4, seed=21)
        .withColumn("conv_id", F.concat(F.lit("evo_"), F.col("conv_id")))
        .withColumn("extra_note", F.lit("  "))
    )
    _write(extra, table, n_files=1)
    out = iv.run(spark, str(table))
    assert out["new_files"] == 1
    full = checker.violations(spark.read.parquet(str(table)))
    assert _vset(iv.live_violations(spark)) == _vset(full)


def test_random_histories_preserve_identity(spark, tmp_path, checker):
    """State-machine check: under a random add/remove/compact history
    the live view equals a from-scratch run after EVERY step."""
    import random

    rng = random.Random(1234)
    t = tmp_path / "tbl"
    iv = IncrementalValidator(
        str(tmp_path / "ckpt"), checker=checker, file_group_size=2
    )
    next_id = [0]

    def add_file():
        df = generate_transcripts(
            spark, n_convs=8, turns_per_conv=4, n_hot_convs=0,
            seed=50 + next_id[0],
        ).withColumn(
            "conv_id",
            F.concat(F.lit(f"f{next_id[0]}_"), F.col("conv_id")),
        )
        _write(df, t, n_files=1)
        next_id[0] += 1

    add_file()
    add_file()
    iv.run(spark, str(t))
    ops = ["add", "add", "remove", "compact", "add", "remove", "add"]
    for op in ops:
        files = sorted(list_data_files(str(t)))
        if op == "add" or (op == "remove" and len(files) <= 1):
            add_file()
        elif op == "remove":
            os.remove(key_to_path(rng.choice(files)))
        elif op == "compact":
            iv.compact(spark)
        iv.run(spark, str(t))
        full = checker.violations(spark.read.parquet(str(t)))
        assert _vset(iv.live_violations(spark)) == _vset(full), op


def test_group_commit_resume(spark, tmp_path, table, checker):
    """A killed run resumes at the next uncommitted group: simulate by
    running with file_group_size=1 and checking per-group manifest
    commits exist after each batch."""
    iv = IncrementalValidator(
        str(tmp_path / "ckpt"), checker=checker, file_group_size=1
    )
    out = iv.run(spark, str(table))
    assert out["batches_written"] == [0, 1, 2]
    st = iv.load_state()
    assert {m["batch"] for m in st["files"].values()} == {0, 1, 2}


def test_many_file_table_bounded_groups(spark, tmp_path, checker):
    """A full run over a many-file table streams through bounded
    groups: per-batch driver collects stay at group size, the manifest
    records every file, and the live view equals a from-scratch run."""
    from datacheck_spark.incremental import MAX_FILES_PER_GROUP

    t = tmp_path / "many"
    df = generate_transcripts(spark, n_convs=120, turns_per_conv=4, seed=13)
    _write(df, t, n_files=96)

    # config clamp: an unbounded group size cannot undo the bound
    iv_huge = IncrementalValidator(
        str(tmp_path / "ckpt0"), checker=checker, file_group_size=10**9
    )
    assert iv_huge.file_group_size == MAX_FILES_PER_GROUP

    iv = IncrementalValidator(
        str(tmp_path / "ckpt"), checker=checker, file_group_size=16
    )
    out = iv.run(spark, str(t))
    assert out["new_files"] == 96
    assert out["batches_written"] == list(range(6))  # ceil(96/16)
    st = iv.load_state()
    assert len(st["files"]) == 96
    # every batch bounded by the group size
    assert all(b["files"] <= 16 for b in st["batches"].values())
    full = checker.violations(spark.read.parquet(str(t)))
    assert _vset(iv.live_violations(spark)) == _vset(full)


def test_local_frames_are_local_relations(spark, tmp_path, table, checker):
    """The small driver-built frames (the live view before any commit,
    the live-file frame of the live view, a small
    ``connected_components`` result) are Arrow-built
    ``LocalRelation``s, not Python-RDD ``LogicalRDD``s: evaluating one
    of those starts a second Python worker pool."""
    from datacheck_spark.dedup import connected_components

    iv = IncrementalValidator(str(tmp_path / "ckpt"), checker=checker)
    empty = iv.live_violations(spark)  # nothing committed yet
    assert empty.count() == 0
    assert dict(empty.dtypes)["batch"] == "int"
    iv.run(spark, str(table))
    pairs = spark.read.parquet(str(table)).select(
        F.col("conv_id").alias("id_a"), F.col("conv_id").alias("id_b")
    ).limit(3)
    for df in (empty, iv.live_violations(spark), connected_components(pairs)):
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
