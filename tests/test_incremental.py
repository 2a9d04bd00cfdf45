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

from datacheck_spark import incremental
from datacheck_spark.incremental import (
    IncrementalValidator,
    _stat,
    list_data_files,
)
from datacheck_spark.sources import key_to_path, uri_key
from datacheck_spark.transcripts import TranscriptChecker, generate_transcripts


def _write(df, path, n_files):
    df.repartition(n_files).write.mode("append").parquet(str(path))


def _vset(df):
    """Comparable set of violation rows (contract columns only)."""
    return {
        (r["conv_id"], r["turn_idx"], r["rule_id"], r["observed"])
        for r in df.select("conv_id", "turn_idx", "rule_id", "observed").collect()
    }


def _spark_keys(spark, table):
    """The data files Spark's reader reads, as manifest keys."""
    return {uri_key(f) for f in spark.read.parquet(str(table)).inputFiles()}


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
    victim = sorted(list_data_files(spark, str(table)))[0]
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


def test_compact_preserves_live_view(
    spark, tmp_path, table, checker, monkeypatch
):
    monkeypatch.setattr(incremental, "FILE_GROUP_SIZE", 1)
    iv = IncrementalValidator(str(tmp_path / "ckpt"), checker=checker)
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


def test_keys_match_spark_file_paths(spark, tmp_path, checker):
    """Manifest keys equal Spark's ``_metadata.file_path`` for the
    library's own partitioned layout (``conv_bucket=/ts_day=``) and for
    directory names holding characters a URI path leaves literal
    (``=+;@`` and non-ASCII) or quotes (``%``, ``#``, space), so every
    file's violation rows reach the manifest and the live view."""
    from datacheck_spark.transcripts import write_transcripts_partitioned

    df = generate_transcripts(spark, n_convs=60, turns_per_conv=6, seed=7)
    part = tmp_path / "partitioned"
    write_transcripts_partitioned(df, str(part), n_buckets=4)
    flat = tmp_path / "a=b+c;d@ü" / "transcripts"
    _write(df, flat, n_files=2)
    quoted = tmp_path / "p%41#~ x" / "transcripts"  # quoted: %, #, space
    _write(df, quoted, n_files=1)
    for i, t in enumerate((part, flat, quoted)):
        iv = IncrementalValidator(str(tmp_path / f"ckpt{i}"), checker=checker)
        out = iv.run(spark, str(t))
        direct = checker.violations(spark.read.parquet(str(t)))
        assert _vset(iv.live_violations(spark)) == _vset(direct), t
        assert out["live"]["violations"] == direct.count() > 0, t
        assert iv.run(spark, str(t))["new_files"] == 0, t
        assert set(iv.load_state()["files"]) == _spark_keys(spark, t)


def test_listing_skips_hidden_paths(spark, tmp_path, table, checker):
    """The listing holds exactly the files Spark's reader reads: a
    killed writer's ``_temporary/`` task output and a ``.hidden/``
    directory are skipped, ``_``-prefixed partition directories
    (holding ``=``) are not."""
    import shutil

    src = key_to_path(sorted(list_data_files(spark, str(table)))[0])
    for sub in ("_temporary/0/task_0", ".hidden"):
        (table / sub).mkdir(parents=True)
        shutil.copy(src, table / sub)
    iv = IncrementalValidator(str(tmp_path / "ckpt"), checker=checker)
    out = iv.run(spark, str(table))
    assert out["new_files"] == 3
    full = spark.read.parquet(str(table))
    assert set(iv.load_state()["files"]) == _spark_keys(spark, table)
    assert out["live"]["rows"] == full.count()
    assert _vset(iv.live_violations(spark)) == _vset(checker.violations(full))
    part = tmp_path / "part"
    full.withColumn("_k", F.lit(1)).write.partitionBy("_k").parquet(str(part))
    assert set(list_data_files(spark, str(part))) == _spark_keys(spark, part)


def test_listing_descends_into_plain_subdirectories(
    spark, tmp_path, table, checker
):
    """An append landed in its own plain subdirectory (no ``=``, so not
    a partition) is listed and validated with the table's other
    files."""
    iv = IncrementalValidator(str(tmp_path / "ckpt"), checker=checker)
    iv.run(spark, str(table))
    extra = generate_transcripts(spark, n_convs=10, turns_per_conv=4, seed=5)
    extra = extra.withColumn("conv_id", F.concat(F.lit("x_"), F.col("conv_id")))
    _write(extra, table / "append_000", n_files=1)
    out = iv.run(spark, str(table))
    assert out["new_files"] == 1
    files = [key_to_path(k) for k in list_data_files(spark, str(table))]
    full = spark.read.parquet(*files)
    assert out["live"]["rows"] == full.count()
    assert _vset(iv.live_violations(spark)) == _vset(checker.violations(full))


def test_unlistable_path_raises_before_any_state_change(
    spark, tmp_path, table, checker
):
    """A missing (mistyped, unmounted) table path raises from the
    listing — in ``run`` and through ``transcripts --checkpoint`` —
    before the manifest changes; a ``file:`` URI of the table lists
    the same keys as its plain path, so it is a no-op rerun."""
    from pyspark.errors import AnalysisException

    from datacheck_spark.cli import main

    ckpt = tmp_path / "ckpt"
    iv = IncrementalValidator(str(ckpt), checker=checker)
    iv.run(spark, str(table))
    manifest = (ckpt / "incremental.json").read_bytes()
    missing = str(tmp_path / "no_such_table")
    with pytest.raises(AnalysisException):
        iv.run(spark, missing)
    with pytest.raises(AnalysisException):
        main(["transcripts", missing, "--checkpoint", str(ckpt)])
    assert (ckpt / "incremental.json").read_bytes() == manifest
    assert iv.run(spark, table.as_uri())["new_files"] == 0
    assert (ckpt / "incremental.json").read_bytes() == manifest


def test_remote_file_metadata_through_hadoop(spark, table):
    """Keys that are not local paths (``s3a://``, ``hdfs://``) get
    their fingerprint through Hadoop's filesystem client; on a
    ``file:`` URI it agrees with the local route."""
    for key in list_data_files(spark, str(table)):
        local, remote = _stat(spark, key), _stat(spark, "file:" + key)
        assert remote["size"] == local["size"]
        assert abs(remote["mtime"] - local["mtime"]) < 10**6  # ms clock


def test_batch_trend_flags_bad_append(
    spark, tmp_path, table, checker, monkeypatch
):
    """A batch whose violation rate jumps against history is flagged —
    from manifest metrics alone (no Spark job)."""
    monkeypatch.setattr(incremental, "FILE_GROUP_SIZE", 1)
    iv = IncrementalValidator(str(tmp_path / "ckpt"), checker=checker)
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


def test_random_histories_preserve_identity(
    spark, tmp_path, checker, monkeypatch
):
    """State-machine check: under a random add/remove/compact history
    the live view equals a from-scratch run after EVERY step."""
    import random

    rng = random.Random(1234)
    t = tmp_path / "tbl"
    monkeypatch.setattr(incremental, "FILE_GROUP_SIZE", 2)
    iv = IncrementalValidator(str(tmp_path / "ckpt"), checker=checker)
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
        files = sorted(list_data_files(spark, str(t)))
        if op == "add" or (op == "remove" and len(files) <= 1):
            add_file()
        elif op == "remove":
            os.remove(key_to_path(rng.choice(files)))
        elif op == "compact":
            iv.compact(spark)
        iv.run(spark, str(t))
        full = checker.violations(spark.read.parquet(str(t)))
        assert _vset(iv.live_violations(spark)) == _vset(full), op


def test_group_commit_resume(spark, tmp_path, table, checker, monkeypatch):
    """A killed run resumes at the next uncommitted group: simulate by
    running with a group size of 1 and checking per-group manifest
    commits exist after each batch."""
    monkeypatch.setattr(incremental, "FILE_GROUP_SIZE", 1)
    iv = IncrementalValidator(str(tmp_path / "ckpt"), checker=checker)
    out = iv.run(spark, str(table))
    assert out["batches_written"] == [0, 1, 2]
    st = iv.load_state()
    assert {m["batch"] for m in st["files"].values()} == {0, 1, 2}


def test_many_file_table_bounded_groups(
    spark, tmp_path, checker, monkeypatch
):
    """A full run over a many-file table streams through bounded
    groups: per-batch observed counts stay at group size, the manifest
    records every file, and the live view equals a from-scratch run."""
    t = tmp_path / "many"
    df = generate_transcripts(spark, n_convs=120, turns_per_conv=4, seed=13)
    _write(df, t, n_files=96)

    monkeypatch.setattr(incremental, "FILE_GROUP_SIZE", 16)
    iv = IncrementalValidator(str(tmp_path / "ckpt"), checker=checker)
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
    the live-file frame of the live view after a file removal, a small
    ``connected_components`` result) are Arrow-built
    ``LocalRelation``s, not Python-RDD ``LogicalRDD``s: evaluating one
    of those starts a second Python worker pool."""
    from datacheck_spark.dedup import connected_components

    iv = IncrementalValidator(str(tmp_path / "ckpt"), checker=checker)
    empty = iv.live_violations(spark)  # nothing committed yet
    assert empty.count() == 0
    assert dict(empty.dtypes)["batch"] == "int"
    iv.run(spark, str(table))
    os.remove(key_to_path(sorted(list_data_files(spark, str(table)))[0]))
    iv.run(spark, str(table))
    pairs = spark.read.parquet(str(table)).select(
        F.col("conv_id").alias("id_a"), F.col("conv_id").alias("id_b")
    ).limit(3)
    for df in (empty, iv.live_violations(spark), connected_components(pairs)):
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan


def test_error_rows_count_failing_rows(spark, tmp_path, checker):
    """A file's ``error_rows`` is the number of rows failing an ERROR
    rule, the unit of ``TranscriptChecker.run(...).failed_turns``: two
    failing rows sharing one (conv_id, turn_idx) and two failing rows
    whose keys are null count as four rows, not as two distinct keys."""
    from datetime import datetime

    ts = datetime(2026, 1, 1)
    df = spark.createDataFrame(
        [
            ("c1", 0, "user", "hello there", None, ts),
            ("c1", 1, "user", "   ", None, ts),
            ("c1", 1, "robot", "a fine answer", None, ts),
            (None, None, "user", "who am i", None, ts),
            (None, None, "assistant", "nobody", None, ts),
        ],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    t = tmp_path / "one_file"
    _write(df, t, n_files=1)
    iv = IncrementalValidator(str(tmp_path / "ckpt"), checker=checker)
    iv.run(spark, str(t))
    (m,) = iv.load_state()["files"].values()
    report = checker.run(spark.read.parquet(str(t)), detect_anomalies=False)
    assert m["error_rows"] == report.failed_turns == 4
    assert m["rows"] == 5
    assert m["violations"] == iv.live_violations(spark).count()


def _jobs_of(spark, group, action):
    """``action()`` and the ids of the Spark jobs it ran, counted by a
    job group of its own (``group`` must be unique in the session)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_group_is_one_write_job(spark, tmp_path, table, checker):
    """One file group runs at most 2 Spark jobs, its schema read and
    the write of its violation rows, and every file of the group gets
    its counts from that write: zeros, not nulls, for a clean file."""
    from datetime import datetime

    clean = spark.createDataFrame(
        [("ok", 0, "user", "hello there", None, datetime(2026, 1, 1))],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    _write(clean, table / "clean", n_files=1)
    paths = sorted(list_data_files(spark, str(table)))
    iv = IncrementalValidator(str(tmp_path / "ckpt"), checker=checker)
    (counts, _), jobs = _jobs_of(
        spark, "incremental-group-guard",
        lambda: iv._validate_group(spark, paths, 0),
    )
    assert 1 <= len(jobs) <= 2, jobs
    assert set(counts) == set(paths)
    for p in paths:
        assert all(type(counts[p][k]) is int for k in counts[p]), counts[p]
    assert [counts[p] for p in paths if "/clean/" in p] == [
        {"rows": 1, "violations": 0, "error_rows": 0}
    ]
    full = spark.read.parquet(*[key_to_path(p) for p in paths])
    assert sum(m["rows"] for m in counts.values()) == full.count()
    assert sum(m["violations"] for m in counts.values()) == (
        spark.read.parquet(iv._batch_dir(0)).count()
    )


def _append(spark, table, seed):
    extra = generate_transcripts(
        spark, n_convs=10, turns_per_conv=6, seed=seed
    ).withColumn("conv_id", F.concat(F.lit(f"a{seed}_"), F.col("conv_id")))
    _write(extra, table, n_files=1)


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_append_only_view_is_one_read(
    spark, tmp_path, table, checker, monkeypatch
):
    """In an append-only history every committed batch holds all its
    files: the live view is the read of the batch dirs alone, with the
    manifest's schema, so building it runs no schema-inference job and
    its plan has no join (no broadcast) and no live-file frame."""
    monkeypatch.setattr(incremental, "FILE_GROUP_SIZE", 2)
    iv = IncrementalValidator(str(tmp_path / "ckpt"), checker=checker)
    iv.run(spark, str(table))  # 2 batches
    _append(spark, table, seed=41)
    iv.run(spark, str(table))  # a third
    assert len(iv.load_state()["batches"]) == 3
    view, jobs = _jobs_of(
        spark, "live-view-build", lambda: iv.live_violations(spark)
    )
    assert jobs == []
    plan = _plan(view)
    assert "Join" not in plan and "LocalRelation" not in plan, plan
    assert view.count() == iv.summary()["violations"]
    executed = view._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" not in executed, executed
    full = checker.violations(spark.read.parquet(str(table)))
    assert _vset(view) == _vset(full)


@pytest.mark.parametrize("change", ["removed", "replaced"])
def test_superseded_file_brings_back_semi_join(
    spark, tmp_path, table, checker, change
):
    """A removed or an in-place replaced file leaves its batch short of
    the files it was written with: the view semi-joins the live-file
    set again, and equals a from-scratch run. A compaction folds the
    live rows into one whole batch, so the join goes again."""
    import shutil

    iv = IncrementalValidator(str(tmp_path / "ckpt"), checker=checker)
    iv.run(spark, str(table))
    victim = key_to_path(sorted(list_data_files(spark, str(table)))[0])
    if change == "removed":
        os.remove(victim)
    else:
        other = tmp_path / "other"
        _append(spark, other, seed=43)
        shutil.copyfile(next(other.glob("*.parquet")), victim)
        # the writer's checksum sidecar no longer matches the bytes
        crc = Path(victim).with_name(f".{Path(victim).name}.crc")
        crc.unlink(missing_ok=True)
    out = iv.run(spark, str(table))
    assert out[f"{change}_files"] == 1
    view = iv.live_violations(spark)
    assert "LeftSemi" in _plan(view)
    full = checker.violations(spark.read.parquet(str(table)))
    assert _vset(view) == _vset(full)
    iv.compact(spark)
    compacted = iv.live_violations(spark)
    assert "Join" not in _plan(compacted)
    assert _vset(compacted) == _vset(full)


def test_manifest_without_schema_infers_it(spark, tmp_path, table, checker):
    """The first commit records the violation-row schema as a DDL
    string; a manifest without it (written before it was recorded)
    infers the schema from the batch dirs and reads the same rows."""
    iv = IncrementalValidator(str(tmp_path / "ckpt"), checker=checker)
    iv.run(spark, str(table))
    state = iv.load_state()
    assert state["schema"] == (
        "conv_id STRING,turn_idx INT,src_file STRING,rule_id STRING,"
        "rule_name STRING,severity STRING,observed STRING,batch INT"
    )
    stored = iv.live_violations(spark)
    del state["schema"]
    iv._save_state(state)
    inferred, jobs = _jobs_of(
        spark, "live-view-infer", lambda: iv.live_violations(spark)
    )
    assert jobs  # the schema-inference job
    assert inferred.schema == stored.schema
    assert sorted(inferred.collect()) == sorted(stored.collect())


def test_rule_version_bump_clears_schema(spark, tmp_path, table, checker):
    """A rule_version bump starts a fresh manifest: the stored schema
    goes with the old batches, and the new first commit records it."""
    iv = IncrementalValidator(str(tmp_path / "ckpt"), checker=checker)
    iv.run(spark, str(table))
    schema = iv.load_state()["schema"]
    iv2 = IncrementalValidator(
        str(tmp_path / "ckpt"), rule_version="v2", checker=checker
    )
    assert "schema" not in iv2.load_state()
    iv2.run(spark, str(table))
    assert iv2.load_state()["schema"] == schema
