"""CLI drive tests: contribute and watch subcommands (reference
``cli.py:403-461`` and ``cli.py:500-598``)."""

import json

import pytest
from pyspark.sql import functions as F

from datacheck_spark.cli import main


def _write_responses(tmp_path, n=20):
    p = tmp_path / "responses.jsonl"
    with open(p, "w", encoding="utf-8") as f:
        for i in range(n):
            f.write(
                json.dumps(
                    {
                        "task_id": f"t{i}",
                        "annotated_at": "2026-01-02T00:00:00",
                        "score": i % 5,
                        "comment": "detailed review comment " * (3 if i % 4 == 0 else 0),
                        "text": f"annotation text {i}",
                    }
                )
                + "\n"
            )
    return p


def test_contribute_cli(spark, tmp_path, capsys):
    responses = _write_responses(tmp_path)
    out = tmp_path / "contrib.json"
    rc = main(["contribute", str(responses), "-o", str(out), "--annotator", "a1"])
    assert rc == 0
    data = json.loads(out.read_text())
    assert data["total_responses"] == 20
    assert data["annotator_id"] == "a1"
    assert len(data["contributions"]) == 20
    for rec in data["contributions"]:
        assert rec["weight"] >= 0
        # weight = base*quality*time*scarcity (rounded 2dp)
        expected = round(
            rec["base"]
            * rec["quality_multiplier"]
            * rec["time_multiplier"]
            * rec["scarcity_multiplier"],
            2,
        )
        assert abs(rec["weight"] - expected) < 0.011
    # corner_case rows (long comment) must outweigh plain reviews
    types = {r["contrib_type"] for r in data["contributions"]}
    assert "corner_case" in types and "review" in types


def test_watch_cli_rechecks_on_change(spark, tmp_path, capsys):
    data = tmp_path / "watched"
    data.mkdir()
    f1 = data / "a.jsonl"
    f1.write_text('{"id": "1", "text": "hello world"}\n')

    import threading
    import time

    rcs = []

    def run():
        rcs.append(
            main(
                [
                    "watch",
                    str(data),
                    "--debounce",
                    "0.5",
                    "--timeout",
                    "6",
                    "--max-checks",
                    "1",
                ]
            )
        )

    t = threading.Thread(target=run)
    t.start()
    # keep modifying until the watcher exits: a single timed write can
    # land BEFORE the cold initial check finishes (and then be folded
    # into the baseline snapshot, triggering nothing); repeated writes
    # guarantee one lands after the baseline, --max-checks 1 then exits
    deadline = time.time() + 120
    i = 0
    while t.is_alive() and time.time() < deadline:
        f1.write_text(
            '{"id": "1", "text": "hello world"}\n'
            f'{{"id": "m{i}", "text": "more"}}\n'
        )
        i += 1
        time.sleep(1.0)
    t.join(timeout=5)
    assert not t.is_alive()
    assert rcs == [0]
    out = capsys.readouterr().out
    # initial check + at least one re-check after the modification
    assert out.count("checked") >= 2


def _make_analysis_dir(tmp_path, with_schema=True, with_synthetic=True,
                       with_samples=True):
    base = tmp_path / "analysis"
    if with_schema:
        sp = base / "04_复刻指南"
        sp.mkdir(parents=True)
        (sp / "DATA_SCHEMA.json").write_text(json.dumps({
            "fields": [
                {"name": "instruction", "type": "text", "required": True},
                {"name": "response", "type": "text", "required": True},
            ],
            "constraints": {"min_length": 1, "max_length": 1000},
        }), encoding="utf-8")
    if with_synthetic:
        sy = base / "11_合成数据"
        sy.mkdir(parents=True, exist_ok=True)
        (sy / "synthetic.json").write_text(json.dumps({"samples": [
            {"id": "1", "instruction": "What is AI?",
             "response": "Artificial intelligence."},
            {"id": "2", "instruction": "",
             "response": "orphan response"},  # non_empty ERROR
        ]}), encoding="utf-8")
    if with_samples:
        sa = base / "09_样例数据"
        sa.mkdir(parents=True, exist_ok=True)
        (sa / "samples.json").write_text(json.dumps({"samples": [
            {"id": "r1", "instruction": "Define ML",
             "response": "Machine learning."},
        ]}), encoding="utf-8")
    base.mkdir(exist_ok=True)
    return base


def test_check_llm_ruleset_cli(spark, tmp_path, capsys):
    """`check --ruleset llm` = builtin rules + the llm_quality INFO
    judge (reference rules.py:478-498), offline mock provider."""
    data = tmp_path / "pairs.jsonl"
    good_inst = "please summarise the quarterly report in plain words"
    good_resp = "the quarterly report shows plain steady growth in words"
    with open(data, "w", encoding="utf-8") as f:
        f.write(json.dumps({"id": "good", "instruction": good_inst,
                            "response": good_resp}) + "\n")
        f.write(json.dumps({"id": "bad", "instruction": "hi",
                            "response": "x"}) + "\n")
    out_path = tmp_path / "report.json"
    rc = main(["check", str(data), "--ruleset", "llm", "-f", "json",
               "-o", str(out_path), "--threshold", "0.0"])
    capsys.readouterr()
    assert rc == 0
    report = json.loads(out_path.read_text())
    rr = report["rule_results"]["llm_quality"]
    assert rr["severity"] == "info"
    assert rr["passed"] == 1 and rr["failed"] == 1
    assert rr["failed_samples"] == ["bad"]
    # without -f the .json extension still picks the saved format
    out2 = tmp_path / "report2.json"
    rc = main(["check", str(data), "-o", str(out2), "--threshold", "0.0"])
    capsys.readouterr()
    assert rc == 0
    assert "summary" in json.loads(out2.read_text())


def test_check_directory_pattern_cli(spark, tmp_path, capsys):
    """`check <dir> --pattern` restricts the directory scan."""
    d = tmp_path / "data"
    d.mkdir()
    (d / "a.jsonl").write_text(json.dumps({"id": "1", "text": "ok row"}))
    (d / "b.csv").write_text("id,text\n2,also ok\n")
    rc = main(["check", str(d), "--pattern", "*.jsonl", "-f", "json"])
    out = json.loads(capsys.readouterr().out)
    assert rc == 0
    assert out["total_files"] == 1 and "a.jsonl" in out["file_results"]
    # default format renders the batch markdown report
    rc = main(["check", str(d)])
    md = capsys.readouterr().out
    assert rc == 0
    assert "# Batch Data Quality Report" in md and "a.jsonl" in md
    assert "b.csv" in md  # no pattern: both files checked
    # per-file threshold gating: any file below the bar fails the run
    (d / "c.jsonl").write_text(json.dumps({"id": "3", "text": "   "}))
    rc = main(["check", str(d), "--threshold", "0.9"])
    capsys.readouterr()
    assert rc == 1


def test_compare_multi_file_cli(spark, tmp_path, capsys):
    """`compare` over N files: per-field distribution markdown report
    (reference cli.py:236-313); <2 files is a usage error."""
    files = []
    for name, scale in (("a", 1), ("b", 3), ("c", 5)):
        p = tmp_path / f"{name}.jsonl"
        with open(p, "w", encoding="utf-8") as f:
            for i in range(20):
                f.write(
                    json.dumps(
                        {"id": f"{name}{i}", "text": "word " * (i % 5 + scale),
                         "score": float(i * scale)}
                    ) + "\n"
                )
        files.append(str(p))
    out_md = tmp_path / "cmp.md"
    rc = main(["compare", *files, "-o", str(out_md)])
    capsys.readouterr()
    assert rc == 0
    report = out_md.read_text()
    assert report.count("jsonl |") == 3  # one summary row per file
    assert "### text" in report and "### score" in report
    assert main(["compare", files[0]]) == 1
    capsys.readouterr()


def test_validate_cli_datarecipe(spark, tmp_path, capsys):
    """validate reads the DataRecipe schema, picks synthetic data, and
    writes the report into 12_质检报告 (reference cli.py:178-236)."""
    base = _make_analysis_dir(tmp_path)
    rc = main(["validate", str(base)])
    assert rc == 0  # pass_rate 0.5 == default threshold
    report = base / "12_质检报告" / "quality_report.md"
    assert report.exists()
    assert "数据验证报告" in report.read_text(encoding="utf-8")
    # strict mode: the blank instruction is an ERROR -> exit 1
    rc = main(["validate", str(base), "--strict"])
    assert rc == 1
    # raised threshold gates too
    rc = main(["validate", str(base), "--threshold", "0.9"])
    assert rc == 1


def test_validate_cli_missing_schema(spark, tmp_path, capsys):
    """Missing DATA_SCHEMA.json is the reference's failed-CheckResult
    path (checker.py:385-386): exit 1, no report."""
    base = _make_analysis_dir(tmp_path, with_schema=False)
    rc = main(["validate", str(base)])
    assert rc == 1
    err = capsys.readouterr().err
    assert "Schema not found" in err


def test_validate_cli_samples_fallback_and_no_data(spark, tmp_path, capsys):
    base = _make_analysis_dir(tmp_path, with_synthetic=False)
    rc = main(["validate", str(base), "-f", "json"])
    assert rc == 0  # falls back to 09_样例数据/samples.json (all clean)
    report = base / "12_质检报告" / "quality_report.json"
    assert json.loads(report.read_text(encoding="utf-8"))["summary"]
    base2 = _make_analysis_dir(tmp_path / "x", with_synthetic=False,
                               with_samples=False)
    rc = main(["validate", str(base2)])
    assert rc == 1
    assert "No data file found" in capsys.readouterr().err


def test_transcripts_structure_cli(spark, tmp_path, capsys):
    """`transcripts --structure` adds the cross-turn verdict summary;
    the planted duplicate keys surface as non-contiguous/failing
    conversations."""
    from datacheck_spark.transcripts import generate_transcripts

    data = str(tmp_path / "t.parquet")
    generate_transcripts(spark, n_convs=150, turns_per_conv=6).write.parquet(
        data
    )
    rc = main(["transcripts", data, "--structure"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc in (0, 1)
    s = out["structure"]
    assert s["conversations"] == 150
    # ~0.5% duplicated keys over ~900 turns -> a few failing convs
    assert s["failing"] >= 1
    assert s["non_contiguous"] >= 1
    assert s["failing"] <= s["conversations"]


def test_transcripts_conv_dedup_cli(spark, tmp_path, capsys):
    """`transcripts --conv-dedup` reports conversation-level exact
    duplicate groups; the synthetic generator plants none (every
    conversation's text is cid-seeded), so the honest rollup is 0/0 —
    planted duplicates are covered by test_transcripts'
    test_conversation_dedup_planted."""
    from datacheck_spark.transcripts import generate_transcripts

    data = str(tmp_path / "t.parquet")
    generate_transcripts(spark, n_convs=60, turns_per_conv=4).write.parquet(
        data
    )
    rc = main(["transcripts", data, "--conv-dedup"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc in (0, 1)
    d = out["conversation_dedup"]
    assert d == {
        "conversations": 60,
        "duplicate_groups": 0,
        "duplicate_conversations": 0,
        "removable_conversations": 0,
    }


def test_conv_dedup_cli_and_api_print_one_summary(spark, tmp_path, capsys):
    """`transcripts --conv-dedup` and the API's ``dedup_conversations``
    print the same rollup (``transcripts.conversation_dedup_summary``)
    on one table: a, b identical; c, d, e identical; f unique."""
    import datetime as dt

    from datacheck_spark import api

    t0 = dt.datetime(2026, 1, 1)

    def conv(cid, reply):
        return [
            (cid, 0, "user", "hello there", None, t0),
            (cid, 1, "assistant", reply, None, t0),
        ]

    rows = [
        turn
        for cid, reply in [("a", "hi"), ("b", "hi"), ("c", "yo"),
                           ("d", "yo"), ("e", "yo"), ("f", "hey")]
        for turn in conv(cid, reply)
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    table = tmp_path / "t"
    df.where(F.col("conv_id") < "d").write.parquet(str(table / "base"))
    df.where(F.col("conv_id") >= "d").write.parquet(str(table / "append_000"))
    rc = main(["transcripts", str(table), "--conv-dedup"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc in (0, 1)
    expected = {
        "conversations": 6,
        "duplicate_groups": 2,
        "duplicate_conversations": 5,
        "removable_conversations": 3,
    }
    assert out["conversation_dedup"] == expected
    tool = api.call_tool(spark, "dedup_conversations", {"path": str(table)})
    assert tool["summary"] == expected
    assert sorted(g["conv_ids"] for g in tool["duplicate_groups"]) == [
        "a,b", "c,d,e",
    ]


def test_check_parquet_directory_strict(spark, tmp_path, capsys):
    """`check DIR --strict` on a Spark-written parquet directory (the
    README's `check data.parquet` loop) checks every row as one
    dataset: a planted blank text fails the gate."""
    rows = [(str(i), f"an ordinary sentence number {i}") for i in range(9)]
    rows.append(("9", "   "))
    data = tmp_path / "data.parquet"
    spark.createDataFrame(rows, "id string, text string").repartition(
        3
    ).write.parquet(str(data))
    report = tmp_path / "report.json"
    rc = main(["check", str(data), "-f", "json", "--strict",
               "-o", str(report)])
    capsys.readouterr()
    assert rc == 1
    summary = json.loads(report.read_text())["summary"]
    assert summary["total_samples"] == 10
    assert summary["failed_samples"] == 1


@pytest.mark.parametrize("name", ["out.jsonl", "out.json"])
def test_check_spark_written_json_directory_strict(
    spark, tmp_path, capsys, name
):
    """A directory named like a JSON file, as ``write_jsonl`` leaves
    it, is one dataset: `check DIR --strict` reads all its rows and the
    blank responses fail the gate."""
    from datacheck_spark import sources as SRC

    rows = [
        (str(i), f"question number {i}", "" if i % 2 else f"answer {i}")
        for i in range(6)
    ]
    data = tmp_path / name
    SRC.write_jsonl(
        spark.createDataFrame(rows, "id string, instruction string, "
                                    "response string"),
        str(data),
    )
    assert not SRC.is_batch_directory(str(data))
    report = tmp_path / "report.json"
    rc = main(["check", str(data), "-f", "json", "--strict",
               "-o", str(report)])
    capsys.readouterr()
    assert rc == 1
    assert json.loads(report.read_text())["summary"]["total_samples"] == 6


def test_check_strict_fails_when_no_file_was_read(spark, tmp_path, capsys):
    """A batch `check DIR` that skips every file (here unparseable
    `.json` files) reports `total_files: 0`; under `--strict` that run
    fails. A directory Spark wrote (it holds `_SUCCESS`) is no batch:
    `check` reads it as one dataset, every row."""
    from datacheck_spark import sources as SRC

    bad = tmp_path / "unparseable"
    bad.mkdir()
    for name in ("a.json", "b.json"):
        (bad / name).write_text("{not json", encoding="utf-8")
    assert SRC.is_batch_directory(str(bad))
    rc = main(["check", str(bad), "-f", "json", "--strict"])
    out = json.loads(capsys.readouterr().out)
    assert out["total_files"] == 0 and out["skipped_files"]
    assert rc == 1
    assert main(["check", str(bad), "-f", "json"]) == 0
    capsys.readouterr()

    rows = [
        (str(i), f"question number {i}", "" if i % 2 else f"answer {i}")
        for i in range(6)
    ]
    data = tmp_path / "outdir"
    SRC.write_jsonl(
        spark.createDataFrame(rows, "id string, instruction string, "
                                    "response string"),
        str(data),
    )
    assert not SRC.is_batch_directory(str(data))
    assert main(["check", str(data), "-f", "json"]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["summary"]["total_samples"] == 6
    failed = out["rule_results"]["non_empty"]["failed_samples"]
    assert sorted(failed) == ["1", "3", "5"]


def test_infer_suggest_drift_read_every_row_of_an_appended_table(
    spark, appended_table, capsys
):
    """`infer`, `suggest` and `drift` open a ``base/`` +
    ``append_000/`` table the way the store lists it: every row."""
    path, df = appended_table
    n = df.count()
    assert main(["infer", path]) == 0
    assert json.loads(capsys.readouterr().out)["sample_count"] == n
    assert main(["suggest", path, "--format", "json"]) == 0
    rules = json.loads(capsys.readouterr().out)["rules"]
    (bucket,) = [
        r for r in rules
        if r["field"] == "conv_bucket" and r["check"] == "number_range"
    ]
    lo, hi = df.agg(F.min("conv_bucket"), F.max("conv_bucket")).first()
    assert (bucket["min"], bucket["max"]) == (lo, hi)
    assert main(["drift", path, path]) == 0
    rep = json.loads(capsys.readouterr().out)
    assert rep["count_a"] == rep["count_b"] == n


def test_check_rejects_an_unknown_ruleset(tmp_path, capsys):
    """`--ruleset` takes only the names ``resolve_ruleset`` knows; a
    typo is a usage error, not a silent builtin run."""
    data = tmp_path / "a.jsonl"
    data.write_text(json.dumps({"id": "1", "text": "ok"}) + "\n")
    for argv in (["check", str(data)], ["rules"], ["watch", str(data)]):
        with pytest.raises(SystemExit) as exc:
            main(argv + ["--ruleset", "sfT"])
        assert exc.value.code == 2
        assert "sfT" in capsys.readouterr().err


def test_transcripts_daily_verdicts_cli(spark, tmp_path, capsys):
    """`transcripts --daily-verdicts` emits one bounded verdict row per
    ts day partitioning the turn count exactly (the generator spreads
    conversations over 30 days)."""
    from datacheck_spark.transcripts import generate_transcripts

    data = str(tmp_path / "t.parquet")
    df = generate_transcripts(spark, n_convs=90, turns_per_conv=4)
    n_turns = df.count()
    df.write.parquet(data)
    rc = main(["transcripts", data, "--daily-verdicts"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc in (0, 1)
    days = out["daily_verdicts"]
    assert 1 < len(days) <= 30
    assert sum(r["total"] for r in days) == n_turns
    assert [r["ts_day"] for r in days] == sorted(
        r["ts_day"] for r in days
    )
    for r in days:
        assert set(r) == {"ts_day", "total", "failed", "pass_rate", "passed"}
        assert r["passed"] == (r["pass_rate"] >= 0.95)


def test_transcripts_cli_report_reads_what_the_store_lists(
    spark, tmp_path, capsys
):
    """`transcripts --checkpoint` and the full-table report that
    follows it read the same files: on a table whose append landed in
    a plain subdirectory (``base/``, ``append_000/``) and on a
    ``write_transcripts_partitioned`` table, the report's total_turns
    equals the store's live rows."""
    from datacheck_spark.transcripts import (
        generate_transcripts,
        write_transcripts_partitioned,
    )

    df = generate_transcripts(spark, n_convs=60, turns_per_conv=4)
    n_turns = df.count()
    flat = tmp_path / "flat"
    df.where(F.col("conv_bucket") < 16).write.parquet(str(flat / "base"))
    df.where(F.col("conv_bucket") >= 16).write.parquet(
        str(flat / "append_000")
    )
    part = tmp_path / "part"
    write_transcripts_partitioned(df, str(part), n_buckets=4)
    for table in (flat, part):
        ckpt = tmp_path / f"ckpt_{table.name}"
        rc = main(["transcripts", str(table), "--checkpoint", str(ckpt)])
        lines = [
            json.loads(ln)
            for ln in capsys.readouterr().out.splitlines()
            if ln.startswith("{")
        ]
        assert rc in (0, 1), table
        store = next(ln for ln in lines if "live" in ln)
        report = next(ln for ln in lines if "total_turns" in ln)
        assert store["live"]["rows"] == n_turns, table
        assert report["total_turns"] == store["live"]["rows"], table


def _readme_commands():
    """Every ``python -m datacheck_spark.cli ...`` and ``.../cli.py ...``
    command in README.md, ``\\`` continuations joined, as argv lists."""
    import re
    import shlex
    from pathlib import Path

    text = (Path(__file__).resolve().parent.parent / "README.md").read_text(
        encoding="utf-8"
    )
    cmd = re.compile(r"(?:python3? -m datacheck_spark\.cli|\S*/cli\.py)\s+(.*)")
    return [
        shlex.split(m.group(1))
        for line in text.replace("\\\n", " ").splitlines()
        if (m := cmd.search(line))
    ]


def test_readme_commands_parse(monkeypatch):
    """Each CLI command README documents parses and dispatches to its
    subcommand: a removed or renamed option fails here, not on a
    reader's cluster. The subcommands are stubbed; no Spark runs."""
    from datacheck_spark import cli

    called = []
    for name in [n for n in vars(cli) if n.startswith("cmd_")]:
        monkeypatch.setattr(
            cli, name, lambda args, name=name: called.append(name) or 0
        )
    commands = _readme_commands()
    assert {c[0] for c in commands} >= {"transcripts", "check", "suggest"}
    for argv in commands:
        assert cli.main(argv) == 0, argv
        assert called.pop() == f"cmd_{argv[0]}", argv
