"""Sources (JSONL/CSV/JSON-envelope, directory batch) and the YAML rule
compiler — mirrors reference test_checker.py load tests and
test_cli.py YAML rules tests."""

import json

import pytest
from pyspark.sql import Row, functions as F

from datacheck_spark import sources as SRC
from datacheck_spark.engine import ValidationEngine
from datacheck_spark.rules.compiler import ruleset_from_config
from datacheck_spark.schema import Severity, ValidationSchema


def test_load_jsonl(spark, tmp_path):
    p = tmp_path / "data.jsonl"
    p.write_text(
        '{"id": "1", "text": "hello"}\n'
        "\n"  # blank lines skipped
        '{"id": "2", "text": "world"}\n',
        encoding="utf-8",
    )
    df, schema = SRC.load_data(spark, str(p))
    assert df.count() == 2
    assert schema == {}


def test_load_csv_all_strings(spark, tmp_path):
    p = tmp_path / "data.csv"
    p.write_text("id,score\n1,10\n2,20\n", encoding="utf-8")
    df, _ = SRC.load_data(spark, str(p))
    assert dict(df.dtypes)["score"] == "string"  # DictReader semantics
    assert df.count() == 2


def test_load_json_envelope(spark, tmp_path):
    p = tmp_path / "data.json"
    p.write_text(
        json.dumps(
            {
                "samples": [{"id": "1", "text": "abc"}],
                "schema": {"fields": [{"name": "text", "type": "text"}]},
            }
        ),
        encoding="utf-8",
    )
    df, schema = SRC.load_data(spark, str(p))
    assert df.count() == 1
    assert schema["fields"][0]["name"] == "text"


def test_load_json_list(spark, tmp_path):
    p = tmp_path / "data.json"
    p.write_text(json.dumps([{"id": "1"}, {"id": "2"}]), encoding="utf-8")
    df, schema = SRC.load_data(spark, str(p))
    assert df.count() == 2 and schema == {}


def test_check_directory(spark, tmp_path):
    (tmp_path / "good.jsonl").write_text(
        '{"id": "1", "text": "fine content"}\n', encoding="utf-8"
    )
    (tmp_path / "bad.jsonl").write_text(
        '{"id": "2", "text": ""}\n', encoding="utf-8"
    )
    (tmp_path / "sub").mkdir()
    (tmp_path / "sub" / "more.jsonl").write_text(
        '{"id": "3", "text": "also fine"}\n', encoding="utf-8"
    )
    out = SRC.check_directory(spark, str(tmp_path))
    assert out["total_files"] == 3
    assert out["total_samples"] == 3
    assert out["total_failed_samples"] == 1  # blank text -> non_empty ERROR
    assert out["passed_files"] == 2
    assert out["overall_pass_rate"] == pytest.approx(2 / 3, abs=1e-4)


def test_batch_keys_of_percent_encoded_paths(spark, tmp_path):
    """Spark tags rows with percent-encoded URIs (``a%20b.jsonl``); the
    batch keys decode them, so ``a b.jsonl`` and ``sub/a b.jsonl`` stay
    two files, in a directory and in a file list alike (a driver-read
    ``.json`` included)."""
    root = tmp_path / "dir with space"
    (root / "sub").mkdir(parents=True)
    (root / "a b.jsonl").write_text(
        '{"id": "1", "text": "fine content"}\n', encoding="utf-8"
    )
    (root / "sub" / "a b.jsonl").write_text(
        '{"id": "2", "text": ""}\n{"id": "3", "text": "also fine"}\n',
        encoding="utf-8",
    )
    (root / "sub" / "c%41 d.json").write_text(
        json.dumps([{"id": "4", "text": "json row"}]), encoding="utf-8"
    )
    out = SRC.check_directory(spark, str(root))
    assert sorted(out["file_results"]) == [
        "a b.jsonl", "sub/a b.jsonl", "sub/c%41 d.json"
    ]
    assert out["total_files"] == 3 and out["total_samples"] == 4
    assert out["file_results"]["sub/a b.jsonl"]["failed_samples"] == 1

    given = [str(root / "a b.jsonl"), str(root / "sub" / "a b.jsonl"),
             str(root / "sub" / "c%41 d.json")]
    out = SRC.check_files(spark, given)
    assert sorted(out["file_results"]) == sorted(given)
    assert out["total_files"] == 3 and out["total_samples"] == 4


def test_relative_paths_follow_the_python_working_directory(
    spark, tmp_path, monkeypatch
):
    """Spark resolves a relative path against the JVM's working
    directory; the readers resolve it against this process's first, so
    a path relative to a changed directory still opens."""
    (tmp_path / "d2").mkdir()
    (tmp_path / "d2" / "a.jsonl").write_text(
        '{"id": "1", "text": "fine content"}\n{"id": "2", "text": ""}\n',
        encoding="utf-8",
    )
    (tmp_path / "d2" / "b.csv").write_text(
        "id,text\n3,also fine\n", encoding="utf-8"
    )
    monkeypatch.chdir(tmp_path)
    out = SRC.check_files(spark, ["d2/a.jsonl", "d2/b.csv"])
    assert sorted(out["file_results"]) == ["d2/a.jsonl", "d2/b.csv"]
    assert out["total_samples"] == 3
    assert out["file_results"]["d2/a.jsonl"]["failed_samples"] == 1
    df, _ = SRC.load_data(spark, "d2/a.jsonl")
    assert df.count() == 2
    df, _ = SRC.load_data(spark, "d2/b.csv")
    assert df.count() == 1


def test_check_directory_corrupt_accounting(spark, tmp_path):
    (tmp_path / "good.jsonl").write_text(
        '{"id": "1", "text": "fine content"}\n', encoding="utf-8"
    )
    (tmp_path / "broken.jsonl").write_text(
        '{"id": "2", "text": "ok row"}\n{not json at all\n', encoding="utf-8"
    )
    out = SRC.check_directory(spark, str(tmp_path))
    assert out["total_samples"] == 2  # corrupt line excluded
    assert any("broken.jsonl" in s for s in out["skipped_files"])


def test_sample_df_seeded(spark):
    df = spark.range(100).select(F.col("id").cast("string").alias("id"))
    s1, flag1 = SRC.sample_df(df, sample_count=10)
    s2, _ = SRC.sample_df(df, sample_count=10)
    assert flag1 is True
    assert sorted(r["id"] for r in s1.collect()) == sorted(
        r["id"] for r in s2.collect()
    )
    s3, flag3 = SRC.sample_df(df, sample_rate=0.2)
    assert flag3 is True and 0 < s3.count() < 100


CONFIG = {
    "name": "orders-check",
    "rules": [
        {"field": "status", "check": "required", "severity": "error"},
        {"field": "status", "check": "enum", "values": ["new", "done"],
         "severity": "error", "message": "status must be valid"},
        {"field": "note", "check": "min_length", "value": 3, "severity": "warning"},
        {"field": "note", "check": "regex", "pattern": "^[a-z ]+$",
         "severity": "info"},
        {"field": "amount", "check": "number_range", "min": 0, "max": 100,
         "severity": "error"},
        {"field": "reason", "check": "conditional_required",
         "condition": {"field": "amount", "operator": ">", "value": 50},
         "severity": "error"},
    ],
}


def test_yaml_config_compiler(spark):
    rs = ruleset_from_config(CONFIG)
    assert rs.name == "orders-check"
    assert "config_status_enum_1" in rs.rules
    assert rs.rules["config_status_enum_1"].name == "status must be valid"
    assert rs.rules["config_status_enum_1"].severity == Severity.ERROR

    df = spark.createDataFrame(
        [
            Row(id="ok", status="new", note="abc def", amount=10.0, reason=None),
            Row(id="bad_enum", status="weird", note="abc", amount=10.0, reason=None),
            Row(id="short_note", status="done", note="ab", amount=10.0, reason=None),
            Row(id="regex_fail", status="done", note="ABC", amount=10.0, reason=None),
            Row(id="range_fail", status="done", note="abc", amount=500.0, reason="big"),
            Row(id="cond_fail", status="done", note="abc", amount=60.0, reason=None),
            Row(id="cond_ok", status="done", note="abc", amount=60.0, reason="fine"),
        ]
    )
    engine = ValidationEngine(ruleset=rs, schema=ValidationSchema())
    res = engine.check(
        df, find_duplicates=False, find_near_duplicates=False,
        detect_anomalies=False, compute_distribution=False,
    )
    rr = res.rule_results
    assert rr["config_status_enum_1"]["failed_samples"] == ["bad_enum"]
    assert rr["config_note_min_length_2"]["failed_samples"] == ["short_note"]
    assert rr["config_note_regex_3"]["failed_samples"] == ["regex_fail"]
    assert rr["config_amount_number_range_4"]["failed_samples"] == ["range_fail"]
    assert rr["config_reason_conditional_required_5"]["failed_samples"] == ["cond_fail"]
    # errors fail samples; warning/info don't
    assert sorted(res.failed_sample_ids) == sorted(
        ["bad_enum", "range_fail", "cond_fail"]
    )


def test_json_check_types(spark):
    """Beyond-reference json_valid / json_path config checks: native
    Column semantics over JSON payload strings (null fails both;
    scalar JSON is valid; missing path fails; range gates on the
    extracted value)."""
    from datacheck_spark.rules.compiler import _config_check_column

    df = spark.createDataFrame(
        [
            ("valid_obj", '{"k": 42}'),
            ("valid_scalar", "89"),
            ("invalid", "nope"),
            ("nul", None),
            ("k_out_of_range", '{"k": 99}'),
            ("k_not_number", '{"k": "x"}'),
        ],
        "id string, props string",
    )
    jv = _config_check_column(df, "props", "json_valid", {})
    jk = _config_check_column(
        df, "props", "json_path", {"path": "$.k", "min": 0, "max": 50}
    )
    jm = _config_check_column(df, "props", "json_path", {"path": "$.m"})
    rows = {
        r["id"]: r
        for r in df.select(
            "id", jv.alias("jv"), jk.alias("jk"), jm.alias("jm")
        ).collect()
    }
    assert {k: v["jv"] for k, v in rows.items()} == {
        "valid_obj": True, "valid_scalar": True, "invalid": False,
        "nul": False, "k_out_of_range": True, "k_not_number": True,
    }
    assert {k: v["jk"] for k, v in rows.items()} == {
        "valid_obj": True, "valid_scalar": False, "invalid": False,
        "nul": False, "k_out_of_range": False, "k_not_number": False,
    }
    assert not any(v["jm"] for v in rows.values())
    # and through the YAML round-trip
    rs = ruleset_from_config(
        {"rules": [{"field": "props", "check": "json_valid"}]},
        load_builtins=False,
    )
    assert "config_props_json_valid_0" in rs.rules


def test_config_unknown_check_raises():
    # reference raises at config-load time (rules.py:338-339)
    with pytest.raises(ValueError, match="unknown check type"):
        ruleset_from_config({"rules": [{"field": "x", "check": "bogus"}]})


def test_preset_rulesets(spark):
    from datacheck_spark.rules.compiler import (
        get_sft_ruleset,
        get_preference_ruleset,
        get_annotation_ruleset,
    )

    sft = get_sft_ruleset()
    df = spark.createDataFrame(
        [Row(id="1", instruction="short", response="ok")]
    )
    engine = ValidationEngine(ruleset=sft, schema=ValidationSchema())
    res = engine.check(df, find_duplicates=False, find_near_duplicates=False,
                       detect_anomalies=False, compute_distribution=False)
    assert res.rule_results["instruction_quality"]["failed"] == 1
    assert res.rule_results["response_quality"]["failed"] == 1

    pref = get_preference_ruleset()
    df2 = spark.createDataFrame(
        [Row(id="1", prompt="p", chosen="same", rejected="same"),
         Row(id="2", prompt="p", chosen="a", rejected="b")]
    )
    engine2 = ValidationEngine(ruleset=pref, schema=ValidationSchema())
    res2 = engine2.check(df2, find_duplicates=False, find_near_duplicates=False,
                         detect_anomalies=False, compute_distribution=False)
    assert res2.rule_results["chosen_rejected_different"]["failed_samples"] == ["1"]

    ann = get_annotation_ruleset()
    df3 = spark.createDataFrame(
        [Row(id="1", task_id="T1", score=1, annotated_at="2026-01-01"),
         Row(id="2", task_id=None, score=1, annotated_at=None)]
    )
    engine3 = ValidationEngine(ruleset=ann, schema=ValidationSchema())
    res3 = engine3.check(df3, find_duplicates=False, find_near_duplicates=False,
                         detect_anomalies=False, compute_distribution=False)
    assert res3.rule_results["annotation_task_id"]["failed_samples"] == ["2"]
    assert "non_empty" not in res3.rule_results  # disabled in preset



def test_resolve_ruleset(tmp_path):
    """One resolver: each name to its preset, ``llm`` to the builtins
    (its judge rule runs after the fused pass), a rules file over the
    name, and an unknown name raises naming the valid ones."""
    from datacheck_spark.rules.compiler import RULESET_NAMES, resolve_ruleset

    assert RULESET_NAMES == ("default", "llm", "sft", "preference", "annotation")
    assert resolve_ruleset().name == "default"
    assert resolve_ruleset("llm").name == "default"
    for name in ("sft", "preference", "annotation"):
        assert resolve_ruleset(name).name == name
    rules = tmp_path / "mine.yaml"
    rules.write_text("rules:\n  - field: text\n    check: non_empty\n")
    assert resolve_ruleset("sft", str(rules)).name == "mine"
    with pytest.raises(ValueError, match="'sfT'; valid: default, llm"):
        resolve_ruleset("sfT")


def test_schema_from_file(tmp_path):
    p = tmp_path / "schema.json"
    p.write_text(json.dumps(
        {"fields": [{"name": "text"}], "constraints": {"max_length": 9}}
    ))
    schema = ValidationSchema.from_file(str(p))
    assert [f.name for f in schema.fields] == ["text"]
    assert schema.max_length == 9


def test_load_data_opens_parquet_tables_recursively(spark, tmp_path):
    """Any path without a .json/.jsonl/.csv/.orc suffix is a parquet
    table read recursively: a single file, a directory of
    subdirectories, and a hive-partitioned directory — whose partition
    values (``k=0/``) are NOT columns, as in the incremental store."""
    df = spark.createDataFrame(
        [(i, i % 2, f"t{i}") for i in range(6)], "id int, k int, text string"
    )
    hive = tmp_path / "hive.parquet"
    df.coalesce(1).write.partitionBy("k").parquet(str(hive))
    back, schema = SRC.load_data(spark, str(hive))
    assert schema == {}
    assert back.columns == ["id", "text"]
    assert sorted(r["id"] for r in back.collect()) == list(range(6))
    (one,) = (hive / "k=0").glob("*.parquet")
    assert SRC.load_data(spark, str(one))[0].count() == 3
    nested = tmp_path / "t"
    df.where("k = 0").write.parquet(str(nested / "base"))
    df.where("k = 1").write.parquet(str(nested / "append_000" / "x"))
    assert SRC.load_data(spark, str(nested))[0].count() == 6


def test_is_batch_directory(spark, tmp_path):
    """``check``/``watch`` check a directory file by file only when it
    holds JSON/JSONL/CSV files; a parquet directory is one dataset."""
    jd = tmp_path / "j"
    (jd / "sub").mkdir(parents=True)
    (jd / "sub" / "a.csv").write_text("id\n1\n")
    pq = tmp_path / "p"
    spark.range(3).write.parquet(str(pq))
    assert SRC.is_batch_directory(str(jd))
    assert not SRC.is_batch_directory(str(pq))
    assert not SRC.is_batch_directory(str(jd / "sub" / "a.csv"))
    assert not SRC.is_batch_directory(str(tmp_path / "missing"))


def test_sample_deterministic(spark):
    from datacheck_spark.sources import sample_deterministic

    df = spark.range(10000).withColumnRenamed("id", "k")
    s1 = {r["k"] for r in sample_deterministic(df, "k", 0.2).collect()}
    s2 = {r["k"] for r in sample_deterministic(df, "k", 0.2).collect()}
    assert s1 == s2  # deterministic
    assert 0.15 < len(s1) / 10000 < 0.25  # near the requested rate
    bigger = {r["k"] for r in sample_deterministic(df, "k", 0.5).collect()}
    assert s1 <= bigger  # monotone in rate (same hash, higher threshold)
    other_seed = {
        r["k"] for r in sample_deterministic(df, "k", 0.2, seed=7).collect()
    }
    assert other_seed != s1


def test_load_orc_and_parquet(spark, tmp_path):
    from datacheck_spark.sources import load_data

    df = spark.createDataFrame(
        [("1", "hello", 3.5), ("2", "world", 4.5)],
        "id string, text string, score double",
    )
    orc = str(tmp_path / "t.orc")
    pq = str(tmp_path / "t.parquet")
    df.write.orc(orc)
    df.write.parquet(pq)
    for path in (orc, pq):
        back, schema = load_data(spark, path)
        assert schema == {}
        assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
        # typed columnar read: score stays double (unlike CSV all-string)
        assert dict(back.dtypes)["score"] == "double"


def test_stratified_sample_deterministic(spark):
    from datacheck_spark.sources import (
        sample_deterministic,
        stratified_sample_deterministic,
    )
    from pyspark.sql import functions as F

    df = spark.range(6000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias("g"),
    )
    out = stratified_sample_deterministic(
        df, "k", "g", rates={"g0": 1.0, "g1": 0.3}, default_rate=0.0
    )
    by_g = {r["g"]: r["n"] for r in out.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert by_g.get("g0") == 2000            # rate 1.0 keeps all
    assert 450 < by_g.get("g1", 0) < 750     # ~30% of 2000
    assert "g2" not in by_g                  # default 0.0 drops all
    # per-stratum membership equals the flat sampler at the same rate
    flat = {r["k"] for r in sample_deterministic(df.where(F.col("g") == "g1"), "k", 0.3).collect()}
    strat = {r["k"] for r in out.where(F.col("g") == "g1").collect()}
    assert flat == strat
