"""Engine core tests — mirrors the reference's checker-core suite
(`/root/reference/tests/test_checker.py`) goldens where applicable."""

import sys
from pathlib import Path

import pytest
from pyspark.sql import Row

from datacheck_spark.engine import ValidationEngine, CheckResult
from datacheck_spark.rules.compiler import RuleSet
from datacheck_spark.schema import ValidationSchema


SCHEMA = ValidationSchema.from_dict(
    {
        "fields": [
            {"name": "instruction", "type": "text", "required": True},
            {"name": "response", "type": "text", "required": True},
        ],
        "constraints": {"min_length": 1, "max_length": 100000},
        "scoring_rubric": [{"score": 1}, {"score": 2}, {"score": 3}],
    }
)


def sft_df(spark):
    # mirrors reference tests/test_checker.py valid/invalid fixtures
    rows = [
        Row(id="1", instruction="What is AI?", response="AI is artificial intelligence.", score=3),
        Row(id="2", instruction="Explain machine learning basics", response="Machine learning is a subset of AI.", score=2),
        Row(id="3", instruction="", response="Valid response here.", score=1),  # non_empty fail
        Row(id="4", instruction="Valid instruction here", response="Short reply indeed ok", score=999),  # score fail
    ]
    return spark.createDataFrame(rows)


def test_pass_fail_counting(spark):
    engine = ValidationEngine(schema=SCHEMA)
    result = engine.check(
        sft_df(spark), find_near_duplicates=False, detect_anomalies=False
    )
    assert result.total_samples == 4
    # rows 3 (empty instruction) and 4 (score 999) have ERROR failures
    assert result.failed_samples == 2
    assert result.passed_samples == 2
    assert result.pass_rate == pytest.approx(0.5)
    assert sorted(result.failed_sample_ids) == ["3", "4"]
    assert result.rule_results["non_empty"]["failed"] == 1
    assert result.rule_results["non_empty"]["failed_samples"] == ["3"]
    assert result.rule_results["score_valid"]["failed"] == 1
    assert result.rule_results["score_valid"]["failed_samples"] == ["4"]


def test_empty_input_passes(spark):
    engine = ValidationEngine(schema=SCHEMA)
    df = spark.createDataFrame([], "id string, instruction string, response string")
    result = engine.check(df)
    assert result.total_samples == 0
    assert result.pass_rate == 1.0
    assert result.success


def test_severity_triage(spark):
    """Only ERROR fails a sample; WARNING/INFO only count (checker.py:126-137)."""
    engine = ValidationEngine(schema=SCHEMA)
    df = spark.createDataFrame(
        [
            # length_bounds is WARNING: a 0-length string also trips
            # non_empty (ERROR), so use a PII hit for a pure warning.
            Row(id="1", instruction="Contact me at foo@example.com today", response="A perfectly fine long response.", score=1),
        ]
    )
    result = engine.check(df, find_near_duplicates=False, detect_anomalies=False)
    assert result.error_count == 0
    assert result.warning_count >= 1
    assert result.failed_samples == 0
    assert result.pass_rate == 1.0


def test_duplicates_detected(spark):
    engine = ValidationEngine(schema=SCHEMA)
    df = spark.createDataFrame(
        [
            Row(id="1", instruction="Same question here?", response="Same answer given here."),
            Row(id="2", instruction="Same question here?", response="Same answer given here."),
            Row(id="3", instruction="Different question asked", response="A different answer entirely."),
        ]
    )
    result = engine.check(df, find_near_duplicates=False, detect_anomalies=False)
    assert result.duplicates == [["1", "2"]]


def test_near_duplicates(spark):
    engine = ValidationEngine(schema=ValidationSchema())
    df = spark.createDataFrame(
        [
            Row(id="1", text="The quick brown fox jumps over the lazy dog"),
            Row(id="2", text="The quick brown fox jumps over the lazy cat"),
            Row(id="3", text="Something completely unrelated to the others"),
        ]
    )
    result = engine.check(df, detect_anomalies=False, find_duplicates=False)
    assert result.near_duplicates == [["1", "2"]]


def test_ruleset_enable_disable(spark):
    rs = RuleSet()
    rs.enable_rule("non_empty", False)
    engine = ValidationEngine(ruleset=rs, schema=SCHEMA)
    df = spark.createDataFrame(
        [Row(id="1", instruction="", response="Valid response here.")]
    )
    result = engine.check(df, find_near_duplicates=False, detect_anomalies=False)
    assert "non_empty" not in result.rule_results
    assert result.failed_samples == 0


def test_required_fields_missing_column(spark):
    engine = ValidationEngine(schema=SCHEMA)
    df = spark.createDataFrame([Row(id="1", instruction="A valid question?")])
    result = engine.check(df, find_near_duplicates=False, detect_anomalies=False)
    # response column missing entirely -> required_fields fails all rows
    assert result.rule_results["required_fields"]["failed"] == 1
    assert result.failed_samples == 1


def test_violations_long_form(spark):
    engine = ValidationEngine(schema=SCHEMA)
    df = sft_df(spark)
    v = engine.violations(df, key_cols=["id"]).collect()
    by_id = {}
    for r in v:
        by_id.setdefault(r["id"], []).append(r["rule_id"])
    assert "non_empty" in by_id["3"]
    assert "score_valid" in by_id["4"]
    # stable ordering by key
    ids = [r["id"] for r in v]
    assert ids == sorted(ids)


def test_violations_without_rules_is_empty(spark):
    """A frame no rule compiles for (no string column, default schema)
    gives zero violation rows with the usual columns, as ``check`` on
    it gives an all-pass result."""
    df = spark.createDataFrame([Row(vec_id=1, x=0.5), Row(vec_id=2, x=1.5)])
    engine = ValidationEngine()
    assert engine.compile(df) == []
    v = engine.violations(df, key_cols=["vec_id"])
    assert v.columns == [
        "vec_id", "rule_id", "rule_name", "severity", "observed"
    ]
    assert v.collect() == []


def test_rollup_by_group_counts_each_group(spark):
    """The grouped rollup's row for a group gives the counts
    ``summarize`` gives over that group alone."""
    from pyspark.sql import functions as F

    from datacheck_spark.engine import _counts, rollup

    engine = ValidationEngine(schema=SCHEMA)
    df = sft_df(spark).withColumn("g", (F.col("id").cast("int") % 2))
    rules = engine.compile(df)
    annotated = engine.annotate(df, rules=rules)
    rows = rollup(annotated, rules, by=["g"]).collect()
    assert rows[0].asDict().keys() == {
        "g", "__total", "__failed", *["f_" + r.rule_id for r in rules]
    }
    for row in rows:
        alone = engine.summarize(
            annotated.where(F.col("g") == row["g"]), rules,
            collect_failed_ids=False,
        )
        assert _counts(row, rules) == alone


def test_check_result_contract_shape(spark):
    engine = ValidationEngine(schema=SCHEMA)
    result = engine.check(sft_df(spark), find_near_duplicates=False, detect_anomalies=False)
    d = result.to_dict()
    for key in (
        "success", "total_samples", "passed_samples", "failed_samples",
        "pass_rate", "error_count", "warning_count", "info_count",
        "rule_results", "failed_sample_ids", "duplicates",
        "near_duplicates", "anomaly_count",
    ):
        assert key in d


def test_check_folds_distribution_into_summary(spark):
    """With every stage on, ``check`` gives what the standalone
    ``compute_distribution`` and ``detect_anomalies`` give, and the
    distribution aggregates it folds into the summary job change
    neither its summary nor ``extras``."""
    from datacheck_spark import anomaly as A
    from datacheck_spark import stats as S

    scores = [1, 1, 2, 2, 2, 3, 3, 4, 5, 5, 6, 250]
    df = spark.createDataFrame(
        [
            Row(id=str(i), text=None if i % 4 == 0 else "sample " * (i + 1),
                score=float(s))
            for i, s in enumerate(scores)
        ]
    )
    engine = ValidationEngine(schema=ValidationSchema())
    result = engine.check(df)
    data_cols = ["text", "score"]
    assert result.distribution == S.compute_distribution(df, data_cols)
    assert result.distribution["fields"]["text"]["null_count"] == 3
    assert result.anomalies == A.detect_anomalies(df, cols=data_cols)
    assert result.anomalies["score"]["outlier_count"] == 1
    assert result.extras == {}
    bare = engine.check(df, compute_distribution=False, detect_anomalies=False)
    want = bare.to_dict()
    want["anomaly_count"] = sum(
        a["outlier_count"] for a in result.anomalies.values()
    )
    assert result.to_dict() == want

    empty = engine.check(df.limit(0))
    assert empty.total_samples == 0
    assert empty.distribution == {}
    assert empty.anomalies == {}
    assert empty.extras == {}


def test_failed_ids_bounded_at_scale(spark):
    """per_rule_failed_ids_df must pre-limit per partition (a partial
    WindowGroupLimit below the rule_id exchange) before the final agg —
    no reducer buffers a rule's full failure set — with no Python node,
    and still return the deterministic first-k in row order on a
    multi-partition frame with a high failure rate, equal to an
    unbounded collect_list-then-slice."""
    import re

    from pyspark.sql import functions as F

    from datacheck_spark.engine import RULE_PREFIX

    n = 200_000
    df = (
        spark.range(n)
        .repartition(16)
        .select(
            F.col("id").cast("string").alias("id"),
            # half the rows blank -> non_empty fails on ~100k rows
            F.when(F.col("id") % 2 == 0, F.lit("")).otherwise(
                F.lit("valid instruction text")
            ).alias("instruction"),
            F.lit("a fine response").alias("response"),
            F.lit(2).alias("score"),
        )
    )
    engine = ValidationEngine(schema=SCHEMA)
    rules = engine.compile(df)
    annotated = engine.annotate(df, rules=rules)
    bounded = engine.per_rule_failed_ids_df(annotated, rules, "id", k=10)
    got = {r["rule_id"]: list(r["ids"]) for r in bounded.collect()}
    plan = bounded._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    exchange = re.search(r"Exchange hashpartitioning\(rule_id", final)
    assert exchange, plan
    assert "WindowGroupLimit" in final[exchange.end():], plan
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "PythonUDF"):
        assert node not in plan, node

    # oracle: every failing (row order, id) per rule, sorted, sliced
    ordered = annotated.select(
        F.monotonically_increasing_id().alias("__ord"),
        F.col("id"),
        *[F.col(RULE_PREFIX + r.rule_id) for r in rules],
    )
    want = {}
    for r in rules:
        row = (
            ordered.where(~F.col(RULE_PREFIX + r.rule_id))
            .agg(F.sort_array(F.collect_list(F.struct("__ord", "id"))).alias("s"))
            .collect()[0]
        )
        if row["s"]:
            want[r.rule_id] = [s["id"] for s in row["s"][:10]]
    assert got == want
    assert "non_empty" in want

    res = engine.summarize(annotated, rules, id_col="id")
    ids = res.rule_results["non_empty"]["failed_samples"]
    assert ids == want["non_empty"]
    # first-k in row order: all from the earliest rows of the earliest
    # partitions, and every one an even id (the failing half)
    assert all(int(i) % 2 == 0 for i in ids)
    assert res.rule_results["non_empty"]["failed"] == n // 2


def _large_table():
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    try:
        from transcripts_table import table_path
    finally:
        sys.path.pop(0)
    return table_path(640000)


LARGE_TABLE = _large_table()


@pytest.mark.skipif(
    not LARGE_TABLE.is_dir(),
    reason="bench transcripts table absent; build it with "
    "`python tools/transcripts_table.py 640000`",
)
def test_failed_ids_bounded_at_bench_scale(spark):
    """VERDICT r2 item 1 'done' criterion: failed-id collection over the
    full 8.36M-turn bench table completes in bounded memory (this
    suite's driver is capped at 4g — an unbounded per-rule collect_list
    of the ~100k failing ids per rule would not survive the final
    single-reducer agg at that cap) and still returns first-k samples
    per failing rule."""
    from datacheck_spark.transcripts import TranscriptChecker

    df = spark.read.parquet(str(LARGE_TABLE))
    checker = TranscriptChecker()
    engine = checker.engine
    rules = engine.compile(df)
    annotated = engine.annotate(df, rules=rules)
    res = engine.summarize(
        annotated, rules, id_col="conv_id", collect_failed_ids=True
    )
    assert res.total_samples == df.count()
    failing = {
        rid: rr
        for rid, rr in res.rule_results.items()
        if rr.get("failed", 0) > 0
    }
    assert failing, "bench table plants violations; none surfaced"
    for rid, rr in failing.items():
        ids = rr["failed_samples"]
        assert 0 < len(ids) <= 10, (rid, len(ids))


def test_every_suite_compiles_named_and_non_null(spark):
    """Every rule suite compiles through ``RuleSet.compile``: each
    compiled rule carries its ``RuleDef``'s id, name and severity, and
    on a row of nulls every pass column is decided (non-null)."""
    from datacheck_spark import multimodal as MM
    from datacheck_spark.rules.compiler import (
        get_annotation_ruleset,
        get_preference_ruleset,
        get_sft_ruleset,
        ruleset_from_config,
    )
    from datacheck_spark.suggest import suggest_rules
    from datacheck_spark.transcripts import get_transcript_rule_suite

    ddl = (
        "id string, instruction string, response string, score int, "
        "chosen string, rejected string, task_id string, "
        "annotated_at string, conv_id string, turn_idx int, role string, "
        "text string, media_id string, kind string, payload binary, "
        "width int, height int, duration_ms int, format string, "
        "decode_status string, decoded_width int, decoded_height int, "
        "duration_ms_decoded int, frame_width int, frame_height int"
    )
    full = (
        "1", "What is AI?", "AI is artificial intelligence.", 3,
        "yes", "no", "t1", "2024-01-01", "c1", 0, "user",
        "hello there", "m1", "image", b"\x89PNG", 4, 4, None, "png",
        "ok", 4, 4, None, None, None,
    )
    clean = spark.createDataFrame([full], ddl)
    df = spark.createDataFrame([full, (None,) * len(full)], ddl)
    schema = ValidationSchema.from_dict(
        {
            "fields": [
                {"name": "instruction", "type": "text", "required": True},
                {"name": "score", "type": "number"},
            ],
            "scoring_rubric": [{"score": 1}, {"score": 2}, {"score": 3}],
        }
    )
    suites = {
        "default": RuleSet(),
        "sft": get_sft_ruleset(),
        "preference": get_preference_ruleset(),
        "annotation": get_annotation_ruleset(),
        "suggested": ruleset_from_config(
            suggest_rules(clean), load_builtins=False
        ),
        "transcripts": get_transcript_rule_suite(),
        "media_integrity": MM.media_integrity_rules(),
        "metadata_consistency": MM.metadata_consistency_rules(),
    }
    for name, ruleset in suites.items():
        engine = ValidationEngine(ruleset=ruleset, schema=schema)
        rules = engine.compile(df)
        assert rules, name
        for r in rules:
            rd = ruleset.rules[r.rule_id]
            assert (r.name, r.severity) == (rd.name, rd.severity), name
        pass_cols = ["__rule_" + r.rule_id for r in rules]
        rows = engine.annotate(df, rules=rules).select(*pass_cols).collect()
        for row in rows:
            nulls = [c for c in pass_cols if row[c] is None]
            assert not nulls, (name, nulls)
