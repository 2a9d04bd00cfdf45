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
    """per_rule_failed_ids_df must pre-limit per partition (MapInPandas)
    before the final agg — no reducer buffers a rule's full failure set
    — and still return the deterministic first-k in row order on a
    multi-partition frame with a high failure rate."""
    from pyspark.sql import functions as F

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
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        bounded.explain("formatted")
    plan = buf.getvalue()
    assert "MapInPandas" in plan, "per-partition take-k missing from plan"

    res = engine.summarize(annotated, rules, id_col="id")
    ids = res.rule_results["non_empty"]["failed_samples"]
    assert len(ids) == 10
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
