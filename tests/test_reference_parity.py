"""Differential parity vs the reference implementation itself.

Runs the actual reference package (read-only, stdlib-only modules) on
small collected samples and compares per-row verdicts, duplicate
groups, anomaly stats, and fixer outputs with our Spark results.
Skipped automatically when the reference checkout is absent.
"""

import sys
from pathlib import Path

import pytest
from pyspark.sql import Row, functions as F

REF = Path("/root/reference/src")
if REF.exists():
    sys.path.insert(0, str(REF))

datacheck = pytest.importorskip("datacheck", reason="reference not available")

from datacheck.checker import DataChecker  # noqa: E402
from datacheck.rules import RuleSet as RefRuleSet  # noqa: E402
from datacheck import anomaly as ref_anomaly  # noqa: E402
from datacheck import text_rules as ref_text  # noqa: E402
from datacheck.fixer import DataFixer as RefFixer  # noqa: E402

from datacheck_spark.engine import ValidationEngine  # noqa: E402
from datacheck_spark.schema import ValidationSchema  # noqa: E402
from datacheck_spark.rules import text as T  # noqa: E402
from datacheck_spark import anomaly as A  # noqa: E402
from datacheck_spark.fixer import DataFixer  # noqa: E402

SCHEMA_DICT = {
    "fields": [
        {"name": "instruction", "type": "text", "required": True},
        {"name": "response", "type": "text", "required": True},
    ],
    "constraints": {"min_length": 1, "max_length": 100},
    "scoring_rubric": [{"score": 1}, {"score": 2}, {"score": 3}],
}

SAMPLES = [
    {"id": "1", "instruction": "What is AI exactly?", "response": "AI is artificial intelligence.", "score": 3},
    {"id": "2", "instruction": "", "response": "Valid response here.", "score": 1},
    {"id": "3", "instruction": "Mail me at a@b.com", "response": "ok then fine", "score": 2},
    {"id": "4", "instruction": "Fine question here", "response": "x" * 200, "score": 2},
    {"id": "5", "instruction": "Call 13812345678 now", "response": "sure thing boss", "score": 99},
    {"id": "6", "instruction": "This is repeated. " * 50, "response": "good answer provided", "score": 1},
    {"id": "7", "instruction": "abc\x01\x02\x03def", "response": "clean response text", "score": 2},
    {"id": "8", "instruction": "中文提问内容比较长一些", "response": "English answer that is long enough", "score": 3},
]


@pytest.fixture(scope="module")
def ref_result():
    checker = DataChecker(RefRuleSet())
    return checker.check([dict(s) for s in SAMPLES], SCHEMA_DICT)


@pytest.fixture(scope="module")
def spark_result(spark):
    df = spark.createDataFrame([Row(**s) for s in SAMPLES])
    engine = ValidationEngine(schema=ValidationSchema.from_dict(SCHEMA_DICT))
    # UDF repetition path for byte-exact parity
    return engine.check(df, find_near_duplicates=False, detect_anomalies=False)


def test_per_rule_failed_counts(ref_result, spark_result):
    ref_failed = {
        rid: rr["failed"] for rid, rr in ref_result.rule_results.items()
    }
    ours_failed = {
        rid: rr["failed"] for rid, rr in spark_result.rule_results.items()
    }
    # compare on the intersection of rule ids (same builtin suite)
    for rid in set(ref_failed) & set(ours_failed):
        assert ours_failed[rid] == ref_failed[rid], rid


def test_sample_verdicts(ref_result, spark_result):
    assert spark_result.total_samples == ref_result.total_samples
    assert spark_result.passed_samples == ref_result.passed_samples
    assert sorted(spark_result.failed_sample_ids) == sorted(
        ref_result.failed_sample_ids
    )
    assert spark_result.pass_rate == pytest.approx(ref_result.pass_rate)
    assert spark_result.error_count == ref_result.error_count


def test_text_rule_per_row_parity(spark):
    """Per-row rule verdicts vs the reference predicates over a tricky
    corpus (PII / garbled / repetitive / language)."""
    texts = [
        "contact a@b.com",
        "13812345678",
        "+1-5551234",
        "12345678901234567X",
        "clean text entirely",
        "abc\x00\x01\x02def longer",
        "ÀÀÀÀ mojibake run",
        "This is repeated. " * 50,
        "x" * 5000,
        "0123456789" * 11,
        "mixed 中文 and English text here 比较长的内容",
        "",
        "   ",
    ]
    df = spark.createDataFrame([Row(i=i, t=t) for i, t in enumerate(texts)])
    got = df.select(
        "i",
        T.pii_clean(F.col("t")).alias("pii"),
        T.garbled_clean(F.col("t")).alias("garbled"),
        (~T.repetitive_clean(F.col("t"))).alias("rep"),
    ).orderBy("i").collect()
    for row, t in zip(got, texts):
        sample = {"v": t}
        assert row["pii"] == ref_text.check_pii(sample, {}), f"pii {t!r:.40}"
        assert row["garbled"] == ref_text.check_garbled_text(sample, {}), (
            f"garbled {t!r:.40}"
        )
        ref_rep = not ref_text.check_repetitive_text(sample, {})
        assert bool(row["rep"]) == ref_rep, f"rep {t!r:.40}"


def test_language_detection_parity(spark):
    texts = [
        "这是一段比较长的中文文本内容",
        "This is clearly English",
        "これはにほんごのぶんしょう",
        "mixed 中文 English half half",
        "1234567890",
        "Ω≈ç√∫",
    ]
    df = spark.createDataFrame([Row(i=i, t=t) for i, t in enumerate(texts)])
    rows = df.select("i", T.detected_language(F.col("t")).alias("d")).orderBy("i").collect()
    for row, t in zip(rows, texts):
        lang, conf = ref_text.detect_language(t)
        assert row["d"]["lang"] == lang, t
        assert row["d"]["confidence"] == pytest.approx(conf, abs=1e-9), t


def test_anomaly_stats_parity(spark):
    values = [1.0, 2, 2, 3, 4, 5, 5, 6, 7, 8, 9, 10, 10, 11, 1000]
    ref_stats = ref_anomaly.compute_stats([float(v) for v in values])
    df = spark.createDataFrame([Row(v=float(v)) for v in values])
    st = A.compute_stats(df, "v")
    for key in ("mean", "std", "median", "q1", "q3", "iqr"):
        assert st[key] == pytest.approx(ref_stats[key]), key
    ref_idx = ref_anomaly.detect_outliers_iqr([float(v) for v in values])
    ours = A.outlier_rows(df, "v").collect()
    assert len(ours) == len(ref_idx)


def test_duplicate_groups_parity(spark):
    samples = [
        {"id": "1", "data": {"text": "same thing"}},
        {"id": "2", "data": {"text": "same thing"}},
        {"id": "3", "data": {"text": "other thing"}},
        {"id": "4", "data": {"text": "other thing"}},
        {"id": "5", "data": {"text": "unique thing"}},
    ]
    checker = DataChecker(RefRuleSet())
    ref_groups = checker._find_duplicates(samples)
    df = spark.createDataFrame(
        [Row(id=s["id"], text=s["data"]["text"]) for s in samples]
    )
    from datacheck_spark.dedup import duplicate_groups

    ours = duplicate_groups(df, data_cols=["text"], id_col="id")
    assert sorted(map(sorted, ours)) == sorted(map(sorted, ref_groups))


def test_near_duplicate_groups_parity(spark):
    samples = [
        {"id": "1", "data": {"text": "The quick brown fox jumps over the lazy dog"}},
        {"id": "2", "data": {"text": "The quick brown fox jumps over the lazy cat"}},
        {"id": "3", "data": {"text": "Something else entirely different here"}},
        {"id": "4", "data": {"text": "The quick brown fox jumps over the lazy dot"}},
    ]
    checker = DataChecker(RefRuleSet())
    ref_groups = checker._find_near_duplicates(samples)
    df = spark.createDataFrame(
        [Row(id=s["id"], text=s["data"]["text"]) for s in samples]
    )
    from datacheck_spark.dedup import near_duplicate_groups

    ours = near_duplicate_groups(df, ["text"], "id")
    assert ours == ref_groups


def test_fixer_parity(spark):
    # wrapped-sample shape: the reference hashes/trims/checks only the
    # `data` dict (fixer.py:129 etc.), matching our data_cols=["text"]
    flat = [
        {"id": "1", "text": "  padded text  "},
        {"id": "2", "text": "mail a@b.com and 13812345678 and 110101199001011234"},
        {"id": "3", "text": ""},
        {"id": "4", "text": "dup content"},
        {"id": "5", "text": "dup content"},
    ]
    wrapped = [{"id": s["id"], "data": {"text": s["text"]}} for s in flat]
    ref_fixed, ref_res = RefFixer().fix(wrapped, strip_pii=True)
    df = spark.createDataFrame([Row(**s) for s in flat])
    ours, res = DataFixer().fix(
        df, data_cols=["text"], order_col="id", strip_pii=True
    )
    assert res.duplicates_removed == ref_res.duplicates_removed
    assert res.trimmed_count == ref_res.trimmed_count
    assert res.empty_removed == ref_res.empty_removed
    assert res.pii_redacted_count == ref_res.pii_redacted_count
    ref_map = {s["id"]: s["data"]["text"] for s in ref_fixed}
    ours_map = {r["id"]: r["text"] for r in ours.collect()}
    # per-row text equality (the BASELINE.md per-turn equality target)
    assert ours_map == ref_map
