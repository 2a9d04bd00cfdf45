"""Property-based differential parity: generated adversarial strings
run through our rule Columns AND the reference package's
own predicates; verdicts must agree row-for-row.

Each hypothesis example is a whole corpus (one Spark job per example)
to keep runtime sane.
"""

import sys
from pathlib import Path

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

REF = Path("/root/reference/src")
if REF.exists():
    sys.path.insert(0, str(REF))

ref_text = pytest.importorskip(
    "datacheck.text_rules", reason="reference not available"
)

from datacheck_spark.rules import text as T  # noqa: E402

# building blocks that hit every rule's edge cases
_FRAGMENTS = st.sampled_from(
    [
        "hello world", "a@b.co", "13812345678", "+1-23456",
        "110101199001011234", "\x00\x01", "�", "ÀÁÂÃ", "。句子内容比较长一些。",
        "This is repeated. ", "xxxxxxxxxx", "short", " ", "\n", "!?.",
        "これはにほんご", "한국어입니다", "Это текст", "ألف باء",
        "0123456789", "a", ".",
    ]
)

_TEXTS = st.lists(_FRAGMENTS, min_size=0, max_size=30).map("".join)
_CORPUS = st.lists(_TEXTS, min_size=1, max_size=40)


def _run(spark, texts, expr_fn):
    schema = StructType([StructField("t", StringType(), True)])
    df = spark.createDataFrame([(t,) for t in texts], schema)
    rows = (
        df.select(
            "t", F.coalesce(expr_fn(F.col("t")), F.lit(False)).alias("flag")
        )
        .collect()
    )
    return [(r["t"], bool(r["flag"])) for r in rows]


@settings(max_examples=5, deadline=None)
@given(_CORPUS)
def test_pii_parity(spark, corpus):
    for t, got in _run(spark, corpus, T.pii_clean):
        assert got == ref_text.check_pii({"v": t}, {}), repr(t)[:80]


@settings(max_examples=5, deadline=None)
@given(_CORPUS)
def test_garbled_parity(spark, corpus):
    for t, got in _run(spark, corpus, T.garbled_clean):
        assert got == ref_text.check_garbled_text({"v": t}, {}), repr(t)[:80]


@settings(max_examples=5, deadline=None)
@given(_CORPUS)
def test_repetitive_parity(spark, corpus):
    for t, got in _run(spark, corpus, lambda c: ~T.repetitive_clean(c)):
        expected = not ref_text.check_repetitive_text({"v": t}, {})
        assert got == expected, repr(t)[:80]


@settings(max_examples=5, deadline=None)
@given(_CORPUS)
def test_language_parity(spark, corpus):
    schema = StructType([StructField("t", StringType(), True)])
    df = spark.createDataFrame([(t,) for t in corpus], schema)
    rows = df.select("t", T.detected_language(F.col("t")).alias("d")).collect()
    for r in rows:
        lang, conf = ref_text.detect_language(r["t"])
        assert r["d"]["lang"] == lang, repr(r["t"])[:80]
        assert abs(r["d"]["confidence"] - conf) < 1e-9, repr(r["t"])[:80]
