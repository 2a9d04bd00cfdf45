"""Anomaly goldens — mirrors `/root/reference/tests/test_anomaly.py`:
mean 5.5 / q1 3.25 / q3 7.75 / iqr 4.5 for 1..10, MIN_SAMPLES and
zero-variance gates, the `(长度)` length-field naming, boolean
exclusion, and IQR-bounds-for-zscore quirk."""

import pytest
from pyspark.sql import Row

from datacheck_spark import anomaly as A


def _df(spark, values, col="score"):
    return spark.createDataFrame([Row(**{col: float(v)}) for v in values])


def test_compute_stats_golden(spark):
    st = A.compute_stats(_df(spark, range(1, 11)), "score")
    assert st["mean"] == pytest.approx(5.5)
    assert st["median"] == pytest.approx(5.5)
    assert st["q1"] == pytest.approx(3.25)
    assert st["q3"] == pytest.approx(7.75)
    assert st["iqr"] == pytest.approx(4.5)
    # population std of 1..10 = sqrt(8.25)
    assert st["std"] == pytest.approx(8.25 ** 0.5)


def test_outlier_detection_iqr(spark):
    vals = list(range(1, 21)) + [1000.0]
    out = A.outlier_rows(_df(spark, vals), "score").collect()
    assert [r["score"] for r in out] == [1000.0]


def test_outlier_detection_zscore(spark):
    vals = [10.0] * 20 + [10.5] * 10 + [1000.0]
    out = A.outlier_rows(_df(spark, vals), "score", method="zscore").collect()
    assert [r["score"] for r in out] == [1000.0]


def test_min_samples_gate(spark):
    out = A.outlier_rows(_df(spark, [1, 2, 3, 1000]), "score").collect()
    assert out == []  # < 10 samples -> no detection


def test_zero_iqr_gate(spark):
    out = A.outlier_rows(_df(spark, [5] * 15), "score").collect()
    assert out == []


def test_detect_anomalies_shape(spark):
    rows = [
        Row(k=str(i), score=float(i), text="word " + "x" * (i % 3), flag=(i % 2 == 0))
        for i in range(1, 21)
    ] + [Row(k="x", score=1000.0, text="y" * 1000, flag=True)]
    df = spark.createDataFrame(rows)
    res = A.detect_anomalies(df, key_cols=["k"])
    # numeric field flagged
    assert res["score"]["outlier_count"] == 1
    assert res["score"]["field_type"] == "number"
    assert res["score"]["method"] == "iqr"
    # string length field uses the reference's (长度) suffix
    assert "text (长度)" in res
    assert res["text (长度)"]["field_type"] == "length"
    assert res["text (长度)"]["outlier_keys"] == ["x"]
    # booleans excluded entirely
    assert not any("flag" in k for k in res)


def test_zscore_reports_iqr_bounds(spark):
    """Reference quirk (anomaly.py:150-153): bounds are IQR-based even
    for the zscore method."""
    vals = [10.0] * 20 + [11.0] * 10 + [1000.0]
    df = _df(spark, vals)
    res = A.detect_anomalies(df, method="zscore")
    st = A.compute_stats(df, "score")
    entry = res["score"]
    assert entry["method"] == "zscore"
    assert entry["bounds"]["lower"] == round(st["q1"] - 1.5 * st["iqr"], 2)
    assert entry["bounds"]["upper"] == round(st["q3"] + 1.5 * st["iqr"], 2)


def test_fields_without_outliers_omitted(spark):
    df = spark.createDataFrame(
        [Row(a=float(i), b=5.0) for i in range(1, 21)]
    )
    res = A.detect_anomalies(df)
    assert "b" not in res  # zero IQR -> no outliers -> omitted


def test_percentile_form_follows_row_count(spark, monkeypatch):
    """Exact linear-interpolation quartiles up to ``AUTO_EXACT_ROWS``
    rows, Greenwald-Khanna above: the sketch answers with stored values
    and does not interpolate."""
    df = _df(spark, list(range(1, 12)) + [100])
    st = A.compute_stats(df, "score")
    assert (st["q1"], st["median"], st["q3"]) == (3.75, 6.5, 9.25)
    monkeypatch.setattr(A, "AUTO_EXACT_ROWS", 0)
    st = A.compute_stats(df, "score")
    assert (st["q1"], st["median"], st["q3"]) == (3.0, 6.0, 9.0)
    entry = A.detect_anomalies(df)["score"]
    assert entry["bounds"] == {"lower": -6.0, "upper": 18.0}
