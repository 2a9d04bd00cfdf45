"""Every profiler that reads ``stats.profile_aggs`` against plain Python
over ``collect()``: distribution, schema inference, coverage, the rule
suggestion profile, drift, the bias label/length stats and the leakage
key detection, on a frame with nulls, blank and tab-only strings, JSON
and non-JSON values and astral-plane characters, and on an empty one.

HLL-based counts are checked within Spark's default 5% relative
standard deviation; everything else exactly (Spark-side rounding is
HALF_UP, so the oracle rounds with ``ROUND_HALF_UP``)."""

import json
import re
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal
from statistics import mean, pstdev

import pytest

from datacheck_spark import bias as B
from datacheck_spark import drift as DR
from datacheck_spark import leakage as L
from datacheck_spark import stats as S
from datacheck_spark.suggest import profile_columns

SCHEMA = "s string, lab string, i int, d double, b boolean, arr array<int>"
ROWS = [
    ("alpha beta", "a", 1, 1.5, True, [1, 2]),
    (None, "b", 2, None, False, []),
    ("  ", "a", None, 2.5, None, None),
    ("\t", "a", 4, -1.0, True, [3]),
    ('{"k": 1}', "b", 5, 0.0, False, [1]),
    ("x\U0001F600y\U0001D11E", "a", 5, 7.25, True, [2, 2]),
    ("[1, 2]", "a", 1, 1.5, False, [5]),
    ("中文的文本", "b", 9, None, True, [1]),
    ("plain text value " * 10, "a", 2, 0.125, None, None),
    ("alpha beta", None, 3, 2.5, True, [4]),
]
STRINGS, NUMBERS = ("s", "lab"), ("i", "d")
COLS = ("s", "lab", "i", "d", "b", "arr")
HLL_RSD = 0.05


def _col(rows, c):
    return [r[COLS.index(c)] for r in rows]


def _vals(rows, c):
    return [v for v in _col(rows, c) if v is not None]


def _half_up(x, digits):
    if x is None:
        return None
    q = Decimal(1).scaleb(-digits)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def _is_json(s):
    try:
        json.loads(s)
    except ValueError:
        return False
    return True


def _assert_hll(estimate, true):
    assert abs(estimate - true) <= HLL_RSD * true, (estimate, true)


@pytest.fixture(scope="module")
def frames(spark):
    return {
        "rows": spark.createDataFrame(ROWS, SCHEMA),
        "empty": spark.createDataFrame([], SCHEMA),
    }


@pytest.fixture(params=["rows", "empty"])
def case(request, frames):
    rows = ROWS if request.param == "rows" else []
    return frames[request.param], rows


def test_compute_distribution(case):
    df, rows = case
    dist = S.compute_distribution(df)
    assert dist["total"] == len(rows)
    if not rows:
        assert dist["fields"] == {}
        return
    assert list(dist["fields"]) == list(COLS)
    for c in COLS:
        fs = dist["fields"][c]
        vals = _vals(rows, c)
        assert fs["count"] == len(rows)
        assert fs["null_count"] == len(rows) - len(vals)
        if c in STRINGS:
            lens = [len(v) for v in vals]
            assert fs["type"] == "string"
            assert fs["length_stats"]["min"] == min(lens)
            assert fs["length_stats"]["max"] == max(lens)
            assert fs["length_stats"]["avg"] == pytest.approx(mean(lens))
            assert fs["unique_count"] == len(set(vals))
            assert fs["unique_ratio"] == len(set(vals)) / len(vals)
        elif c in NUMBERS:
            top = sorted(Counter(float(v) for v in vals).items(),
                         key=lambda kv: (-kv[1], kv[0]))[:10]
            assert fs["type"] == "number"
            assert fs["value_stats"]["min"] == min(vals)
            assert fs["value_stats"]["max"] == max(vals)
            assert fs["value_stats"]["avg"] == pytest.approx(mean(vals))
            assert list(fs["value_distribution"].items()) == top
        else:
            assert set(fs) == {"count", "null_count"}


def test_infer_schema(case):
    df, rows = case
    schema = S.infer_schema(df)
    assert schema["sample_count"] == len(rows)
    if not rows:
        assert schema["fields"] == {}
        return
    types = {"s": "string", "lab": "string", "i": "integer", "d": "number",
             "b": "boolean", "arr": "array"}
    for c in COLS:
        vals = _vals(rows, c)
        expected = {"type": types[c]}
        if len(vals) / len(rows) >= 0.95:
            expected["required"] = True
        if len(vals) < len(rows):
            expected["nullable"] = True
        if c in STRINGS:
            lens = [len(v) for v in vals]
            expected.update(min_length=min(lens), max_length=max(lens),
                            avg_length=round(mean(lens)))
        if c in NUMBERS:
            expected.update(min_value=min(vals), max_value=max(vals))
            if len(set(vals)) <= 10:
                expected["enum"] = sorted(set(vals))
        assert schema["fields"][c] == expected, c


def test_check_coverage(case):
    df, rows = case
    cov = S.check_coverage(df)
    assert cov["total_samples"] == len(rows)
    if not rows:
        assert cov["fields"] == {}
        return
    presences, nonempties = [], []
    for c in COLS:
        vals = _vals(rows, c)
        fs = cov["fields"][c]
        # Spark's trim strips spaces only: a tab-only value is non-empty
        nonempty = [v for v in vals if c not in STRINGS or v.strip(" ")]
        presences.append(len(vals) / len(rows))
        nonempties.append(len(nonempty) / len(rows))
        assert fs["presence_rate"] == round(presences[-1], 4)
        assert fs["non_empty_rate"] == round(nonempties[-1], 4)
        distinct = {json.dumps(v) for v in vals}
        _assert_hll(fs["distinct_values"], len(distinct))
    assert cov["avg_presence_rate"] == round(mean(presences), 4)
    assert cov["avg_non_empty_rate"] == round(mean(nonempties), 4)


def test_profile_columns(case):
    df, rows = case
    prof = profile_columns(df)
    assert prof["total"] == len(rows)
    if not rows:
        assert prof["columns"] == {}
        return
    for c in COLS:
        vals = _vals(rows, c)
        st = prof["columns"][c]
        assert st["non_null"] == len(vals)
        if c in STRINGS:
            lens = [len(v) for v in vals]
            assert st["blank"] == sum(1 for v in vals if v.strip() == "")
            assert st["non_json"] == sum(1 for v in vals if not _is_json(v))
            assert (st["len_min"], st["len_max"]) == (min(lens), max(lens))
            # at most 20 distinct values: an exactly confirmed enum
            assert st["enum_values"] == sorted(set(vals))
            assert st["distinct"] == len(set(vals))
        elif c in NUMBERS:
            assert (st["min"], st["max"]) == (min(vals), max(vals))
            _assert_hll(st["distinct"], len(set(vals)))
        else:
            assert st == {"non_null": len(vals)}


def _drift_oracle(rows_a, rows_b):
    fields = {}
    for c in COLS:
        if c in NUMBERS:
            fields[c] = {
                "type": "numeric",
                **{
                    side: {
                        "count": len(v),
                        "mean": _half_up(mean(v), 6) if v else None,
                        "min": min(v, default=None),
                        "max": max(v, default=None),
                    }
                    for side, v in (("a", _vals(rows_a, c)),
                                    ("b", _vals(rows_b, c)))
                },
            }
        elif c in STRINGS:
            va = _vals(rows_a, c)
            ratio = len(set(va)) / len(va) if va else 1.0
            if ratio < 0.3:
                fields[c] = {"type": "categorical", **{
                    side: dict(sorted(Counter(_col(r, c)).items(),
                                      key=lambda kv: (-kv[1], kv[0] or ""))[:20])
                    for side, r in (("a", rows_a), ("b", rows_b))
                }}
            else:
                fields[c] = {"type": "text", **{
                    side: {"avg_length": _half_up(
                        mean(len(v) for v in _vals(r, c)), 4
                    ) if _vals(r, c) else None}
                    for side, r in (("a", rows_a), ("b", rows_b))
                }}
    return {"count_a": len(rows_a), "count_b": len(rows_b), "fields": fields}


def test_drift_summary(spark, frames):
    rows_b = ROWS[3:] + [("z", "a", 7, 3.5, False, [])] * 4
    b = spark.createDataFrame(rows_b, SCHEMA)
    assert DR.drift_summary(frames["rows"], b) == _drift_oracle(ROWS, rows_b)
    assert DR.drift_summary(frames["rows"], frames["empty"]) == _drift_oracle(
        ROWS, []
    )


def test_label_and_key_detection(case):
    df, rows = case
    label = None
    for c in STRINGS:
        vals = _vals(rows[:200], c)
        avg_len = mean(len(v) for v in vals) if vals else 0
        if avg_len <= 20 and 2 <= len(set(vals)) <= 50:
            label = c
            break
    assert B.detect_label_column(df) == label
    assert L.detect_key_fields(df) == [
        c for c in STRINGS
        if _vals(rows, c) and mean(len(v) for v in _vals(rows, c)) > 10
    ]


def _language(s):
    if s is None or not s[:500]:
        return "unknown"
    head = s[:500]
    if len(re.findall("[一-鿿]", head)) / len(head) > 0.3:
        return "zh"
    if len(re.findall("[a-zA-Z]", head)) / len(head) > 0.3:
        return "en"
    return "other"


def test_check_bias(case):
    df, rows = case
    rep = B.check_bias(df)
    expected = {"total_samples": len(rows)}
    label = B.detect_label_column(df)
    if label:
        counts = sorted(Counter(_vals(rows, label)).items(),
                        key=lambda kv: (-kv[1], kv[0]))
        expected["category_bias"] = {
            "label_field": label,
            "distribution": dict(counts),
            "imbalance_ratio": round(counts[0][1] / counts[-1][1], 2),
        }
    text = [c for c in STRINGS if c != label][0]
    lens = [len(v) for v in _vals(rows, text)]
    expected["length_bias"] = {
        "text_field": text,
        "mean": _half_up(mean(lens), 4) if lens else None,
        "std": _half_up(pstdev(lens), 4) if lens else None,
        "min": min(lens, default=None),
        "max": max(lens, default=None),
    }
    expected["language_bias"] = dict(Counter(_language(v) for v in _col(rows, text)))
    assert rep == expected
    if label:
        assert list(rep["category_bias"]["distribution"].items()) == counts
