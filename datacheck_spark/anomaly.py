"""Statistical anomaly detection: IQR and Z-score outliers.

Reference: ``/root/reference/src/datacheck/anomaly.py`` — pure-Python
stats with population std (``/n``, ``anomaly.py:33``), linear-interp
percentiles (``anomaly.py:45-55``), MIN_SAMPLES=10 gate
(``anomaly.py:13``), booleans excluded (``anomaly.py:126``), string
fields measured by length under the key ``"{name} (长度)"``
(``anomaly.py:130-132``), and the quirk that reported bounds are ALWAYS
IQR-based even for the zscore method (``anomaly.py:150-153``) —
preserved here for verdict parity.

Spark plan: two jobs total regardless of column count —
(1) one agg computing mean/std/percentiles for every target column
    (Spark's exact ``percentile`` uses the same ``(n-1)*p`` linear
    interpolation as the reference);
(2) one agg counting outliers for every column against the broadcast
    scalar bounds.
The percentile form follows the row count: exact linear-interpolation
percentiles (reference + oracle parity) up to ``AUTO_EXACT_ROWS`` rows,
``percentile_approx`` (Greenwald-Khanna sketch, bounded aggregation
state) above. A GK sketch answers each quantile with a stored value and
never interpolates, so the two differ on small inputs too (``[1..11,
100]``: median 6.0 against 6.5). The row count is the only selector.
"""

from __future__ import annotations

from typing import Any, Dict, List, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datacheck_spark import stats as S

MIN_SAMPLES = 10  # anomaly.py:13

# Size-aware exact->sketch switch: Spark's exact ``percentile`` is an
# ObjectHashAggregate that materializes every value in the aggregation
# buffer, so it is used only up to this many rows — comfortably
# in-memory on one executor and bit-compatible with the DuckDB
# quantile_cont oracles at test scale — and percentile_approx
# (Greenwald-Khanna sketch, bounded state) above it.
AUTO_EXACT_ROWS = 100_000


def _target_columns(
    df: DataFrame, cols: Optional[Sequence[str]]
) -> List[tuple]:
    """[(field_key, source_expr, field_type)] — numerics directly,
    strings by length (``anomaly.py:122-132``); booleans excluded."""
    names = [c for c in df.columns if cols is None or c in cols]
    numbers = S.columns_for(df, "vavg", names)
    strings = S.columns_for(df, "lavg", names)
    targets = []
    for c in names:
        if c in numbers:
            targets.append((c, F.col(c).try_cast("double"), "number"))
        elif c in strings:
            targets.append(
                (f"{c} (长度)", F.length(F.col(c)).try_cast("double"), "length")
            )
    return targets


def compute_stats_df(
    df: DataFrame,
    targets: List[tuple],
    total: Optional[int] = None,
) -> Dict[str, Dict[str, float]]:
    """One agg pass: {field_key: {mean,std,median,q1,q3,iqr,count}}.

    The percentile form depends on the row count: exact
    linear-interpolation percentiles up to ``AUTO_EXACT_ROWS`` rows
    (reference parity, oracle-checkable), Greenwald-Khanna sketches
    above (bounded aggregation state at 10^12 rows). Pass ``total``
    when the caller already knows the row count to skip the probe
    (a metadata-only count on parquet sources).
    """
    if not targets:
        return {}
    if total is None:
        total = df.count()
    pct = F.percentile if total <= AUTO_EXACT_ROWS else F.percentile_approx
    aggs = []
    for i, (_, expr, _) in enumerate(targets):
        aggs += [
            F.count(expr).alias(f"n__{i}"),
            F.avg(expr).alias(f"mean__{i}"),
            F.stddev_pop(expr).alias(f"std__{i}"),
            pct(expr, F.lit([0.25, 0.5, 0.75])).alias(f"pct__{i}"),
        ]
    row = df.agg(*aggs).collect()[0]
    out: Dict[str, Dict[str, float]] = {}
    for i, (key, _, _) in enumerate(targets):
        n = row[f"n__{i}"]
        if n == 0:
            out[key] = dict.fromkeys(
                ("count", "mean", "std", "median", "q1", "q3", "iqr"), 0
            )
            continue
        q1, median, q3 = row[f"pct__{i}"]
        out[key] = {
            "count": n,
            "mean": row[f"mean__{i}"],
            "std": row[f"std__{i}"] or 0.0,
            "median": median,
            "q1": q1,
            "q3": q3,
            "iqr": q3 - q1,
        }
    return out


def compute_stats(df: DataFrame, col: str) -> Dict[str, float]:
    """Stats for one numeric column (reference ``compute_stats``,
    ``anomaly.py:16-43``)."""
    targets = [(col, F.col(col).try_cast("double"), "number")]
    return compute_stats_df(df, targets)[col]


def _outlier_predicate(
    expr: Column,
    st: Dict[str, float],
    method: str,
    factor: float,
    zscore_threshold: float,
) -> Optional[Tuple[Column, Tuple[float, float]]]:
    """(predicate, IQR bounds) of one field against its scalar stats,
    or None where the reference skips the field: fewer than MIN_SAMPLES
    values, or zero std / IQR for the method (``anomaly.py:58-93``).
    The bounds are IQR-based for either method (``anomaly.py:150-153``).
    """
    if st["count"] < MIN_SAMPLES:
        return None
    lower = st["q1"] - factor * st["iqr"]
    upper = st["q3"] + factor * st["iqr"]
    if method == "zscore":
        if st["std"] == 0:
            return None
        pred = (
            F.abs(expr - F.lit(st["mean"])) / F.lit(st["std"])
            > zscore_threshold
        )
    else:
        if st["iqr"] == 0:
            return None
        pred = (expr < lower) | (expr > upper)
    return expr.isNotNull() & pred, (lower, upper)


def detect_anomalies(
    df: DataFrame,
    cols: Optional[Sequence[str]] = None,
    method: str = "iqr",
    factor: float = 1.5,
    zscore_threshold: float = 3.0,
    key_cols: Optional[Sequence[str]] = None,
    max_keys: int = 100,
    total: Optional[int] = None,
) -> Dict[str, Any]:
    """Detect outliers in every numeric/string-length field
    (``anomaly.py:96-164``).

    Returns {field_key: {stats, outlier_count, method, field_type,
    bounds}} — fields with no outliers omitted (``anomaly.py:147-148``);
    bounds always IQR-based (``anomaly.py:150-153``). When ``key_cols``
    is given, up to ``max_keys`` offending keys are included per field
    (the scalable replacement for the reference's in-memory index
    lists). Callers that already know the row count pass ``total``:
    it gates ``MIN_SAMPLES`` and picks the percentile form, and saves
    the count job.
    """
    if total is None:
        total = df.count()
    if total < MIN_SAMPLES:
        return {}

    targets = _target_columns(df, cols)
    stats = compute_stats_df(df, targets, total=total)
    preds: List[tuple] = []  # (field_key, field_type, predicate, bounds)
    for key, expr, ftype in targets:
        found = _outlier_predicate(
            expr, stats[key], method, factor, zscore_threshold
        )
        if found is not None:
            preds.append((key, ftype) + found)
    if not preds:
        return {}

    counts_row = df.agg(
        *[
            F.sum(pred.cast("long")).alias(f"out__{i}")
            for i, (_, _, pred, _) in enumerate(preds)
        ]
    ).collect()[0]

    results: Dict[str, Any] = {}
    for i, (key, ftype, pred, (lower, upper)) in enumerate(preds):
        n_out = counts_row[f"out__{i}"] or 0
        if n_out == 0:
            continue
        st = stats[key]
        entry: Dict[str, Any] = {
            "stats": {
                k: st[k] for k in ("mean", "std", "median", "q1", "q3", "iqr")
            },
            "outlier_count": int(n_out),
            "method": method,
            "field_type": ftype,
            "bounds": {"lower": round(lower, 2), "upper": round(upper, 2)},
        }
        if key_cols:
            entry["outlier_keys"] = [
                tuple(r) if len(key_cols) > 1 else r[0]
                for r in df.filter(pred)
                .select(*key_cols)
                .orderBy(*key_cols)
                .limit(max_keys)
                .collect()
            ]
        results[key] = entry
    return results


def outlier_rows(
    df: DataFrame,
    col: str,
    method: str = "iqr",
    factor: float = 1.5,
    zscore_threshold: float = 3.0,
) -> DataFrame:
    """DataFrame of rows whose ``col`` value is an outlier — the
    distributed analogue of ``detect_outliers_iqr/zscore``
    (``anomaly.py:58-93``). Returns an empty frame below MIN_SAMPLES or
    with zero spread, matching the reference gates."""
    found = _outlier_predicate(
        F.col(col).try_cast("double"),
        compute_stats(df, col),
        method,
        factor,
        zscore_threshold,
    )
    return df.limit(0) if found is None else df.filter(found[0])
