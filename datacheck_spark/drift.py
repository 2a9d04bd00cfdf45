"""Distribution-drift analysis: reference-style summary deltas plus
KS / PSI statistics over histogram sketches.

Reference: ``check_drift`` (``mcp_server.py:570-631``) computes only
summary deltas (count/mean/min/max per numeric field, top-20 category
tables, avg text length). That is reproduced by ``drift_summary``, whose
row counts, field classification and side stats are the shared
``stats`` statistics, one ``stats.profile`` aggregation per side.

The north_star requires an upgrade: per-partition KS / PSI over
histogram sketches. ``ks_statistic`` computes the exact two-sample KS
distance distributed (one groupBy on value + one cumulative window);
``psi`` computes the Population Stability Index over quantile bins
derived from the reference side. Both avoid collecting row data — only
bin/step tables sized by distinct values (KS) or bin count (PSI) are
shuffled. KS orders the distinct values globally, which is fine up to
~millions of distinct values.
"""

from __future__ import annotations

from typing import Any, Dict, Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datacheck_spark import stats as S


#: drift's rounding of the means it reports, in Spark (HALF_UP)
_DIGITS = {"vavg": 6, "lavg": 4}
#: a numeric field's report entries and the statistics they read
_NUMERIC = {"count": "nn", "mean": "vavg", "min": "vmin", "max": "vmax"}


def drift_summary(
    a: DataFrame, b: DataFrame, top_categories: int = 20
) -> Dict[str, Any]:
    """Reference-parity drift report (``mcp_server.py:570-631``):
    numeric → count/mean/min/max per side; categorical → top-k count
    table per side; text → avg length per side.

    Strings with an exact unique ratio under 0.3 on side ``a`` are
    categorical (``mcp_server.py:586-596``). One ``stats.profile`` per
    side holds its row count, stats and (on ``a``) that ratio."""
    shared = [c for c in a.columns if c in b.columns]
    numeric = S.columns_for(a, "vavg", shared)
    strings = S.columns_for(a, "uniq", shared)
    fields = [c for c in shared if c in numeric or c in strings]
    ra = S.profile(
        a, S.profile_aggs(a, ["uniq", "lavg", *_NUMERIC.values()], fields), _DIGITS
    )
    kinds: Dict[str, str] = {}
    for c in fields:
        if c in numeric:
            kinds[c] = "numeric"
        else:
            n = ra[f"nn__{c}"]
            ratio = ra[f"uniq__{c}"] / n if n else 1.0
            kinds[c] = "categorical" if ratio < 0.3 else "text"
    text = [c for c, k in kinds.items() if k == "text"]
    rb = S.profile(
        b,
        {
            **S.profile_aggs(b, list(_NUMERIC.values()), numeric),
            **S.profile_aggs(b, ["lavg"], text),
        },
        _DIGITS,
    )
    report: Dict[str, Any] = {
        "count_a": ra["__total"],
        "count_b": rb["__total"],
        "fields": {},
    }
    for c, kind in kinds.items():
        if kind == "numeric":
            report["fields"][c] = {"type": "numeric"}
            for side, r in (("a", ra), ("b", rb)):
                report["fields"][c][side] = {
                    k: r.get(f"{s}__{c}") for k, s in _NUMERIC.items()
                }
        elif kind == "text":
            report["fields"][c] = {
                "type": "text",
                "a": {"avg_length": ra[f"lavg__{c}"]},
                "b": {"avg_length": rb.get(f"lavg__{c}")},
            }
        else:
            tops = {}
            for side, df in (("a", a), ("b", b)):
                tops[side] = {
                    r[0]: r[1]
                    for r in df.groupBy(c)
                    .agg(F.count(F.lit(1)).alias("cnt"))
                    .orderBy(F.desc("cnt"), F.asc(c))
                    .limit(top_categories)
                    .collect()
                }
            report["fields"][c] = {
                "type": "categorical",
                "a": tops["a"],
                "b": tops["b"],
            }
    return report


def ks_statistic(
    a: DataFrame,
    b: DataFrame,
    col: str,
) -> float:
    """Exact two-sample Kolmogorov–Smirnov distance, distributed.

    Plan: union both sides tagged, groupBy value (one shuffle) counting
    per-side occurrences, then a cumulative-sum window ordered by value
    and max |ECDF_a − ECDF_b|. The window is a single global ordering —
    fine up to ~millions of *distinct* values.
    """
    va = a.select(F.col(col).cast("double").alias("v")).where(
        F.col("v").isNotNull()
    )
    vb = b.select(F.col(col).cast("double").alias("v")).where(
        F.col("v").isNotNull()
    )
    na, nb = va.count(), vb.count()
    if na == 0 or nb == 0:
        return 0.0

    tagged = va.select("v", F.lit(1).alias("__a"), F.lit(0).alias("__b")).unionAll(
        vb.select("v", F.lit(0).alias("__a"), F.lit(1).alias("__b"))
    )
    counts = tagged.groupBy("v").agg(
        F.sum("__a").alias("ca"), F.sum("__b").alias("cb")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    steps = counts.select(
        (F.sum("ca").over(w) / na).alias("Fa"),
        (F.sum("cb").over(w) / nb).alias("Fb"),
    )
    row = steps.agg(F.max(F.abs(F.col("Fa") - F.col("Fb"))).alias("D")).collect()[0]
    return float(row["D"] or 0.0)


def psi(
    a: DataFrame,
    b: DataFrame,
    col: str,
    bins: int = 10,
    epsilon: float = 1e-6,
    exact_edges: bool = False,
) -> float:
    """Population Stability Index over quantile bins of the reference
    side ``a``: PSI = Σ (pa − pb) · ln(pa / pb).

    Bin edges come from ``approxQuantile`` on ``a`` (Greenwald–Khanna
    sketch — bounded memory at any scale); bin shares are one
    conditional-agg pass per side. PSI < 0.1 stable, 0.1–0.25 moderate,
    > 0.25 major shift (industry convention).
    """
    va = a.select(F.col(col).cast("double").alias("v")).where(
        F.col("v").isNotNull()
    )
    vb = b.select(F.col(col).cast("double").alias("v")).where(
        F.col("v").isNotNull()
    )
    na, nb = va.count(), vb.count()
    if na == 0 or nb == 0:
        return 0.0
    qs = [i / bins for i in range(1, bins)]
    if exact_edges:
        # exact linear-interp percentiles (matches DuckDB quantile_cont)
        edges = sorted(
            set(
                va.agg(
                    F.percentile("v", F.lit(qs)).alias("e")
                ).collect()[0]["e"]
            )
        )
    else:
        edges = sorted(set(va.approxQuantile("v", qs, 1e-4)))

    def bin_expr():
        expr = F.lit(len(edges))
        for i in range(len(edges) - 1, -1, -1):
            expr = F.when(F.col("v") <= edges[i], F.lit(i)).otherwise(expr)
        return expr.alias("bin")

    import math

    ca = {
        r["bin"]: r["n"]
        for r in va.select(bin_expr()).groupBy("bin").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    cb = {
        r["bin"]: r["n"]
        for r in vb.select(bin_expr()).groupBy("bin").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    total = 0.0
    for i in range(len(edges) + 1):
        pa = max(ca.get(i, 0) / na, epsilon)
        pb = max(cb.get(i, 0) / nb, epsilon)
        total += (pa - pb) * math.log(pa / pb)
    return float(total)


def drift_report(
    a: DataFrame,
    b: DataFrame,
    numeric_cols: Optional[Sequence[str]] = None,
    bins: int = 10,
) -> Dict[str, Any]:
    """Summary deltas + KS/PSI per numeric column (the north_star
    extension; summary part is reference-parity)."""
    report = drift_summary(a, b)
    kinds = {
        c: v["type"] for c, v in report["fields"].items()
    }
    cols = list(
        numeric_cols
        if numeric_cols is not None
        else [c for c, k in kinds.items() if k == "numeric"]
    )
    for c in cols:
        report["fields"].setdefault(c, {})
        report["fields"][c]["ks"] = round(
            ks_statistic(a, b, c), 6
        )
        report["fields"][c]["psi"] = round(psi(a, b, c, bins=bins), 6)
    return report
