"""Bias analysis: category imbalance, length distribution, language mix.

Reference: ``check_bias`` (``mcp_server.py:706-782``):

- label auto-detect: a short string field with 2–50 uniques in the
  first 200 samples (``mcp_server.py:718-726``);
- category imbalance: label counts + max/min ratio;
- length bias: mean / population std / min / max of text length;
- language bias: zh/en/other by CJK-vs-latin share of the first 500
  chars with 0.3 cutoffs (``mcp_server.py:756-775``).

The label probe's and the length stats' aggregates are the shared
``stats`` statistics (``lavg``, ``uniq``, ``lstd``, ``lmin``/``lmax``);
the row count rides the length stats' aggregation.
"""

from __future__ import annotations

from typing import Any, Dict, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datacheck_spark import stats as S

#: literal-endpoint CJK class — valid in both Java regex and RE2
CJK_CLASS = "[一-鿿]"


def detect_label_column(
    df: DataFrame,
    max_avg_len: int = 20,
    min_uniques: int = 2,
    max_uniques: int = 50,
    probe_rows: int = 200,
) -> Optional[str]:
    """Short-string field with a small value vocabulary
    (``mcp_server.py:718-726``), probed on a bounded prefix."""
    scols = S.columns_for(df, "uniq")
    if not scols:
        return None
    probe = df.select(*scols).limit(probe_rows)
    row = S.profile(probe, S.profile_aggs(probe, ("lavg", "uniq")))
    for c in scols:
        avg_len = row[f"lavg__{c}"] or 0
        uniq = row[f"uniq__{c}"] or 0
        if avg_len <= max_avg_len and min_uniques <= uniq <= max_uniques:
            return c
    return None


def language_share(col) -> Dict[str, object]:
    """zh/en/other classification expression over the first 500 chars
    (``mcp_server.py:756-775``)."""
    head = F.substring(col, 1, 500)
    ln = F.length(head)
    cjk = ln - F.length(F.regexp_replace(head, CJK_CLASS, ""))
    latin = ln - F.length(F.regexp_replace(head, "[a-zA-Z]", ""))
    return (
        F.when(col.isNull() | (ln == 0), "unknown")
        .when(cjk.cast("double") / ln > 0.3, "zh")
        .when(latin.cast("double") / ln > 0.3, "en")
        .otherwise("other")
    )


def group_language_consistency(
    df: DataFrame, group_col: str, text_col: str
) -> DataFrame:
    """Per-group language mix: majority language (count-desc, name-asc
    tie-break), total rows, majority count, and minority share — the
    grouped analogue of the per-sample ``language_consistency`` rule
    (e.g. per conversation or per source). One shuffle on
    (group, lang) with map-side combine, then a tiny per-group window.
    """
    from pyspark.sql import Window

    counts = (
        df.select(
            F.col(group_col).alias("grp"),
            language_share(F.col(text_col)).alias("lang"),
        )
        .groupBy("grp", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("grp").orderBy(F.desc("n"), F.asc("lang"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .groupBy("grp")
        .agg(
            F.max(F.when(F.col("rank") == 1, F.col("lang"))).alias(
                "majority_lang"
            ),
            F.sum("n").alias("total"),
            F.max(F.when(F.col("rank") == 1, F.col("n"))).alias(
                "majority_count"
            ),
        )
        .select(
            F.col("grp").alias(group_col),
            "majority_lang",
            "total",
            "majority_count",
            F.round(
                (F.col("total") - F.col("majority_count"))
                / F.col("total"),
                6,
            ).alias("minority_share"),
        )
    )


def check_bias(
    df: DataFrame,
    label_col: Optional[str] = None,
    text_col: Optional[str] = None,
) -> Dict[str, Any]:
    """Full bias report: category imbalance + length stats + language
    tally. The row count rides on the length stats' aggregation."""
    label_col = label_col or detect_label_column(df)
    if text_col is None:
        text_col = next((c for c in S.columns_for(df, "lavg") if c != label_col), None)
    # the length of a non-string text field is that of its string form
    texts = df.select(
        [F.col(text_col).cast("string").alias(text_col)] if text_col else []
    )
    row = S.profile(
        texts,
        S.profile_aggs(texts, ("lavg", "lstd", "lmin", "lmax")),
        {"lavg": 4, "lstd": 4},
    )
    report: Dict[str, Any] = {"total_samples": row["__total"]}

    if label_col:
        counts = (
            df.where(F.col(label_col).isNotNull())
            .groupBy(label_col)
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc(label_col))
            .collect()
        )
        dist = {r[0]: r[1] for r in counts}
        if dist:
            mx, mn = max(dist.values()), min(dist.values())
            report["category_bias"] = {
                "label_field": label_col,
                "distribution": dist,
                "imbalance_ratio": round(mx / mn, 2) if mn else float("inf"),
            }

    if text_col:
        report["length_bias"] = {
            "text_field": text_col,
            "mean": row[f"lavg__{text_col}"],
            "std": row[f"lstd__{text_col}"],
            "min": row[f"lmin__{text_col}"],
            "max": row[f"lmax__{text_col}"],
        }
        langs = (
            df.select(language_share(F.col(text_col)).alias("lang"))
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        )
        report["language_bias"] = {r["lang"]: r["cnt"] for r in langs}
    return report
