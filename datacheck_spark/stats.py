"""Distribution statistics, schema inference, coverage, comparison.

Reference semantics: ``_compute_distribution``
(``/root/reference/src/datacheck/checker.py:478-538``), ``infer_schema``
(``checker.py:590-674``), ``check_coverage``
(``mcp_server.py:784-829``), ``_compare_distributions``
(``checker.py:540-588``).

Each per-column statistic is defined once, in :data:`STATS`; every
profiler (here, ``suggest``, ``drift``, ``bias``, ``leakage``) runs
them as ONE :func:`profile` aggregation (partial+final combine — the
treeAggregate shape BASELINE.json asks for). ``distribution_aggs``
hands them to ``ValidationEngine.check``'s rule summary. Top-k value
histograms use one extra unpivot → groupBy → window job for *all*
numeric columns together instead of a job per column.
"""

from __future__ import annotations

from typing import Any, Dict, List, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegralType,
    MapType,
    NumericType,
    StringType,
    StructType,
)

from datacheck_spark.rules import text as T


def _dtype_map(df: DataFrame) -> Dict[str, Any]:
    return {f.name: f.dataType for f in df.schema.fields}


def _top_values(
    df: DataFrame, numeric_cols: List[str], k: int = 10
) -> Dict[str, Dict[float, int]]:
    """Top-k most frequent values for every numeric column in one job.

    Reference: ``Counter(values).most_common(10)``
    (``checker.py:533-534``). Deterministic tie-break: higher count
    first, then smaller value.
    """
    if not numeric_cols:
        return {}
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).alias("col"),
                F.col(c).cast("double").alias("val"),
            )
            for c in numeric_cols
        ]
    )
    exploded = (
        df.select(F.explode(pairs).alias("p"))
        .select("p.col", "p.val")
        .where(F.col("val").isNotNull())
    )
    w = Window.partitionBy("col").orderBy(F.desc("cnt"), F.asc("val"))
    top = (
        exploded.groupBy("col", "val")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .collect()
    )
    # at most k rows per column: ordered here, not by a global sort job
    out: Dict[str, Dict[float, int]] = {}
    for r in sorted(top, key=lambda r: (r["col"], r["rn"])):
        out.setdefault(r["col"], {})[r["val"]] = r["cnt"]
    return out


def _is_number(dt) -> bool:
    return isinstance(dt, NumericType) and not isinstance(dt, BooleanType)


def _is_string(dt) -> bool:
    return isinstance(dt, StringType)


def _any(dt) -> bool:
    return True


def _rows(test: Column) -> Column:
    return F.sum(test.cast("long"))


#: Every per-column profile statistic, defined once: name -> (the
#: column types it applies to, its aggregate over the column).
STATS = {
    "nn": (_any, F.count),
    "null": (_any, lambda c: _rows(c.isNull())),
    # Python ``str.strip() == ""`` (the suggested ``non_empty`` check)
    "blank": (_is_string, lambda c: _rows(T.py_blank(c))),
    # non-null with a non-space character (coverage's non-empty rate)
    "nonempty": (
        _is_string, lambda c: _rows(c.isNotNull() & (F.length(F.trim(c)) > 0))
    ),
    # non-null values that fail to parse as JSON
    "nonjson": (
        _is_string, lambda c: _rows(F.try_parse_json(c).isNull() & c.isNotNull())
    ),
    "lmin": (_is_string, lambda c: F.min(F.length(c))),
    "lmax": (_is_string, lambda c: F.max(F.length(c))),
    "lavg": (_is_string, lambda c: F.avg(F.length(c))),
    "lstd": (_is_string, lambda c: F.stddev_pop(F.length(c))),
    "vmin": (_is_number, F.min),
    "vmax": (_is_number, F.max),
    "vavg": (_is_number, F.avg),
    "uniq": (_is_string, F.countDistinct),
    "hll": (_any, F.approx_count_distinct),
}


def columns_for(
    df: DataFrame, stat: str, cols: Optional[Sequence[str]] = None
) -> List[str]:
    """The columns of ``cols`` (default all), in order, that ``stat``
    applies to."""
    applies, dtypes = STATS[stat][0], _dtype_map(df)
    return [c for c in (df.columns if cols is None else cols) if applies(dtypes[c])]


def profile_aggs(
    df: DataFrame, stats: Sequence[str], cols: Optional[Sequence[str]] = None
) -> Dict[str, Column]:
    """``{"<stat>__<col>": aggregate}`` for every column of ``cols``
    (default all) and every statistic of ``stats`` that applies to its
    type, column by column."""
    dtypes = _dtype_map(df)
    return {
        f"{s}__{c}": STATS[s][1](F.col(c))
        for c in (df.columns if cols is None else cols)
        for s in stats
        if STATS[s][0](dtypes[c])
    }


def profile_frame(
    df: DataFrame, aggs: Dict[str, Column], digits: Optional[Dict[str, int]] = None
) -> DataFrame:
    """``aggs`` as ONE aggregation with ``count(*) AS __total``: a
    one-row frame (partial+final combine). Each statistic named in
    ``digits`` is rounded in Spark (HALF_UP, unlike Python's ``round``)
    to that many places."""
    digits = digits or {}

    def column(name: str, e: Column) -> Column:
        stat = name.split("__", 1)[0]
        return (F.round(e, digits[stat]) if stat in digits else e).alias(name)

    return df.agg(
        F.count(F.lit(1)).alias("__total"),
        *[column(name, e) for name, e in aggs.items()],
    )


def profile(
    df: DataFrame, aggs: Dict[str, Column], digits: Optional[Dict[str, int]] = None
) -> Dict[str, Any]:
    """Run :func:`profile_frame`: its row as a dict."""
    return profile_frame(df, aggs, digits).collect()[0].asDict()


def distribution_aggs(
    df: DataFrame, cols: Optional[Sequence[str]] = None
) -> Dict[str, Column]:
    """The aggregate expressions of :func:`compute_distribution`, keyed
    by name, for a caller to run in an aggregation of its own
    (``ValidationEngine.check`` folds them into the rule summary).
    None depends on the row count; the row count itself is the
    caller's. No ``cols`` means every column."""
    cols = cols or df.columns
    aggs = profile_aggs(
        df, ("null", "lmin", "lmax", "lavg", "uniq", "vmin", "vmax", "vavg"), cols
    )
    # unique_ratio's denominator, on the columns with a distinct count
    aggs.update(profile_aggs(df, ["nn"], columns_for(df, "uniq", cols)))
    return aggs


def distribution_from_values(
    df: DataFrame,
    cols: Optional[Sequence[str]],
    total: int,
    values: Dict[str, Any],
) -> Dict[str, Any]:
    """The per-field distribution dict from the row count and the
    values of :func:`distribution_aggs` over the same ``cols``, plus
    one top-values job over ``df`` for the numeric columns."""
    distribution: Dict[str, Any] = {"total": total, "fields": {}}
    if total == 0:
        return distribution
    cols = cols or df.columns
    tops = _top_values(df, columns_for(df, "vavg", cols))
    for c in cols:
        fs: Dict[str, Any] = {
            "count": total,
            "null_count": values[f"null__{c}"],
        }
        if values.get(f"nn__{c}"):  # a string column with values
            fs["type"] = "string"
            fs["length_stats"] = {
                "min": values[f"lmin__{c}"],
                "max": values[f"lmax__{c}"],
                "avg": values[f"lavg__{c}"],
            }
            fs["unique_count"] = values[f"uniq__{c}"]
            fs["unique_ratio"] = values[f"uniq__{c}"] / values[f"nn__{c}"]
        elif values.get(f"vavg__{c}") is not None:
            fs["type"] = "number"
            fs["value_stats"] = {
                "min": values[f"vmin__{c}"],
                "max": values[f"vmax__{c}"],
                "avg": values[f"vavg__{c}"],
            }
            fs["value_distribution"] = tops.get(c, {})
        distribution["fields"][c] = fs
    return distribution


def compute_distribution(
    df: DataFrame, cols: Optional[Sequence[str]] = None
) -> Dict[str, Any]:
    """Per-field distribution stats (``checker.py:478-538``).

    Strings: length min/max/avg + unique count/ratio. Numbers: value
    min/max/avg + top-10 histogram. Booleans/complex: count + null_count
    only (the reference ignores them beyond counting).
    """
    row = profile(df, distribution_aggs(df, cols))
    return distribution_from_values(df, cols, row["__total"], row)


def per_file_distributions(spark, paths):
    """Per-file distribution summaries for N data files — the shared
    core of CLI ``compare`` and the ``compare_distributions`` MCP tool
    (reference ``cli.py:236-313``). Returns (frames, dists) where each
    dist is ``{file, sample_count, distribution}``: no rule runs, only
    :func:`compute_distribution` over the columns ``check`` describes
    (all but ``id`` and ``metadata``); an empty file gives ``{}``."""
    from datacheck_spark import sources as SRC

    frames = []
    dists = []
    for p in paths:
        df, _ = SRC.load_data(spark, p)
        frames.append(df)
        dist = compute_distribution(
            df, [c for c in df.columns if c not in ("id", "metadata")]
        )
        dists.append(
            {
                "file": p,
                "sample_count": dist["total"],
                "distribution": dist if dist["total"] else {},
            }
        )
    return frames, dists


def compare_distributions(
    df: DataFrame,
    reference: DataFrame,
    cols: Optional[Sequence[str]] = None,
) -> Dict[str, Any]:
    """Field-wise comparison of two distributions
    (``checker.py:540-588``)."""
    return compare_distribution_dicts(
        compute_distribution(
            df, cols=[c for c in (cols or df.columns) if c in df.columns]
        ),
        compute_distribution(
            reference,
            cols=[c for c in (cols or reference.columns) if c in reference.columns],
        ),
    )


def compare_distribution_dicts(
    sample_dist: Dict[str, Any], ref_dist: Dict[str, Any]
) -> Dict[str, Any]:
    """:func:`compare_distributions` over two :func:`compute_distribution`
    results."""
    comparison: Dict[str, Any] = {
        "sample_count": sample_dist["total"],
        "reference_count": ref_dist["total"],
        "field_comparisons": {},
    }
    names = set(sample_dist["fields"]) | set(ref_dist["fields"])
    for name in names:
        sf = sample_dist["fields"].get(name, {})
        rf = ref_dist["fields"].get(name, {})
        fc: Dict[str, Any] = {
            "in_samples": name in sample_dist["fields"],
            "in_reference": name in ref_dist["fields"],
        }
        if "length_stats" in sf and "length_stats" in rf:
            s_avg = sf["length_stats"]["avg"]
            r_avg = rf["length_stats"]["avg"]
            fc["length_comparison"] = {
                "sample_avg": s_avg,
                "reference_avg": r_avg,
                "diff_percent": abs(s_avg - r_avg) / r_avg * 100
                if r_avg and r_avg > 0
                else 0,
            }
        if "unique_ratio" in sf and "unique_ratio" in rf:
            fc["diversity_comparison"] = {
                "sample_unique_ratio": sf["unique_ratio"],
                "reference_unique_ratio": rf["unique_ratio"],
            }
        comparison["field_comparisons"][name] = fc
    return comparison


def _infer_type_name(dt) -> str:
    """Spark type → the reference's inferred type vocabulary
    (``checker.py:616-632``)."""
    if isinstance(dt, BooleanType):
        return "boolean"
    if isinstance(dt, IntegralType):
        return "integer"
    if isinstance(dt, NumericType):
        return "number"
    if isinstance(dt, ArrayType):
        return "array"
    if isinstance(dt, (MapType, StructType)):
        return "object"
    return "string"


def _confirm_enums(
    df: DataFrame, estimates: Dict[str, int], enum_max_uniques: int
) -> Dict[str, List[Any]]:
    """Exactly confirmed enums among the columns of ``estimates``
    (column -> HLL distinct estimate), the one enum decision of
    :func:`infer_schema` and ``suggest.profile_columns``.

    A column is a candidate when its estimate is in
    (0, 2 x ``enum_max_uniques``]: HLL error is a few percent, never
    2x, so an over-estimate cannot hide a true enum. One job collects
    the sorted value set of every candidate, sliced to
    ``enum_max_uniques + 1`` values so an under-estimate cannot ship an
    unbounded set to the driver; a column is an enum iff that slice
    holds 1..``enum_max_uniques`` values, which proves the true
    distinct count. No candidates, no job."""
    candidates = [
        c for c, n in estimates.items() if 0 < n <= 2 * enum_max_uniques
    ]
    if not candidates:
        return {}
    row = df.agg(
        *[
            F.slice(
                F.sort_array(F.collect_set(c)), 1, enum_max_uniques + 1
            ).alias(c)
            for c in candidates
        ]
    ).collect()[0]
    return {
        c: list(row[c])
        for c in candidates
        if 0 < len(row[c]) <= enum_max_uniques
    }


def infer_schema(df: DataFrame, enum_max_uniques: int = 10) -> Dict[str, Any]:
    """Infer a validation schema (``checker.py:590-674``).

    At most TWO jobs at any size:

    - Job 1 fuses the row count, per-column non-null counts, string
      length min/max/avg, numeric min/max and an HLL distinct sketch
      per numeric column — every term map-side combinable, bounded
      state at 10^12 rows.
    - Job 2 is :func:`_confirm_enums` over the numeric columns: the
      sketches pick candidates, one slice-bounded ``collect_set`` per
      candidate confirms them exactly, so an enum is emitted exactly
      when the column has 1..``enum_max_uniques`` distinct values.
      Skipped when there are no candidates.
    """
    numeric_cols = columns_for(df, "vmin")
    aggs = profile_aggs(df, ("nn", "lmin", "lmax", "lavg", "vmin", "vmax"))
    aggs.update(profile_aggs(df, ["hll"], numeric_cols))
    row = profile(df, aggs)
    total = row["__total"]
    if total == 0:
        return {"fields": {}, "sample_count": 0}
    enums = _confirm_enums(
        df, {c: row[f"hll__{c}"] for c in numeric_cols}, enum_max_uniques
    )

    fields: Dict[str, Any] = {}
    for c, dt in _dtype_map(df).items():
        nn = row[f"nn__{c}"]
        field_def: Dict[str, Any] = {"type": _infer_type_name(dt) if nn else "string"}
        # presence of the *key* is static in a DataFrame; required iff
        # the column is populated in >= 95% of rows (DataFrame-idiomatic
        # reading of checker.py:644-647)
        if nn / total >= 0.95:
            field_def["required"] = True
        if nn < total:
            field_def["nullable"] = True
        if f"lmin__{c}" in row and nn:
            field_def["min_length"] = row[f"lmin__{c}"]
            field_def["max_length"] = row[f"lmax__{c}"]
            field_def["avg_length"] = round(row[f"lavg__{c}"])
        if f"vmin__{c}" in row and nn:
            field_def["min_value"] = row[f"vmin__{c}"]
            field_def["max_value"] = row[f"vmax__{c}"]
            if c in enums:
                field_def["enum"] = enums[c]
        fields[c] = field_def

    return {"sample_count": total, "fields": fields}


def check_coverage(
    df: DataFrame, cols: Optional[Sequence[str]] = None
) -> Dict[str, Any]:
    """Field coverage analysis (``mcp_server.py:784-829``): presence %,
    non-empty %, distinct counts, plus cross-field averages.

    DataFrame reading of "presence": non-null (key presence is static).
    ``distinct_values`` is an HLL estimate (``approx_count_distinct``),
    so no 10k cap is needed (the reference caps exact sets at 10000,
    ``mcp_server.py:806-807``).
    """
    cols = list(cols or df.columns)
    row = profile(df, profile_aggs(df, ("nn", "nonempty", "hll"), cols))
    total = row["__total"]
    out: Dict[str, Any] = {"total_samples": total, "fields": {}}
    if total == 0:
        return out
    presences, nonempties = [], []
    for c in cols:
        presence = row[f"nn__{c}"] / total
        # a column without an emptiness test is non-empty where non-null
        nonempty = row.get(f"nonempty__{c}", row[f"nn__{c}"]) / total
        presences.append(presence)
        nonempties.append(nonempty)
        out["fields"][c] = {
            "presence_rate": round(presence, 4),
            "non_empty_rate": round(nonempty, 4),
            "distinct_values": row[f"hll__{c}"],
        }
    out["avg_presence_rate"] = round(sum(presences) / len(presences), 4)
    out["avg_non_empty_rate"] = round(sum(nonempties) / len(nonempties), 4)
    return out
