"""Distribution statistics, schema inference, coverage, comparison.

Reference semantics: ``_compute_distribution``
(``/root/reference/src/datacheck/checker.py:478-538``), ``infer_schema``
(``checker.py:590-674``), ``check_coverage``
(``mcp_server.py:784-829``), ``_compare_distributions``
(``checker.py:540-588``).

All stats for all columns are computed in ONE ``df.agg`` pass (Spark's
hash aggregate already does partial+final combine across executors —
the treeAggregate shape BASELINE.json asks for). ``distribution_aggs``
hands those expressions to callers that already run an aggregation:
``ValidationEngine.check`` runs them inside its rule summary. Top-k
value histograms use one extra unpivot → groupBy → window job for
*all* numeric columns together instead of a job per column.
"""

from __future__ import annotations

from typing import Any, Dict, List, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegralType,
    MapType,
    NumericType,
    StringType,
    StructType,
)


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


def distribution_aggs(
    df: DataFrame, cols: Optional[Sequence[str]] = None
) -> Dict[str, Column]:
    """The aggregate expressions of :func:`compute_distribution`, keyed
    by name, for a caller to run in an aggregation of its own
    (``ValidationEngine.check`` folds them into the rule summary).
    None depends on the row count; the row count itself is the
    caller's. No ``cols`` means every column."""
    dtypes = _dtype_map(df)
    aggs: Dict[str, Column] = {}
    for c in cols or df.columns:
        aggs[f"null__{c}"] = F.sum(F.col(c).isNull().cast("long"))
        if isinstance(dtypes[c], StringType):
            aggs[f"lmin__{c}"] = F.min(F.length(c))
            aggs[f"lmax__{c}"] = F.max(F.length(c))
            aggs[f"lavg__{c}"] = F.avg(F.length(c))
            aggs[f"uniq__{c}"] = F.countDistinct(c)
            aggs[f"nn__{c}"] = F.count(c)
        elif _is_number(dtypes[c]):
            aggs[f"vmin__{c}"] = F.min(c)
            aggs[f"vmax__{c}"] = F.max(c)
            aggs[f"vavg__{c}"] = F.avg(c)
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
    dtypes = _dtype_map(df)
    tops = _top_values(df, [c for c in cols if _is_number(dtypes[c])])
    for c in cols:
        fs: Dict[str, Any] = {
            "count": total,
            "null_count": values[f"null__{c}"],
        }
        if isinstance(dtypes[c], StringType) and values[f"nn__{c}"] > 0:
            fs["type"] = "string"
            fs["length_stats"] = {
                "min": values[f"lmin__{c}"],
                "max": values[f"lmax__{c}"],
                "avg": values[f"lavg__{c}"],
            }
            fs["unique_count"] = values[f"uniq__{c}"]
            fs["unique_ratio"] = values[f"uniq__{c}"] / values[f"nn__{c}"]
        elif _is_number(dtypes[c]) and values[f"vavg__{c}"] is not None:
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
    aggs = distribution_aggs(df, cols)
    row = df.agg(
        F.count(F.lit(1)).alias("__total"),
        *[e.alias(name) for name, e in aggs.items()],
    ).collect()[0]
    return distribution_from_values(df, cols, row["__total"], row.asDict())


def per_file_distributions(spark, paths, engine=None):
    """Per-file distribution summaries for N data files — the shared
    core of CLI ``compare`` and the ``compare_distributions`` MCP tool
    (reference ``cli.py:236-313``). Returns (frames, dists) where each
    dist is ``{file, sample_count, distribution}``."""
    from datacheck_spark import sources as SRC
    from datacheck_spark.engine import ValidationEngine

    engine = engine or ValidationEngine()
    frames = []
    dists = []
    for p in paths:
        df, _ = SRC.load_data(spark, p)
        frames.append(df)
        res = engine.check(
            df, find_duplicates=False, find_near_duplicates=False,
            detect_anomalies=False,
        )
        dists.append(
            {
                "file": p,
                "sample_count": res.total_samples,
                "distribution": res.distribution,
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
    if isinstance(dt, (DoubleType, FloatType)) or isinstance(dt, NumericType):
        return "number"
    if isinstance(dt, ArrayType):
        return "array"
    if isinstance(dt, (MapType, StructType)):
        return "object"
    return "string"


def infer_schema(
    df: DataFrame,
    enum_max_uniques: int = 10,
    approx_distinct: Optional[bool] = None,
) -> Dict[str, Any]:
    """Infer a validation schema (``checker.py:590-674``).

    At most TWO jobs in the default size-aware mode (a third separate
    ``count`` was pure job-latency overhead and is folded into job 1):

    - Job 1 fuses the row count, per-column non-null counts, string
      length min/max/avg, numeric min/max and HLL distinct sketches —
      every term map-side combinable, bounded state at 10^12 rows.
    - Job 2 depends on size. At or below ``anomaly.AUTO_EXACT_ROWS``
      (known from job 1) it fuses exact ``countDistinct`` with a
      slice-bounded ``sort_array(collect_set)`` per numeric column —
      exact oracle parity, and ``collect_set`` state is bounded by the
      row cap. Above it, candidacy comes from the job-1 sketches with
      a 2x margin, and job 2 collects slice-bounded value sets only
      for those candidates, emitting an enum only after exact
      confirmation (set length <= enum_max_uniques) — so an HLL error
      in either direction can neither hide a true enum nor emit an
      over-wide one. Job 2 is skipped when there are no candidates.

    ``approx_distinct``: None (default) = the size-aware switch above;
    True forces sketch mode; False forces exact ``countDistinct`` —
    above the row cap that is a third job (countDistinct cannot fuse
    with the unbounded collect_set there), the documented cost of
    demanding exactness past the auto-exact threshold.
    """
    from datacheck_spark.anomaly import AUTO_EXACT_ROWS

    dtypes = _dtype_map(df)
    numeric_cols = [
        c
        for c in df.columns
        if isinstance(dtypes[c], NumericType)
        and not isinstance(dtypes[c], BooleanType)
    ]
    aggs = [F.count(F.lit(1)).alias("__total")]
    for c in df.columns:
        dt = dtypes[c]
        aggs.append(F.count(c).alias(f"nn__{c}"))
        if isinstance(dt, StringType):
            aggs += [
                F.min(F.length(c)).alias(f"lmin__{c}"),
                F.max(F.length(c)).alias(f"lmax__{c}"),
                F.avg(F.length(c)).alias(f"lavg__{c}"),
            ]
        elif c in numeric_cols:
            aggs += [
                F.min(c).alias(f"vmin__{c}"),
                F.max(c).alias(f"vmax__{c}"),
                F.approx_count_distinct(c).alias(f"happrox__{c}"),
            ]
    row = df.agg(*aggs).collect()[0]
    total = row["__total"]
    if total == 0:
        return {"fields": {}, "sample_count": 0}
    if approx_distinct is None:
        approx_distinct = total > AUTO_EXACT_ROWS

    uniq: Dict[str, int] = {}
    enums: Dict[str, List[Any]] = {}
    if not approx_distinct and numeric_cols:
        fuse_enums = total <= AUTO_EXACT_ROWS
        aggs2 = [
            F.countDistinct(c).alias(f"uniq__{c}") for c in numeric_cols
        ]
        if fuse_enums:
            aggs2 += [
                F.slice(
                    F.sort_array(F.collect_set(c)),
                    1,
                    enum_max_uniques + 1,
                ).alias(f"set__{c}")
                for c in numeric_cols
            ]
        row2 = df.agg(*aggs2).collect()[0]
        uniq = {c: row2[f"uniq__{c}"] for c in numeric_cols}
        if fuse_enums:
            enums = {
                c: list(row2[f"set__{c}"])
                for c in numeric_cols
                if 0 < uniq[c] <= enum_max_uniques
            }
            fuse_enums_done = True
        else:
            fuse_enums_done = False
    else:
        uniq = {c: row[f"happrox__{c}"] for c in numeric_cols}
        fuse_enums_done = False

    if not fuse_enums_done:
        # Mirrors suggest.profile_columns: in sketch mode ``uniq`` is an
        # HLL estimate, so (a) candidacy uses a 2x margin (an
        # over-estimate must not hide a true <=N enum), (b) the
        # collect_set emission is slice-bounded (an under-estimate must
        # not ship an unbounded set to the driver), and (c) the enum is
        # only emitted after EXACT confirmation: the bounded slice of
        # the full set proves the true distinct count iff its length
        # stays <= enum_max_uniques.
        bar = enum_max_uniques * (2 if approx_distinct else 1)
        enum_candidates = [c for c in numeric_cols if 0 < uniq[c] <= bar]
        if enum_candidates:
            erow = df.agg(
                *[
                    F.slice(
                        F.sort_array(F.collect_set(c)),
                        1,
                        enum_max_uniques + 1,
                    ).alias(c)
                    for c in enum_candidates
                ]
            ).collect()[0]
            enums = {
                c: list(erow[c])
                for c in enum_candidates
                if 0 < len(erow[c]) <= enum_max_uniques
            }

    fields: Dict[str, Any] = {}
    for c in df.columns:
        dt = dtypes[c]
        nn = row[f"nn__{c}"]
        field_def: Dict[str, Any] = {"type": _infer_type_name(dt) if nn else "string"}
        # presence of the *key* is static in a DataFrame; required iff
        # the column is populated in >= 95% of rows (DataFrame-idiomatic
        # reading of checker.py:644-647)
        if nn / total >= 0.95:
            field_def["required"] = True
        if nn < total:
            field_def["nullable"] = True
        if isinstance(dt, StringType) and nn:
            field_def["min_length"] = row[f"lmin__{c}"]
            field_def["max_length"] = row[f"lmax__{c}"]
            field_def["avg_length"] = round(row[f"lavg__{c}"])
        if (
            isinstance(dt, NumericType)
            and not isinstance(dt, BooleanType)
            and nn
        ):
            field_def["min_value"] = row[f"vmin__{c}"]
            field_def["max_value"] = row[f"vmax__{c}"]
            if c in enums:
                field_def["enum"] = enums[c]
        fields[c] = field_def

    return {"sample_count": total, "fields": fields}


def check_coverage(
    df: DataFrame,
    cols: Optional[Sequence[str]] = None,
    approx_distinct: bool = True,
) -> Dict[str, Any]:
    """Field coverage analysis (``mcp_server.py:784-829``): presence %,
    non-empty %, distinct counts, plus cross-field averages.

    DataFrame reading of "presence": non-null (key presence is static).
    Distinct counts use HLL sketches by default — no 10k cap needed
    (the reference caps exact sets at 10000, ``mcp_server.py:806-807``).
    """
    cols = list(cols or df.columns)
    dtypes = _dtype_map(df)
    distinct = (
        F.approx_count_distinct if approx_distinct else F.countDistinct
    )
    aggs = [F.count(F.lit(1)).alias("__total")]
    for c in cols:
        aggs.append(F.count(c).alias(f"nn__{c}"))
        if isinstance(dtypes[c], StringType):
            nonempty = (F.col(c).isNotNull() & (F.length(F.trim(c)) > 0)).cast(
                "long"
            )
        else:
            nonempty = F.col(c).isNotNull().cast("long")
        aggs.append(F.sum(nonempty).alias(f"ne__{c}"))
        aggs.append(distinct(c).alias(f"uniq__{c}"))
    row = df.agg(*aggs).collect()[0]
    total = row["__total"]
    out: Dict[str, Any] = {"total_samples": total, "fields": {}}
    if total == 0:
        return out
    presences, nonempties = [], []
    for c in cols:
        presence = row[f"nn__{c}"] / total
        nonempty = row[f"ne__{c}"] / total
        presences.append(presence)
        nonempties.append(nonempty)
        out["fields"][c] = {
            "presence_rate": round(presence, 4),
            "non_empty_rate": round(nonempty, 4),
            "distinct_values": row[f"uniq__{c}"],
        }
    out["avg_presence_rate"] = round(sum(presences) / len(presences), 4)
    out["avg_non_empty_rate"] = round(sum(nonempties) / len(nonempties), 4)
    return out
