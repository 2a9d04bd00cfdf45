"""ValidationEngine: the fused rule pass and CheckResult aggregation.

Reference lifecycle: ``DataChecker.check``
(``/root/reference/src/datacheck/checker.py:78-181``) — a per-sample ×
per-rule Python loop. Here the entire rule suite is ONE Catalyst
projection of boolean columns over the scan (whole-stage codegen), and
every tally of its verdicts is ONE grouped aggregation, :func:`rollup`,
with partial+final combine — the treeAggregate-shaped plan Spark's
DataFrame agg already produces.

Outputs:

- ``annotate(df)``: df + one boolean ``__rule_<id>`` column per rule +
  ``__has_error`` (sample verdict: only ERROR severity fails a sample,
  ``checker.py:113-137``).
- ``violations(df)``: the unpivot of ``annotate(df, with_observed=True)``,
  long-form violation rows
  ``(*key_cols, rule_id, rule_name, severity, observed)`` under stable
  key ordering — the ``(conv_id, turn_idx, rule_id, observed)`` contract
  of BASELINE.json.
- ``rollup(annotated, rules, by)``: the one verdict tally, read by
  ``_counts``: ``summarize`` (no ``by``), the batch check, the
  partition verdicts and the CLI's LLM judge all count through it.
- ``check(df)``: a ``CheckResult`` matching the reference's
  machine-readable contract (``server/routers/check.py:73-87``).

Scale notes: the fused pass shuffles nothing; the summary agg is a
single exchange of tiny partial-agg rows; violation collection is
bounded by ``max_failed_ids``. The summary agg carries, through
``extra_aggs``, every aggregate whose form does not depend on the row
count: ``check`` folds in the distribution stats, ``TranscriptChecker``
its orphan-tool count. What does depend on it runs after that job with
the total it produced: the anomaly percentiles are exact up to
``anomaly.AUTO_EXACT_ROWS`` rows and Greenwald-Khanna sketches above.
Dup groups, top-value histograms and outlier counts are further jobs
over the same (cached) annotated frame.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Any, Dict, List, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datacheck_spark.schema import Severity, ValidationSchema
from datacheck_spark.rules.compiler import CompiledRule, RuleSet

RULE_PREFIX = "__rule_"
OBS_PREFIX = "__obs_"
HAS_ERROR = "__has_error"
#: the per-rule fields of a violation row
_VIOLATION_TYPE = (
    "struct<rule_id:string,rule_name:string,severity:string,observed:string>"
)


@dataclass
class CheckResult:
    """Mirror of the reference's CheckResult (``checker.py:16-38``)."""

    success: bool = True
    error: str = ""
    total_samples: int = 0
    passed_samples: int = 0
    failed_samples: int = 0
    error_count: int = 0
    warning_count: int = 0
    info_count: int = 0
    pass_rate: float = 0.0
    rule_results: Dict[str, Dict[str, Any]] = dc_field(default_factory=dict)
    failed_sample_ids: List[str] = dc_field(default_factory=list)
    duplicates: List[List[str]] = dc_field(default_factory=list)
    distribution: Dict[str, Any] = dc_field(default_factory=dict)
    near_duplicates: List[List[str]] = dc_field(default_factory=list)
    anomalies: Dict[str, Any] = dc_field(default_factory=dict)
    anomaly_count: int = 0
    sampled: bool = False
    sampled_count: int = 0
    original_count: int = 0
    extras: Dict[str, Any] = dc_field(default_factory=dict)

    def to_dict(self) -> Dict[str, Any]:
        """The canonical machine-readable contract
        (``server/routers/check.py:73-87``)."""
        return {
            "success": self.success,
            "total_samples": self.total_samples,
            "passed_samples": self.passed_samples,
            "failed_samples": self.failed_samples,
            "pass_rate": round(self.pass_rate, 4),
            "error_count": self.error_count,
            "warning_count": self.warning_count,
            "info_count": self.info_count,
            "rule_results": self.rule_results,
            "failed_sample_ids": self.failed_sample_ids,
            "duplicates": self.duplicates,
            "near_duplicates": self.near_duplicates,
            "anomaly_count": self.anomaly_count,
        }


def _unpivot(
    df: DataFrame, keep: Sequence, entries: Sequence[Column]
) -> DataFrame:
    """One ``(*keep, __v)`` row per non-null entry: ``entries`` are
    ``CASE WHEN failed THEN value END`` columns. ``explode`` of the
    plain array followed by a null filter keeps Generate, Filter and
    Project in one whole-stage codegen stage; dropping the nulls
    inside the array (``array_compact``, a ``filter`` lambda) is
    CodegenFallback and would run them interpreted."""
    return df.select(*keep, F.explode(F.array(*entries)).alias("__v")).where(
        F.col("__v").isNotNull()
    )


def rollup(
    annotated: DataFrame,
    rules: Sequence[CompiledRule],
    by: Sequence[str] = (),
    extra_aggs: Optional[Dict[str, Column]] = None,
) -> DataFrame:
    """The tally of an annotated frame's verdicts, one partial+final
    aggregation: per ``by`` group (one row for no ``by``) ``__total``,
    ``x_<name>`` per extra aggregate, ``f_<rule_id>`` per rule and
    ``__failed`` (rows failing an ERROR rule)."""
    aggs = [F.count(F.lit(1)).alias("__total")]
    aggs += [e.alias(f"x_{name}") for name, e in (extra_aggs or {}).items()]
    fails = [(~F.col(RULE_PREFIX + r.rule_id)).cast("long") for r in rules]
    aggs += [F.sum(c).alias("f_" + r.rule_id) for c, r in zip(fails, rules)]
    aggs.append(F.sum(F.col(HAS_ERROR).cast("long")).alias("__failed"))
    return annotated.groupBy(*by).agg(*aggs)


def _counts(row, rules: Sequence[CompiledRule]) -> CheckResult:
    """A :func:`rollup` row → ``CheckResult`` counts: a failed rule
    counts under its severity, only ERROR fails a sample
    (``checker.py:126-137``); an empty group passes and lists no rule."""
    total = row["__total"]
    result = CheckResult(total_samples=total, pass_rate=1.0)
    if total == 0:
        return result
    result.failed_samples = row["__failed"]
    result.passed_samples = total - result.failed_samples
    result.pass_rate = result.passed_samples / total
    for r in rules:
        failed = row["f_" + r.rule_id]
        if r.severity == Severity.ERROR:
            result.error_count += failed
        elif r.severity == Severity.WARNING:
            result.warning_count += failed
        else:
            result.info_count += failed
        result.rule_results[r.rule_id] = {
            "name": r.name,
            "passed": total - failed,
            "failed": failed,
            "severity": r.severity.value,
            "failed_samples": [],
        }
    return result


class ValidationEngine:
    """Compile a RuleSet against DataFrames and run validations."""

    def __init__(
        self,
        ruleset: Optional[RuleSet] = None,
        schema: Optional[ValidationSchema] = None,
    ):
        self.ruleset = ruleset or RuleSet()
        self.schema = schema or ValidationSchema()

    # -- fused pass -------------------------------------------------------

    def compile(self, df: DataFrame) -> List[CompiledRule]:
        return self.ruleset.compile(df, self.schema)

    def annotate(
        self,
        df: DataFrame,
        with_observed: bool = False,
        rules: Optional[List[CompiledRule]] = None,
    ) -> DataFrame:
        """Add one boolean pass-column per rule plus the sample verdict.

        This is the single fused projection — all rule expressions
        evaluate in one codegen stage over the scan. A frame that
        already holds these columns is returned as is (the violation
        store observes counts on it before :meth:`violations`).
        """
        rules = rules if rules is not None else self.compile(df)
        cols: Dict[str, Column] = {}
        for r in rules:
            cols[RULE_PREFIX + r.rule_id] = r.passed
            if with_observed and r.observed is not None:
                cols[OBS_PREFIX + r.rule_id] = r.observed.cast("string")
        if {HAS_ERROR, *cols} <= set(df.columns):
            return df
        error_fails = [
            ~F.col(RULE_PREFIX + r.rule_id)
            for r in rules
            if r.severity == Severity.ERROR
        ]
        annotated = df.withColumns(cols)
        has_error = (
            F.lit(False)
            if not error_fails
            else F.greatest(*[c.cast("boolean") for c in error_fails])
            if len(error_fails) > 1
            else error_fails[0]
        )
        return annotated.withColumn(HAS_ERROR, has_error)

    def violations(
        self,
        df: DataFrame,
        key_cols: Sequence[str],
        rules: Optional[List[CompiledRule]] = None,
        ordered: bool = True,
    ) -> DataFrame:
        """Long-form violation rows, stably ordered by the key columns:
        the unpivot of ``annotate(df, with_observed=True)``, one row per
        failed rule (``df`` may already be that annotated frame).

        Narrow: one ``CASE WHEN failed THEN struct END`` per rule,
        unpivoted by :func:`_unpivot` in the annotate pass's codegen
        stage. The violation store and the streaming sink write these
        rows. No shuffle except the final global sort.
        ``ordered=False`` swaps it for ``sortWithinPartitions``: a
        global ``orderBy`` under a WRITE costs a second full pass (the
        range partitioner's sampling job re-runs the fused rule
        projection — measured 96s vs 45s on the 8.36M-turn bench
        table), so the violation store
        (``IncrementalValidator``, whose identity checks are
        order-insensitive) opts out; the user-facing parity contract
        keeps the stable global order.
        """
        rules = rules if rules is not None else self.compile(df)
        annotated = self.annotate(df, with_observed=True, rules=rules)
        null_obs = F.lit(None).cast("string")
        entries = [
            F.when(
                ~F.col(RULE_PREFIX + r.rule_id),
                F.struct(
                    F.lit(r.rule_id).alias("rule_id"),
                    F.lit(r.name).alias("rule_name"),
                    F.lit(r.severity.value).alias("severity"),
                    (
                        F.col(OBS_PREFIX + r.rule_id)
                        if r.observed is not None
                        else null_obs
                    ).alias("observed"),
                ),
            )
            for r in rules
        ] or [F.lit(None).cast(_VIOLATION_TYPE)]  # no rule: zero rows
        out = _unpivot(annotated, key_cols, entries).select(
            *key_cols, "__v.*"
        )
        if ordered:
            return out.orderBy(*key_cols, "rule_id")
        return out.sortWithinPartitions(*key_cols, "rule_id")

    # -- summary ----------------------------------------------------------

    def per_rule_failed_ids_df(
        self,
        annotated: DataFrame,
        rules: List[CompiledRule],
        id_col: str,
        k: int = 10,
    ) -> DataFrame:
        """First ``k`` failing ids per rule, ``(rule_id, ids)`` rows.

        Scale-bounded: ``row_number() over (partition by rule_id order by
        __ord) <= k``, which Spark plans as a partial ``WindowGroupLimit``
        on each input partition before the ``rule_id`` exchange and a
        final one after it. At most ``num_partitions * k`` rows per rule
        cross the exchange, so no reducer ever buffers a rule's full
        failure set, and the final ``collect_list`` holds ``k`` ids.
        ``__ord`` (monotonically_increasing_id: partition index in the
        high bits) keeps first-k deterministic in row order — identical
        output to an unbounded collect_list-then-slice. All of it is JVM
        SQL: no Python worker starts. The partial limit sorts its
        partition's failure rows (spillable) rather than stopping early,
        and Spark plans it only for ``k`` up to
        ``spark.sql.optimizer.windowGroupLimitThreshold`` (1000).
        """
        from pyspark.sql import Window

        exploded = _unpivot(
            annotated,
            [
                F.monotonically_increasing_id().alias("__ord"),
                F.col(id_col).cast("string").alias("__id"),
            ],
            [
                F.when(~F.col(RULE_PREFIX + r.rule_id), F.lit(r.rule_id))
                for r in rules
            ],
        ).withColumnRenamed("__v", "rule_id")
        first_k = F.row_number().over(
            Window.partitionBy("rule_id").orderBy("__ord")
        )
        return (
            exploded.withColumn("__rn", first_k)
            .where(F.col("__rn") <= k)
            .groupBy("rule_id")
            .agg(
                F.sort_array(F.collect_list(F.struct("__ord", "__id")))
                .getField("__id")
                .alias("ids")
            )
        )

    def summarize(
        self,
        annotated: DataFrame,
        rules: List[CompiledRule],
        id_col: Optional[str] = None,
        max_failed_ids: int = 10000,
        per_rule_failed_ids: int = 10,
        collect_failed_ids: bool = True,
        extra_aggs: Optional[Dict[str, Column]] = None,
    ) -> CheckResult:
        """The :func:`rollup` of the annotated frame, collected, →
        ``CheckResult`` (:func:`_counts`).

        ``extra_aggs`` piggy-back additional aggregate expressions onto
        the SAME job (no extra scan); their values land in
        ``result.extras`` keyed by name. With ``collect_failed_ids``
        and an ``id_col``, two more jobs collect each rule's first
        ``per_rule_failed_ids`` failing ids (:meth:`per_rule_failed_ids_df`)
        and the ids of up to ``max_failed_ids`` rows failing an ERROR
        rule. All three jobs run in the JVM, without a Python worker.
        """
        row = rollup(annotated, rules, extra_aggs=extra_aggs).collect()[0]
        result = _counts(row, rules)
        result.extras = {n: row[f"x_{n}"] for n in extra_aggs or {}}
        if result.total_samples == 0:
            return result

        if collect_failed_ids and id_col and id_col in annotated.columns:
            # per-rule first-k failing ids (reference caps at 10,
            # checker.py:154), bounded by a window limit before the
            # final aggregation (see per_rule_failed_ids_df)
            per_rule = self.per_rule_failed_ids_df(
                annotated, rules, id_col, k=per_rule_failed_ids
            ).collect()
            for pr in per_rule:
                if pr["rule_id"] in result.rule_results:
                    result.rule_results[pr["rule_id"]]["failed_samples"] = pr[
                        "ids"
                    ]
            result.failed_sample_ids = [
                r["__id"]
                for r in annotated.filter(F.col(HAS_ERROR))
                .select(F.col(id_col).cast("string").alias("__id"))
                .limit(max_failed_ids)
                .collect()
            ]
        return result

    # -- end-to-end -------------------------------------------------------

    def check(
        self,
        df: DataFrame,
        id_col: Optional[str] = None,
        data_cols: Optional[Sequence[str]] = None,
        find_duplicates: bool = True,
        find_near_duplicates: bool = True,
        near_duplicate_max_rows: int = 5000,
        compute_distribution: bool = True,
        detect_anomalies: bool = True,
        reference_df: Optional[DataFrame] = None,
    ) -> CheckResult:
        """Full check pipeline mirroring ``DataChecker.check``
        (``checker.py:78-181``): fused rules → summary; then dup groups,
        near-dups, distribution, anomalies (warning/info only — they
        never fail samples, ``checker.py:158-173``).
        """
        from datacheck_spark import dedup as D
        from datacheck_spark import stats as S
        from datacheck_spark import anomaly as A

        if id_col is None and "id" in df.columns:
            id_col = "id"
        data_cols = list(
            data_cols
            if data_cols is not None
            else [c for c in df.columns if c not in (id_col, "metadata")]
        )

        rules = self.compile(df)
        annotated = self.annotate(df, rules=rules).persist()
        data = annotated.select(*df.columns)
        try:
            # the distribution aggregates ride on the summary job; the
            # anomaly percentiles cannot, as their form follows the
            # row count that job produces
            result = self.summarize(
                annotated,
                rules,
                id_col=id_col,
                extra_aggs=S.distribution_aggs(data, data_cols)
                if compute_distribution
                else None,
            )
            folded, result.extras = result.extras, {}
            if result.total_samples == 0:
                return result

            if find_duplicates:
                result.duplicates = D.duplicate_groups(
                    annotated, data_cols=data_cols, id_col=id_col
                )
                result.warning_count += len(result.duplicates)

            if find_near_duplicates:
                result.near_duplicates = D.near_duplicate_groups(
                    annotated,
                    text_cols=S.columns_for(annotated, "lavg", data_cols),
                    id_col=id_col,
                    max_rows=near_duplicate_max_rows,
                )
                result.warning_count += len(result.near_duplicates)

            if compute_distribution:
                result.distribution = S.distribution_from_values(
                    data, data_cols, result.total_samples, folded
                )

            if detect_anomalies:
                result.anomalies = A.detect_anomalies(
                    data,
                    cols=data_cols,
                    total=result.total_samples,
                )
                result.anomaly_count = sum(
                    a["outlier_count"] for a in result.anomalies.values()
                )

            if reference_df is not None:
                ref_cols = data_cols or reference_df.columns
                result.distribution["reference_comparison"] = (
                    S.compare_distribution_dicts(
                        result.distribution
                        or S.compute_distribution(data, data_cols),
                        S.compute_distribution(
                            reference_df,
                            [c for c in ref_cols if c in reference_df.columns],
                        ),
                    )
                )
            return result
        finally:
            annotated.unpersist()
