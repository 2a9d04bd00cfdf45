"""Auto-fix transforms: dedup → trim → remove-empty → PII redaction.

Reference: ``/root/reference/src/datacheck/fixer.py`` — fixed pipeline
order (``fixer.py:57-81``), PII patterns applied in a mandatory order
(EMAIL, then the birthdate-validating CN ID *before* phones,
``fixer.py:25-31``). Per-turn text equality with the reference's
redaction output is a BASELINE.md target — the same Java-compatible
regexes run via chained ``regexp_replace``.

All transforms are narrow column expressions (no shuffle) except dedup
(one shuffle on the content hash). Counters are computed in single agg
passes.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from typing import Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datacheck_spark.rules.text import redact_pii
from datacheck_spark.stats import columns_for


@dataclass
class FixResult:
    """Mirror of the reference FixResult (``fixer.py:11-21``)."""

    total_input: int = 0
    total_output: int = 0
    duplicates_removed: int = 0
    empty_removed: int = 0
    trimmed_count: int = 0
    near_duplicates_removed: int = 0
    pii_redacted_count: int = 0


def _non_empty_pred(df: DataFrame) -> Column:
    """Row has at least one non-null / non-empty value
    (``fixer.py:163-168``: None, "", [], {} are empty)."""
    preds = []
    for f in df.schema.fields:
        c = F.col(f.name)
        dt = f.dataType.simpleString()
        if dt == "string":
            preds.append(c.isNotNull() & (c != ""))
        elif dt.startswith("array") or dt.startswith("map"):
            preds.append(c.isNotNull() & (F.size(c) > 0))
        else:
            preds.append(c.isNotNull())
    return reduce(lambda a, b: a | b, preds) if preds else F.lit(False)


class DataFixer:
    """Distributed analogue of the reference DataFixer (``fixer.py:34``)."""

    def fix(
        self,
        df: DataFrame,
        dedup: bool = True,
        trim: bool = True,
        remove_empty: bool = True,
        strip_pii: bool = False,
        near_dedup: bool = False,
        near_threshold: float = 0.8,
        id_col: Optional[str] = None,
        score_col: Optional[str] = None,
        data_cols: Optional[Sequence[str]] = None,
        order_col: Optional[str] = None,
    ) -> Tuple[DataFrame, FixResult]:
        """Apply fixes in the reference's fixed order
        (``fixer.py:57-81``) and return (fixed_df, FixResult).

        ``data_cols`` bounds which columns participate in the content
        hash / trims (default: all except ``id``/``metadata`` when an
        ``id`` column exists — the wrapped-sample shape; else all).
        """
        result = FixResult(total_input=df.count())
        if data_cols is None:
            data_cols = [c for c in df.columns if c not in ("id", "metadata")] \
                if "id" in df.columns else list(df.columns)
        fixed = df

        if dedup:
            from datacheck_spark.dedup import dedup_exact

            before = result.total_input
            fixed = dedup_exact(fixed, data_cols, order_col=order_col)
            after = fixed.count()
            result.duplicates_removed = before - after

        if near_dedup:
            # beyond-reference scale path: MinHash-LSH candidate pairs
            # → connected components → keep the best representative
            # (highest score_col; default: longest concatenated text)
            from datacheck_spark.dedup import (
                near_dedup_keep_best,
                near_duplicate_pairs_lsh,
            )

            key = id_col or ("id" if "id" in fixed.columns else None)
            if key is None:
                raise ValueError("near_dedup requires an id column")
            text_cols = [c for c in columns_for(fixed, "lavg") if c in data_cols]
            before = fixed.count()
            if score_col is None:
                fixed = fixed.withColumn(
                    "__nd_score",
                    F.length(F.concat_ws(" ", *[F.col(c) for c in text_cols])),
                )
                score = "__nd_score"
            else:
                score = score_col
            pairs = near_duplicate_pairs_lsh(
                fixed, text_cols, key, threshold=near_threshold
            )
            fixed = near_dedup_keep_best(fixed, pairs, key, score)
            if score_col is None:
                fixed = fixed.drop("__nd_score")
            result.near_duplicates_removed = before - fixed.count()

        scols = [c for c in columns_for(fixed, "lavg") if c in data_cols]

        if trim and scols:
            # str.strip() parity: full Unicode whitespace, not F.trim
            from datacheck_spark.rules.text import py_strip

            changed = [
                F.sum(
                    (
                        F.col(c).isNotNull()
                        & (F.col(c) != py_strip(F.col(c)))
                    ).cast("long")
                ).alias(c)
                for c in scols
            ]
            row = fixed.agg(*changed).collect()[0]
            result.trimmed_count = int(sum(row[c] or 0 for c in scols))
            fixed = fixed.withColumns({c: py_strip(F.col(c)) for c in scols})

        if remove_empty:
            before = fixed.count()
            fixed = fixed.where(_non_empty_pred(fixed.select(*data_cols)))
            result.empty_removed = before - fixed.count()

        if strip_pii and scols:
            changed = [
                F.sum(
                    (
                        F.col(c).isNotNull()
                        & (redact_pii(F.col(c)) != F.col(c))
                    ).cast("long")
                ).alias(c)
                for c in scols
            ]
            row = fixed.agg(*changed).collect()[0]
            result.pii_redacted_count = int(sum(row[c] or 0 for c in scols))
            fixed = fixed.withColumns(
                {c: redact_pii(F.col(c)) for c in scols}
            )

        result.total_output = fixed.count()
        return fixed, result
