"""datacheck_spark — a PySpark-native schema + constraint validation engine.

A from-scratch rebuild of the capabilities of the reference data-quality
checker (``liuxiaotong/data-check``): rule-based validation, duplicate /
near-duplicate detection, distribution statistics, anomaly detection,
drift / leakage / bias / coverage analyses, auto-fixing, and contribution
weighting — re-expressed as declarative Spark DataFrame plans.

Design (see SURVEY.md §7):

- Rule specs compile to ``pyspark.sql.Column`` boolean expressions and run
  as ONE fused projection pass (whole-stage codegen), not a per-row loop.
- Dataset-level operators (dedup, stats, anomaly, drift) are single
  ``groupBy``/``agg`` jobs with partial+final combine across executors.
- No rule runs per-row Python: ``repetitive_text``'s ``Counter`` tests
  are exact array/regex Column expressions too (``rules.text``).
- Built for 10^12-turn transcript tables: salted aggregation for hot
  conversations, broadcast anti-joins for referential checks, HLL
  sketches for distinct counts, and one resumable violation store
  (``incremental.IncrementalValidator``) that validates only appended
  files and resumes a killed run at its next file group.
"""

__version__ = "0.1.0"

from datacheck_spark.schema import Severity, TRANSCRIPT_SCHEMA  # noqa: F401
from datacheck_spark.engine import ValidationEngine, CheckResult  # noqa: F401
