"""DataRecipe integration: validate a dataset against the schema and
samples inside a DataRecipe analysis directory.

Reference behavior (``checker.py:367-420``, CLI ``cli.py:178-236``):
the analysis dir carries the contract — ``04_复刻指南/DATA_SCHEMA.json``
is the validation schema (missing → failed CheckResult, not an
exception); data defaults to ``11_合成数据/synthetic.json`` then
``09_样例数据/samples.json``; the samples file doubles as the
distribution reference when it is not itself the data under check; the
quality report lands in ``12_质检报告/``.

Spark shape: the directory layout and schema sidecars are
driver-side metadata (tiny JSON files); the data itself loads through
``sources.load_data`` into a DataFrame and runs the ordinary fused
check, so a DataRecipe whose data pointer is a parquet/JSONL path
scales like any other input.
"""

from __future__ import annotations

from pathlib import Path
from typing import Optional

from pyspark.sql import SparkSession

from datacheck_spark.engine import CheckResult, ValidationEngine
from datacheck_spark.schema import ValidationSchema

SCHEMA_SUBPATH = "04_复刻指南/DATA_SCHEMA.json"
SYNTHETIC_SUBPATH = "11_合成数据/synthetic.json"
SAMPLES_SUBPATH = "09_样例数据/samples.json"
REPORT_SUBDIR = "12_质检报告"


def resolve_data_path(
    analysis_dir: str, data_path: Optional[str] = None
) -> Optional[Path]:
    """Reference data resolution (``checker.py:392-404``): explicit
    path wins; else synthetic data, else samples, else None."""
    if data_path is not None:
        return Path(data_path)
    base = Path(analysis_dir)
    for sub in (SYNTHETIC_SUBPATH, SAMPLES_SUBPATH):
        p = base / sub
        if p.exists():
            return p
    return None


def check_from_datarecipe(
    spark: SparkSession,
    analysis_dir: str,
    data_path: Optional[str] = None,
    engine: Optional[ValidationEngine] = None,
) -> CheckResult:
    """Validate DataRecipe-described data (``checker.py:367-420``).

    Error paths return a failed ``CheckResult`` (``success=False`` with
    the reference's error strings) rather than raising, so CLI/API
    callers gate uniformly.
    """
    from datacheck_spark import sources as SRC

    base = Path(analysis_dir)
    schema_path = base / SCHEMA_SUBPATH
    if not schema_path.exists():
        return CheckResult(
            success=False, error=f"Schema not found: {schema_path}"
        )
    schema = ValidationSchema.from_file(str(schema_path))

    resolved = resolve_data_path(analysis_dir, data_path)
    if resolved is None:
        return CheckResult(success=False, error="No data file found")

    df, _ = SRC.load_data(spark, str(resolved))

    reference_df = None
    ref_path = base / SAMPLES_SUBPATH
    if ref_path.exists() and str(ref_path) != str(resolved):
        reference_df, _ = SRC.load_data(spark, str(ref_path))

    if engine is None:
        engine = ValidationEngine(schema=schema)
    else:
        engine.schema = schema
    id_col = "id" if "id" in df.columns else None
    return engine.check(df, id_col=id_col, reference_df=reference_df)
