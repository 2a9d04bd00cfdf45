"""Sources/sinks: JSONL / CSV / JSON-envelope readers, directory batch
checks, report-shaped writers.

Reference: ``_load_data`` (``checker.py:183-218``) detects format by
extension; JSON files may be a bare list or a
``{samples|responses: [...], schema: {...}}`` envelope; CSV values are
all strings (``csv.DictReader``). Directory checks rglob the supported
extensions and aggregate per-file results (``checker.py:280-365``).

Spark mapping (SURVEY §2.1): line-delimited JSON is ``spark.read.json``'s
native mode; the JSON envelope needs a multiLine read + explode; CSV
reads with ``header=True`` and *no* inferSchema to preserve the
all-strings reference semantics; directory scans use glob paths +
``input_file_name()`` so per-file aggregation is ONE job over all files
instead of a driver loop.
"""

from __future__ import annotations

import json
import os
import re
from pathlib import Path
from typing import Any, Dict, List, Optional, Sequence, Tuple
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

SUPPORTED_EXTENSIONS = {".json", ".jsonl", ".csv"}  # checker.py:41

#: a local file's scheme in the URIs Spark reports for the files it
#: reads (``input_file_name()``, ``inputFiles()``,
#: ``_metadata.file_path``): ``file:/abs/p%20x`` or ``file:///abs/p%20x``
_FILE_SCHEME = "^file:/+"


def uri_key(uri: str) -> str:
    """A file URI as Spark reports it → its key: a local file's
    ``file:`` scheme stripped (``/abs/p%20x``), remote URIs
    (``s3a://…``) kept whole, the percent-encoding kept
    (:func:`key_to_path` undoes it)."""
    return re.sub(_FILE_SCHEME, "/", uri)


def uri_key_col(uri: Column) -> Column:
    """:func:`uri_key` as a Column expression."""
    return F.regexp_replace(uri, _FILE_SCHEME, "/")


def key_to_path(key: str) -> str:
    """A :func:`uri_key` key → the path Spark or the OS opens."""
    return unquote(key)


def _spark_path(path) -> str:
    """``path`` for ``spark.read``: a URI (``s3a:``, ``file:``) as given,
    a local path made absolute (Spark resolves a relative one against
    the JVM's working directory, not this process's)."""
    path = str(path)
    return path if re.match(r"\w[\w+.-]*:", path) else os.path.abspath(path)


def load_data(
    spark: SparkSession, path: str
) -> Tuple[DataFrame, Dict[str, Any]]:
    """Open one dataset — the way every command and tool opens a path.
    Returns (df, embedded_schema).

    ``.jsonl``, ``.csv``, ``.orc`` and ``.json`` paths are read by
    extension (``checker.py:183-218``); a ``.json`` directory (as
    Spark writes one) is line-delimited JSON. Any other path is a
    parquet table read the way ``incremental.list_data_files`` lists one
    (``recursiveFileLookup``): a ``.parquet`` file, a directory at any
    depth (``base/`` + ``append_k/``) or an ``s3a:``/``hdfs:`` URI.
    Partition directories (``k=v/``) add no columns. A directory Spark
    wrote (it holds ``_SUCCESS``) is read by its part files' format,
    whatever its own name."""
    suffix = _dataset_suffix(path)
    read = _spark_path(path)
    if suffix == ".jsonl" or (suffix == ".json" and Path(path).is_dir()):
        return spark.read.json(read), {}
    if suffix == ".csv":
        # all-string typing preserved (reference DictReader semantics)
        return spark.read.csv(read, header=True, inferSchema=False), {}
    if suffix == ".orc":
        # columnar beyond-reference format (Spark-native, typed)
        return spark.read.orc(read), {}
    if suffix != ".json":
        return (
            spark.read.option("recursiveFileLookup", "true").parquet(read),
            {},
        )
    # .json: list or envelope; the envelope/schema sidecar is read on
    # the driver (it is metadata-scale, not data-scale)
    with open(path, "r", encoding="utf-8") as f:
        data = json.load(f)
    if isinstance(data, list):
        samples, schema = data, {}
    else:
        samples = data.get("samples", data.get("responses", []))
        schema = data.get("schema", {})
    df = spark.createDataFrame(samples) if samples else spark.createDataFrame(
        [], "id string"
    )
    return df, schema


def _supported_files(root: Path, patterns: Optional[List[str]] = None):
    """The JSON/JSONL/CSV files under ``root`` a batch check reads."""
    return sorted(
        f
        for pat in (patterns or [f"*{e}" for e in SUPPORTED_EXTENSIONS])
        for f in root.rglob(pat)
        if f.is_file() and f.suffix.lower() in SUPPORTED_EXTENSIONS
    )


def _spark_written(root: Path) -> bool:
    """A local directory holding Spark's ``_SUCCESS`` marker."""
    return (root / "_SUCCESS").is_file()


def _dataset_suffix(path: str) -> str:
    """The suffix :func:`load_data` reads ``path`` by: for a directory
    Spark wrote, that of its part files (``part-*.json`` of
    ``write_jsonl(df, "out")``), else its own."""
    root = Path(path)
    if _spark_written(root):
        parts = {f.suffix.lower() for f in root.glob("part-*")}
        if len(parts) == 1:
            return parts.pop()
    return root.suffix.lower()


def is_batch_directory(path: str) -> bool:
    """True when ``path`` is a local directory holding JSON/JSONL/CSV
    files: ``check``/``watch`` then check it file by file
    (:func:`check_directory`, reference ``checker.py:280-365``). Any
    other path is one dataset opened by :func:`load_data`, and so is a
    directory Spark wrote: one holding its ``_SUCCESS`` marker, or one
    whose own name carries a supported suffix (``out.jsonl`` is a
    directory of part files)."""
    root = Path(path)
    return (
        root.is_dir()
        and root.suffix.lower() not in SUPPORTED_EXTENSIONS
        and not _spark_written(root)
        and bool(_supported_files(root))
    )


def load_glob(
    spark: SparkSession,
    dir_path: str,
    patterns: Optional[List[str]] = None,
) -> DataFrame:
    """Read every supported file under a directory into one DataFrame
    tagged with ``source_file`` — the distributed replacement for the
    reference's per-file loop (``checker.py:311-324``).

    JSONL and JSON-list files go through one ``spark.read.json``; CSVs
    through one ``spark.read.csv``; the union is by column name.
    """
    return load_file_list(spark, _supported_files(Path(dir_path), patterns))


def load_file_list(spark: SparkSession, files: Sequence[Path]) -> DataFrame:
    """Read an explicit list of supported files into one DataFrame
    tagged with ``source_file`` — shared by :func:`load_glob`
    (directory discovery) and :func:`check_files` (the pre-commit hook
    entry, which receives the changed files as argv)."""
    jsonl_files = [_spark_path(f) for f in files if f.suffix.lower() == ".jsonl"]
    json_files = [str(f) for f in files if f.suffix.lower() == ".json"]
    csv_files = [_spark_path(f) for f in files if f.suffix.lower() == ".csv"]
    parts: List[DataFrame] = []
    if jsonl_files:
        # PERMISSIVE keeps malformed lines in _corrupt_record so the
        # batch check can account skipped/corrupt input per file
        # (reference skips unreadable files, checker.py:351-352)
        parts.append(
            spark.read.option("multiLine", "false")
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .json(jsonl_files)
            .withColumn("source_file", F.input_file_name())
        )
    # .json files follow the reference's _load_data semantics
    # (checker.py:183-218): full-file json.load — a bare list OR a
    # {samples|responses: [...]} envelope, possibly pretty-printed over
    # many lines. These are metadata-scale config/sample files, so the
    # driver-side parse load_data already does is the right tool; an
    # unparseable file is skipped (reference checker.py:351-352), which
    # we surface as one corrupt "record" for the skip accounting.
    for jf in json_files:
        # Tag with the file's URI, as input_file_name() tags the files
        # Spark reads: absolute (hooks pass repo-relative argv) and
        # percent-encoded, so the batch keying reads every tag back
        # through one rule.
        uri = Path(jf).resolve().as_uri()
        try:
            jdf, _schema = load_data(spark, jf)
        except Exception as exc:  # json.load failure → skipped file
            parts.append(
                spark.createDataFrame(
                    [(str(exc)[:200], uri)],
                    "_corrupt_record string, source_file string",
                )
            )
            continue
        parts.append(jdf.withColumn("source_file", F.lit(uri)))
    if csv_files:
        parts.append(
            spark.read.csv(csv_files, header=True, inferSchema=False)
            .withColumn("source_file", F.input_file_name())
        )
    if not parts:
        return spark.createDataFrame([], "source_file string")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def split_patterns(pattern: Optional[str]) -> Optional[List[str]]:
    """Comma-separated ``--pattern`` string → glob list (None passes
    through, meaning the default extension set)."""
    if not pattern:
        return None
    return [s.strip() for s in pattern.split(",") if s.strip()] or None


def check_directory(
    spark: SparkSession,
    dir_path: str,
    engine=None,
    patterns: Optional[List[str]] = None,
) -> Dict[str, Any]:
    """Batch directory check (``checker.py:280-365``): per-file
    pass/fail aggregation via ONE fused pass + groupBy(source_file) —
    not a file loop.

    Returns the BatchCheckResult shape: per-file totals, overall pass
    rate, passed_files (= files with zero ERROR failures), skipped
    files (unreadable). Results are keyed by the path RELATIVE to
    ``dir_path`` (reference keys the same way, ``checker.py:311-324``)
    so same-named files in different subdirectories stay distinct."""
    root = Path(dir_path)
    if not root.is_dir():
        return {"success": False, "error": f"not a directory: {dir_path}"}
    base = root.resolve()

    def _rel(source_file: str) -> str:
        p = Path(key_to_path(uri_key(source_file)))
        try:
            return str(p.relative_to(base))
        except ValueError:
            return p.name

    df = load_glob(spark, dir_path, patterns)
    return _batch_check(df, _rel, engine, extra={"directory": str(root)})


def check_files(
    spark: SparkSession,
    paths: Sequence[str],
    engine=None,
) -> Dict[str, Any]:
    """Batch check over an EXPLICIT file list — the pre-commit hook
    entrypoint (matched changed files arrive as argv; mirrors the
    reference's ``.pre-commit-hooks.yaml:1-6`` hook surface). Same
    fused one-pass aggregation as :func:`check_directory`, with results
    keyed by the paths exactly as given."""
    files = [Path(p) for p in paths]
    ok = [f.is_file() and f.suffix.lower() in SUPPORTED_EXTENSIONS
          for f in files]
    supported = [f for f, good in zip(files, ok) if good]
    unsupported = [str(f) for f, good in zip(files, ok) if not good]
    given = {f.resolve(): str(p) for f, p in zip(files, paths)}

    def _key(source_file: str) -> str:
        p = Path(key_to_path(uri_key(source_file)))
        return given.get(p.resolve(), p.name)

    df = load_file_list(spark, supported)
    return _batch_check(
        df, _key, engine,
        extra={"files": [str(p) for p in paths]},
        skipped=[f"{u}: unsupported or missing" for u in unsupported],
    )


#: a batch check's entry per file: these keys of its ``CheckResult.to_dict()``
_FILE_KEYS = ("total_samples", "passed_samples", "failed_samples",
              "pass_rate", "error_count", "warning_count")


def _file_rollup(df: DataFrame, engine=None):
    """A ``source_file``-tagged frame's compiled rules and the engine's
    ``rollup`` of its verdicts by ``source_file``."""
    from datacheck_spark.engine import ValidationEngine, rollup

    engine = engine or ValidationEngine()
    rules = engine.compile(df)
    annotated = engine.annotate(df, rules=rules)
    return rules, rollup(annotated, rules, by=["source_file"])


def _batch_check(
    df: DataFrame,
    key_fn,
    engine,
    extra: Optional[Dict[str, Any]] = None,
    skipped: Optional[List[str]] = None,
) -> Dict[str, Any]:
    """Shared fused batch aggregation over a ``source_file``-tagged
    frame: the rollup of :func:`_file_rollup`, each file's entry read
    from its row by the engine's ``_counts`` — not a file loop.
    ``key_fn`` maps a ``source_file`` tag to its result key."""
    from datacheck_spark.engine import _counts

    skipped = list(skipped or [])
    if "source_file" not in df.columns:
        return {
            "success": True,
            "total_files": 0,
            "overall_pass_rate": 1.0,
            "file_results": {},
            "skipped_files": skipped,
            **(extra or {}),
        }

    if "_corrupt_record" in df.columns:
        # Spark disallows querying only the corrupt-record column from a
        # raw JSON scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — cache first
        # as the docs prescribe
        df = df.cache()
        corrupt_per_file = {
            key_fn(r["source_file"]): r["n"]
            for r in df.where(F.col("_corrupt_record").isNotNull())
            .groupBy("source_file")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        skipped += [f"{name}: {n} corrupt records" for name, n in sorted(corrupt_per_file.items())]
        df = df.where(F.col("_corrupt_record").isNull()).drop("_corrupt_record")

    rules, rollup = _file_rollup(df, engine)
    # one row per file: ordered here, not by a range-partitioned sort
    per_file = [
        (key_fn(row["source_file"]), _counts(row, rules))
        for row in sorted(rollup.collect(), key=lambda r: r["source_file"])
    ]
    file_results = {
        key: {k: v for k, v in c.to_dict().items() if k in _FILE_KEYS}
        for key, c in per_file
    }
    total = sum(c.total_samples for _, c in per_file)
    passed = sum(c.passed_samples for _, c in per_file)
    return {
        "success": True,
        **(extra or {}),
        "total_files": len(file_results),
        "file_results": file_results,
        "total_samples": total,
        "total_passed_samples": passed,
        "total_failed_samples": total - passed,
        "overall_pass_rate": round(passed / total, 4) if total else 1.0,
        "total_error_count": sum(c.error_count for _, c in per_file),
        "total_warning_count": sum(c.warning_count for _, c in per_file),
        "passed_files": sum(
            1 for fr in file_results.values() if fr["failed_samples"] == 0
        ),
        "skipped_files": skipped,
    }


def write_jsonl(df: DataFrame, path: str) -> None:
    """JSONL sink (``fixer.py:112-117``); at scale prefer
    ``df.write.parquet`` / Iceberg append."""
    df.write.mode("overwrite").json(path)


def sample_deterministic(
    df: DataFrame,
    id_col: str,
    rate: float,
    seed: int = 42,
) -> DataFrame:
    """Deterministic hash-threshold sampling: keep rows where
    ``md5(seed || id)`` (first 8 hex digits as an integer) falls under
    ``rate`` of the 32-bit space.

    Unlike ``orderBy(rand).limit`` this is shuffle-free, stable across
    runs/engines (md5 is portable — the DuckDB oracle reproduces the
    exact row set), and composable at 10^12 rows: the predicate pushes
    into the scan and every executor decides membership locally."""
    threshold = int(rate * 0xFFFFFFFF)
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(str(seed) + ":"), F.col(id_col).cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    return df.where(bucket <= threshold)


def stratified_sample_deterministic(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    rates: Dict[str, float],
    default_rate: float = 0.0,
    seed: int = 42,
) -> DataFrame:
    """Per-stratum deterministic sampling (training-data rebalancing:
    e.g. downsample web text, keep all code). Same md5-threshold scheme
    as :func:`sample_deterministic`, with the threshold chosen per
    ``strata_col`` value — shuffle-free, portable, and the strata
    mapping is a broadcast-sized CASE expression."""
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(str(seed) + ":"), F.col(id_col).cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    thr = None
    for value, rate in rates.items():
        t = int(rate * 0xFFFFFFFF)
        cond = F.col(strata_col) == value
        thr = F.when(cond, t) if thr is None else thr.when(cond, t)
    thr = (
        thr.otherwise(int(default_rate * 0xFFFFFFFF))
        if thr is not None
        else F.lit(int(default_rate * 0xFFFFFFFF))
    )
    return df.where(bucket <= thr)


def sample_df(
    df: DataFrame,
    sample_count: Optional[int] = None,
    sample_rate: Optional[float] = None,
    seed: int = 42,
) -> Tuple[DataFrame, bool]:
    """Seeded sampling (``checker.py:255-264``; the reference is
    unseeded — we seed for reproducibility). Exact-N uses
    ``orderBy(rand).limit`` (one shuffle); rate uses ``df.sample``
    (no shuffle)."""
    if sample_count is not None:
        n = df.count()
        if sample_count < n:
            return (
                df.orderBy(F.rand(seed)).limit(sample_count),
                True,
            )
        return df, False
    if sample_rate is not None and 0 < sample_rate < 1.0:
        return df.sample(fraction=sample_rate, seed=seed), True
    return df, False
