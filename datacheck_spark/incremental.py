"""Incremental validation over append-only tables.

At 10^12 turns a daily append is a tiny fraction of the table;
re-validating everything per batch is the difference between a
minutes-long job and an unaffordable one. This module validates ONLY
data files added since the last run and merges metrics, following the
Iceberg data model exactly: data files are immutable — a commit ADDS
and REMOVES whole files, never edits one in place (an Iceberg
"incremental append scan" between two snapshot ids enumerates exactly
the added files). Here the file listing of Spark's parquet reader IS
the snapshot, fingerprinted by (path, size, mtime); on Iceberg the
same manifest would key by the data-file paths in the snapshot's
manifest list — the swap is confined to :func:`list_data_files`.

Mechanics (all metadata is manifest-scale, never data-scale):

- New files are validated in groups of :data:`FILE_GROUP_SIZE`, each
  ONE Spark job after its schema read: the write of its violation rows
  to their own ``violations/batch=N`` directory, on which the
  manifest's per-file counts are observed (``DataFrame.observe``). The
  directory is written with overwrite semantics, so a job killed after
  the write but before the manifest commit is healed by the re-run
  overwriting the same batch dir (the manifest's ``next_batch`` only
  advances on commit, and readers only read committed batches).
- Each violation row carries ``(src_file, batch)``. The live view
  reads the committed batch dirs with the violation-row schema the
  manifest records at its first commit (no schema-inference job). In
  an append-only history, and after a compaction, every committed
  batch still holds all the files it was written with, so the view is
  that read alone. Once a file is removed or replaced, the view
  broadcast-semi-joins the batch output against the manifest's
  current file set, so that file's historical rows vanish from the
  view without rewriting any parquet.
- :meth:`IncrementalValidator.compact` folds all live rows into one
  batch when the batch-dir count grows (the classic small-files
  cleanup), preserving the live view exactly.

Reference: the reference engine re-reads the full input every run
(``checker.py:183-218`` loads one file per invocation); incremental
runs are beyond-reference capability. Rule semantics are unchanged —
rules are compiled against the table schema alone, so incremental
violation rows are bit-identical to a from-scratch run's (tested by
set equality in ``tests/test_incremental.py``).

Schema evolution: rules are compiled PER FILE GROUP against that
group's schema. With a fixed-column rule suite (the transcript
checker) appended columns are simply ignored — identical to a full
run. With schema-dependent rulesets (the generic engine's all-string-
columns rules), a column added by an append is validated from its
first batch onward — schema-on-read per append, which is what an
evolving Iceberg table wants (a full re-read under the merged schema
would instead apply today's schema to yesterday's files).
"""

from __future__ import annotations

import json
import os
import tempfile
from collections import Counter
from pathlib import Path
from typing import Any, Dict, List, Optional, Tuple

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from datacheck_spark.engine import HAS_ERROR, RULE_PREFIX
from datacheck_spark.sources import key_to_path, uri_key, uri_key_col

INCR_MANIFEST = "incremental.json"

#: Files validated per committed batch. It bounds every driver-side
#: structure of a group (its file list, its observed per-file counts)
#: at metadata scale, so a full run over a 10^6-file table streams
#: through ceil(10^6 / 64) bounded batches.
FILE_GROUP_SIZE = 64


def _stat(spark: SparkSession, key: str) -> Dict[str, int]:
    """(size, mtime_ns) fingerprint of one data file; a remote key
    (``s3a://…``, ``hdfs://…``) is stat-ed through the same Hadoop
    filesystem client Spark's reader uses."""
    if key.startswith("/"):
        st = os.stat(key_to_path(key))
        return {"size": st.st_size, "mtime": st.st_mtime_ns}
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(jvm.java.net.URI(key))
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    st = fs.getFileStatus(path)
    return {"size": st.getLen(), "mtime": st.getModificationTime() * 10**6}


def list_data_files(
    spark: SparkSession, table_path: str
) -> Dict[str, Dict[str, int]]:
    """Current snapshot: {manifest key: {size, mtime}} of every data
    file under ``table_path``, listed by Spark's own parquet file index
    (metadata-scale: the given empty schema skips schema inference, so
    no file is opened). The search is recursive, so appends landed in
    plain subdirectories (``append_000/``) are found as well as
    partition directories. It skips what the reader skips
    (``_temporary/`` task output, ``.hidden/`` directories,
    ``_SUCCESS``), takes local paths, ``file:`` URIs and remote tables
    alike, and raises on a path that does not exist — before
    :meth:`IncrementalValidator.run` changes any state. The fingerprint
    is (size, mtime_ns) so an in-place rewrite that happens to keep
    the byte size is still detected as a replacement. On Iceberg this
    is the ONLY function to swap — enumerate the snapshot's data files
    instead (there the snapshot id itself is the fingerprint)."""
    files = (
        spark.read.schema(StructType())
        .option("recursiveFileLookup", "true")
        .parquet(table_path)
        .inputFiles()
    )
    return {k: _stat(spark, k) for k in sorted(map(uri_key, files))}


class IncrementalValidator:
    """Validate only files appended since the last manifest.

    ``checker`` needs ``engine`` + ``key_cols`` like
    :class:`~datacheck_spark.transcripts.TranscriptChecker` (the
    default); ``rule_version`` participates in lineage — bumping it
    discards the manifest so every file is revalidated under the new
    rules.
    """

    def __init__(
        self,
        base_path: str,
        rule_version: str = "v1",
        checker=None,
    ):
        if checker is None:
            from datacheck_spark.transcripts import TranscriptChecker

            checker = TranscriptChecker()
        self.base_path = str(base_path)
        self.rule_version = rule_version
        self.checker = checker
        self.key_cols = list(checker.key_cols)

    # --- manifest -----------------------------------------------------

    def _manifest_path(self) -> Path:
        return Path(self.base_path) / INCR_MANIFEST

    def load_state(self) -> Dict[str, Any]:
        p = self._manifest_path()
        if p.exists():
            data = json.loads(p.read_text(encoding="utf-8"))
            if data.get("rule_version") == self.rule_version:
                return data
        # a fresh manifest has no "schema": the first commit records it
        return {
            "rule_version": self.rule_version,
            "next_batch": 0,
            "files": {},
            "batches": {},
        }

    def _save_state(self, state: Dict[str, Any]) -> None:
        Path(self.base_path).mkdir(parents=True, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=self.base_path, suffix=".incr.tmp")
        with os.fdopen(fd, "w", encoding="utf-8") as f:
            f.write(json.dumps(state, indent=1, sort_keys=True))
        os.replace(tmp, self._manifest_path())

    def _batch_dir(self, batch: int) -> str:
        return str(Path(self.base_path) / "violations" / f"batch={batch}")

    # --- incremental run ----------------------------------------------

    def run(self, spark: SparkSession, table_path: str) -> Dict[str, Any]:
        """One incremental pass: diff the file listing against the
        manifest, validate added/replaced files group by group (one
        committed batch per group — kill-and-rerun resumes at the next
        group), drop removed files from the live set."""
        state = self.load_state()
        current = list_data_files(spark, table_path)

        removed = [p for p in state["files"] if p not in current]
        replaced = [
            p
            for p, fp in current.items()
            if p in state["files"]
            and (
                state["files"][p]["size"] != fp["size"]
                or state["files"][p].get("mtime") != fp["mtime"]
            )
        ]
        new = [p for p in current if p not in state["files"]] + replaced
        for p in removed + replaced:
            del state["files"][p]
        if removed or replaced:
            # commit the drops even if there is nothing new to validate
            self._save_state(state)

        batches_written = []
        for i in range(0, len(new), FILE_GROUP_SIZE):
            group = new[i : i + FILE_GROUP_SIZE]
            batch = int(state["next_batch"])
            per_file, schema = self._validate_group(spark, group, batch)
            # batch dirs read back all-nullable, as the reader would infer
            state.setdefault("schema", StructType(
                [StructField(f.name, f.dataType) for f in schema]
            ).toDDL())
            for p in group:
                per_file[p].update(current[p])  # size + mtime fingerprint
                per_file[p]["batch"] = batch
                state["files"][p] = per_file[p]
            state["batches"][str(batch)] = {
                "files": len(group),
                "rows": sum(m["rows"] for m in per_file.values()),
                "violations": sum(m["violations"] for m in per_file.values()),
                "error_rows": sum(m["error_rows"] for m in per_file.values()),
            }
            state["next_batch"] = batch + 1
            self._save_state(state)
            batches_written.append(batch)

        live = self.summary(state)
        return {
            "new_files": len(new),
            "removed_files": len(removed),
            "replaced_files": len(replaced),
            "batches_written": batches_written,
            "live": live,
        }

    def _validate_group(
        self, spark: SparkSession, paths: List[str], batch: int
    ) -> Tuple[Dict[str, Dict[str, Any]], StructType]:
        """Validate one group of files into its batch dir in ONE Spark
        job, the write (after the group's schema read); returns per-file
        {rows, violations, error_rows}, observed on that write, and the
        schema of the violation rows written: ``error_rows`` counts the
        rows failing an ERROR-severity rule, the unit of the report's
        ``failed_turns``."""
        frame, observed = self._group_frame(spark, paths, batch)
        # overwrite heals a previous killed run's uncommitted batch dir
        frame.write.mode("overwrite").parquet(self._batch_dir(batch))
        stride = len(paths) + 1
        out = {p: {"rows": 0, "violations": 0, "error_rows": 0} for p in paths}
        for b in observed.get["counts"] or ():
            flags, pos = divmod(int(b["x"]), stride)
            if b["x"] != int(b["x"]) or pos == 0:
                raise RuntimeError(f"observed per-file counts not exact: {b}")
            failed, has_error = divmod(flags, 2)
            n, c = int(b["y"]), out[paths[pos - 1]]
            c["rows"] += n
            c["violations"] += failed * n
            c["error_rows"] += has_error * n
        return out, frame.schema

    def _group_frame(
        self, spark: SparkSession, paths: List[str], batch: int
    ) -> Tuple[DataFrame, Observation]:
        """The violation rows of one file group and the ``Observation``
        their write fills with each file's counts. Rules are compiled
        against the data schema WITHOUT the src_file column so
        dataset-level rules (non_empty over all string columns, ...) see
        exactly the schema a full run sees. The observed node sits below
        the unpivot with no exchange in the plan, so each partition's
        metrics merge once, in the write's single stage."""
        engine = self.checker.engine
        base = spark.read.parquet(*[key_to_path(p) for p in paths])
        rules = engine.compile(base)
        src = uri_key_col(F.col("_metadata.file_path"))
        annotated = engine.annotate(
            base.withColumn("src_file", src), with_observed=True, rules=rules
        )
        # One histogram keyed by (failed rules, has error, file
        # position): histogram_numeric keeps one exact bin per key while
        # keys do not outnumber bins (checked in _validate_group), at
        # O(log bins) a row; a count_if per file costs O(files) a row
        # (twice the write's CPU on a 64-file group).
        stride = len(paths) + 1
        pos = F.array_position(F.array(*map(F.lit, paths)), F.col("src_file"))
        failed = sum(
            F.when(~F.col(RULE_PREFIX + r.rule_id), 1).otherwise(0) for r in rules
        )
        key = (failed * 2 + F.when(F.col(HAS_ERROR), 1).otherwise(0)) * stride
        bins = F.lit(stride * 2 * (len(rules) + 1))
        observed = Observation()
        counted = annotated.observe(
            observed,
            F.histogram_numeric((key + pos).cast("double"), bins).alias("counts"),
        )
        # order-insensitive store: ordered=False avoids the global
        # sort's range-sampling job re-running the fused rule pass
        frame = engine.violations(
            counted,
            self.key_cols + ["src_file"],
            rules=rules,
            ordered=False,
        ).withColumn("batch", F.lit(batch))
        return frame, observed

    # --- live view ------------------------------------------------------

    def live_violations(self, spark: SparkSession) -> DataFrame:
        """All committed violation rows of the CURRENT file set.

        The batch dirs are read with the manifest's recorded schema
        (a manifest without one infers it, one more job). While every
        committed batch still holds all the files it was written with
        (append-only history, or a compacted store) that read is the
        view. Otherwise a broadcast semi-join on (src_file, batch)
        drops the rows of removed and replaced files without any
        rewrite. The driver-built frames here come from Arrow, so they
        plan as a ``LocalRelation``; a list would plan a Python-RDD
        scan, which starts its own Python worker pool next to the
        Arrow-UDF one."""
        state = self.load_state()
        dirs = [
            self._batch_dir(int(b))
            for b in sorted(state["batches"], key=int)
            if Path(self._batch_dir(int(b))).exists()
        ]
        cols = self.key_cols + [
            "rule_id", "rule_name", "severity", "observed", "src_file", "batch",
        ]
        if not dirs:
            # nothing committed yet: empty frame with batch typed like
            # the real output; key-col types are unknowable here, so
            # they default to string (consistent once batches exist)
            return spark.createDataFrame(pa.table({
                c: pa.array([], pa.int32() if c == "batch" else pa.string())
                for c in cols
            }))
        reader = spark.read
        if "schema" in state:
            reader = reader.schema(state["schema"])
        out = reader.parquet(*dirs)
        files = state["files"]
        live_per_batch = Counter(str(m["batch"]) for m in files.values())
        if all(
            m["files"] == live_per_batch[b] for b, m in state["batches"].items()
        ):
            return out.select(*cols)
        live = spark.createDataFrame(
            pa.table({
                "src_file": pa.array(list(files) or [""], pa.string()),
                "batch": pa.array(
                    [int(m["batch"]) for m in files.values()] or [-1],
                    pa.int32(),
                ),
            })
        )
        return out.join(
            F.broadcast(live), on=["src_file", "batch"], how="left_semi"
        ).select(*cols)

    def summary(self, state: Optional[Dict[str, Any]] = None) -> Dict[str, Any]:
        state = state or self.load_state()
        files = state["files"].values()
        return {
            "files": len(state["files"]),
            "rows": sum(m["rows"] for m in files),
            "violations": sum(m["violations"] for m in files),
            "error_rows": sum(
                m.get("error_rows", m["violations"]) for m in files
            ),
            "batches": len(state["batches"]),
        }

    def batch_trend(self, z_threshold: float = 3.0) -> List[Dict[str, Any]]:
        """Quality trend across committed batches, from manifest
        metrics alone (no Spark job): per-batch ERROR-ROW rate (the
        same unit the report path's pass-rate gate counts in —
        distinct rows failing an error-severity rule; warning rows
        don't gate) plus a z-score against all PRIOR batches. Flags
        only DEGRADATION (z > threshold) — an unusually clean append
        is good news, not a gate failure. Mirrors the z-score
        convention of :mod:`datacheck_spark.anomaly` (population std,
        needs ≥ 2 prior batches); z is None while history is too short
        and when the prior rates have zero spread (then any worse rate
        flags outright). All values are JSON-safe (no infinities)."""
        state = self.load_state()
        out: List[Dict[str, Any]] = []
        prior_rates: List[float] = []
        for b in sorted(state["batches"], key=int):
            m = state["batches"][b]
            # old manifests predate error_rows; fall back to violations
            errs = m.get("error_rows", m["violations"])
            rate = (errs / m["rows"]) if m["rows"] else 0.0
            z = None
            flagged = False
            if len(prior_rates) >= 2:
                mean = sum(prior_rates) / len(prior_rates)
                var = sum((r - mean) ** 2 for r in prior_rates) / len(prior_rates)
                std = var**0.5
                if std > 0:
                    z = (rate - mean) / std
                    flagged = z > z_threshold
                else:
                    flagged = rate > mean
            out.append(
                {
                    "batch": int(b),
                    "rows": m["rows"],
                    "violations": m["violations"],
                    "error_rows": errs,
                    "error_row_rate": rate,
                    "z": z,
                    "flagged": flagged,
                }
            )
            prior_rates.append(rate)
        return out

    def compact(self, spark: SparkSession) -> Dict[str, Any]:
        """Fold all live violation rows into a single fresh batch and
        drop superseded batch dirs — the small-files cleanup for long
        append histories. The live view is preserved exactly."""
        import shutil

        state = self.load_state()
        if not state["batches"]:
            return self.summary(state)
        target = int(state["next_batch"])
        written = Observation()
        live = (
            self.live_violations(spark)
            .withColumn("batch", F.lit(target))
            .observe(written, F.count(F.lit(1)).alias("n"))
        )
        live.write.mode("overwrite").parquet(self._batch_dir(target))
        n = written.get["n"]

        old = [int(b) for b in state["batches"]]
        for p in state["files"].values():
            p["batch"] = target
        state["batches"] = {
            str(target): {
                "files": len(state["files"]),
                "rows": sum(m["rows"] for m in state["files"].values()),
                "violations": int(n),
                "error_rows": sum(
                    m.get("error_rows", m["violations"])
                    for m in state["files"].values()
                ),
            }
        }
        state["next_batch"] = target + 1
        self._save_state(state)
        for b in old:
            shutil.rmtree(self._batch_dir(b), ignore_errors=True)
        return self.summary(state)
