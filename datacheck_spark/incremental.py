"""Incremental validation over append-only tables.

At 10^12 turns a daily append is a tiny fraction of the table;
re-validating everything per batch is the difference between a
minutes-long job and an unaffordable one. This module validates ONLY
data files added since the last run and merges metrics, following the
Iceberg data model exactly: data files are immutable — a commit ADDS
and REMOVES whole files, never edits one in place (an Iceberg
"incremental append scan" between two snapshot ids enumerates exactly
the added files). Here the recursive parquet file listing IS the
snapshot, fingerprinted by (path, size); on Iceberg the same manifest
would key by the data-file paths in the snapshot's manifest list — the
swap is confined to :func:`list_data_files`.

Mechanics (all metadata is manifest-scale, never data-scale):

- New files are validated in file groups; each group's violation rows
  land in their own ``violations/batch=N`` directory written with
  overwrite semantics, so a job killed after the write but before the
  manifest commit is healed by the re-run overwriting the same batch
  dir (the manifest's ``next_batch`` only advances on commit, and
  readers only read committed batches).
- Each violation row carries ``(src_file, batch)``; the live view
  broadcast-semi-joins committed batch output against the manifest's
  current file set, so a removed (or replaced) file's historical rows
  vanish from the view without rewriting any parquet.
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
import re
import tempfile
from pathlib import Path
from typing import Any, Dict, List, Optional

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

INCR_MANIFEST = "incremental.json"

# Upper bound on files validated (and collected) per committed batch —
# keeps every driver-side structure in _validate_group at metadata
# scale no matter how file_group_size is configured.
MAX_FILES_PER_GROUP = 4096

_FILE_URI = re.compile(r"^file:/+")


def _norm_path(p: str) -> str:
    """Normalize a local path / file: URI to one canonical absolute
    form shared by the manifest and ``_metadata.file_path``: the
    scheme-stripped URI path. Spark reports file paths PERCENT-ENCODED
    (``file:/a/space%20dir/...``) and ``Path.as_uri()`` encodes the
    same way, so keys match for spaces/non-ASCII too; use
    :func:`key_to_path` to get the real filesystem path back."""
    uri = p if p.startswith("file:") else Path(p).resolve().as_uri()
    return "/" + _FILE_URI.sub("", uri).lstrip("/")


def key_to_path(key: str) -> str:
    """Manifest key (percent-encoded URI path) → filesystem path."""
    from urllib.parse import unquote

    return unquote(key)


def _parquet_num_rows(path: str) -> int:
    """Exact row count from the parquet footer — metadata-scale, no
    data read (same discipline as :func:`list_data_files`)."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def list_data_files(table_path: str) -> Dict[str, Dict[str, int]]:
    """Current snapshot: {normalized data-file path: {size, mtime}}.
    Driver-side recursive listing (metadata-scale). The fingerprint is
    (size, mtime_ns) so an in-place rewrite that happens to keep the
    byte size is still detected as a replacement. On Iceberg this is
    the ONLY function to swap — enumerate the snapshot's data files
    instead (there the snapshot id itself is the fingerprint)."""
    root = Path(table_path)
    out: Dict[str, Dict[str, int]] = {}
    for p in sorted(root.rglob("*.parquet")):
        if p.name.startswith(("_", ".")):
            continue
        st = p.stat()
        out[_norm_path(str(p))] = {"size": st.st_size, "mtime": st.st_mtime_ns}
    return out


class IncrementalValidator:
    """Validate only files appended since the last manifest.

    ``checker`` needs ``engine`` + key columns like
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
        key_cols: Optional[List[str]] = None,
        file_group_size: int = 64,
    ):
        if checker is None:
            from datacheck_spark.transcripts import TranscriptChecker

            checker = TranscriptChecker()
        self.base_path = str(base_path)
        self.rule_version = rule_version
        self.checker = checker
        self.key_cols = list(key_cols or ["conv_id", "turn_idx"])
        # The only driver-side collect proportional to input (per-file
        # stats + footer row counts in _validate_group) is bounded by
        # the group size, so a full run over a 10^6-file table streams
        # through ceil(10^6 / group) bounded batches instead of one
        # 10^6-entry collect. Clamp so a caller config can't undo that.
        self.file_group_size = max(
            1, min(int(file_group_size), MAX_FILES_PER_GROUP)
        )

    # --- manifest -----------------------------------------------------

    def _manifest_path(self) -> Path:
        return Path(self.base_path) / INCR_MANIFEST

    def load_state(self) -> Dict[str, Any]:
        p = self._manifest_path()
        if p.exists():
            data = json.loads(p.read_text(encoding="utf-8"))
            if data.get("rule_version") == self.rule_version:
                return data
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
        current = list_data_files(table_path)

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
        for i in range(0, len(new), self.file_group_size):
            group = new[i : i + self.file_group_size]
            batch = int(state["next_batch"])
            per_file = self._validate_group(spark, group, batch)
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
    ) -> Dict[str, Dict[str, Any]]:
        """Validate one group of files into its batch dir; returns
        per-file {rows, violations, error_rows}. Rules are compiled
        against the data schema WITHOUT the src_file column so
        dataset-level rules (non_empty over all string columns, ...)
        see exactly the schema a full run sees.

        Exactly ONE data scan per group (the violations write): row
        counts come from the parquet footers driver-side, and the
        violation/error-row metrics aggregate the just-written batch
        output (violation-scale, not data-scale)."""
        base = spark.read.parquet(*[key_to_path(p) for p in paths])
        rules = self.checker.engine.compile(base)
        df = base.withColumn(
            "src_file",
            F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/"),
        )
        # order-insensitive store: ordered=False avoids the global
        # sort's range-sampling job re-running the fused rule pass
        v = self.checker.engine.violations(
            df,
            key_cols=self.key_cols + ["src_file"],
            rules=rules,
            ordered=False,
        ).withColumn("batch", F.lit(batch))
        # overwrite heals a previous killed run's uncommitted batch dir
        v.write.mode("overwrite").parquet(self._batch_dir(batch))

        # driver state here is bounded by the group size (clamped to
        # MAX_FILES_PER_GROUP): len(paths) footer reads and a
        # <=len(paths)-row collect below — never table-proportional
        rows = {p: _parquet_num_rows(key_to_path(p)) for p in paths}
        # error_rows = distinct failing rows at ERROR severity — the
        # unit the report path's pass_rate gate counts in
        stats = {
            r["src_file"]: r
            for r in spark.read.parquet(self._batch_dir(batch))
            .groupBy("src_file")
            .agg(
                F.count("*").alias("n"),
                F.countDistinct(
                    F.when(
                        F.col("severity") == "error",
                        F.struct(*self.key_cols),
                    )
                ).alias("err_rows"),
            )
            .collect()
        }
        return {
            p: {
                "rows": int(rows.get(p, 0)),
                "violations": int(stats[p]["n"]) if p in stats else 0,
                "error_rows": int(stats[p]["err_rows"]) if p in stats else 0,
            }
            for p in paths
        }

    # --- live view ------------------------------------------------------

    def live_violations(self, spark: SparkSession) -> DataFrame:
        """All committed violation rows filtered to the CURRENT file
        set: a broadcast semi-join on (src_file, batch) — replaced or
        removed files' historical rows drop out without any rewrite.
        The driver-built frames here come from Arrow, so they plan as a
        ``LocalRelation``; a list would plan a Python-RDD scan, which
        starts its own Python worker pool next to the Arrow-UDF one."""
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
        out = spark.read.parquet(*dirs)
        files = state["files"]
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
        live = self.live_violations(spark).withColumn("batch", F.lit(target))
        live.write.mode("overwrite").parquet(self._batch_dir(target))
        n = spark.read.parquet(self._batch_dir(target)).count()

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
