"""The benchmark's workloads. A run is one scheduled job on a fresh
session, the way a daily validation or dedup job runs: set-up builds
the inputs, then the job's operations run in a closed loop with one
client, each starting only after the previous one has finished.

The end-to-end metrics come from the job: the first cycle and the
operations run once per run. It runs on a cold JVM and fresh Python
workers, as a scheduled job does; most of its time is first-run class
loading, JIT compilation and code generation. Cycles after the first,
when the ``--seconds`` window leaves room for them, run warm and are
printed as ``*_warm_*`` metrics.

Each workload checks every operation's output against an oracle that
does not use the layer under test; an operation that raises or
mismatches counts as failed. Oracle work that needs Spark runs after
the measured cycles, so it neither warms nor slows them.

- ``transcripts``: a transcripts table with planted violations and hot
  conversations under an ``IncrementalValidator``. Once per run the
  backfill validates the base table; each cycle runs the whole-table
  verdict (``TranscriptChecker.run`` + ``structure_summary``: the fused
  rule pass and the structure shuffle) and lands ``APPENDS_PER_CYCLE``
  appends of about 1% of the table (incremental run + live-view count:
  per-job and metadata costs). A compaction ends the run.
- ``corpus_dedup``: a JSONL training corpus with planted near and exact
  copies. Each cycle runs MinHash-LSH near-duplicate pairs and keep-best
  dedup, then the generic ``ValidationEngine.check``. No transcript
  rule runs here.
"""

from __future__ import annotations

import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path
from typing import Callable, Dict, List, Optional

import harness
import inputs

#: sizes: every operation here is dominated by per-job overhead and
#: first-run costs, so larger inputs would lengthen each run more than
#: they would change what the job measures
TRANSCRIPT_CONVS = 5_000
APPEND_CONVS = TRANSCRIPT_CONVS // 100
APPENDS_PER_CYCLE = 3
#: appends available to one run: a few cycles; later cycles run the
#: verdict only
APPEND_POOL = 4 * APPENDS_PER_CYCLE
CORPUS_DOCS = 2_000
LSH_THRESHOLD = 0.8


class Run:
    """Shared state of one workload run: the session, the tracer, the
    measuring window, the timed samples and the failure accounting."""

    def __init__(
        self, spark, work: Path, tracer, seed: int, seconds: float, traced: bool
    ):
        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.attempted = 0
        self.failed = 0
        self.setup_end = 0.0
        self.setup_end_cpu = 0.0
        self.setup_s = 0.0  # filled in by the caller, which owns the session
        self.peak_rss_mb = 0.0
        self.cycle = 0
        self.samples: Dict[str, List[tuple]] = {}  # op -> [(cycle, seconds)]
        self.cpu: Dict[str, List[tuple]] = {}  # op -> [(cycle, CPU seconds)]
        self.named: Dict[str, tuple] = {}  # metric -> (value, unit)
        self.extra_layer: Dict[str, float] = {}
        self.overhead_sids = range(0)  # spans of the overhead cycle

    def mark_setup_done(self) -> None:
        """Set-up ends here; in traced runs, tracing starts here."""
        self.setup_end = time.perf_counter()
        self.setup_end_cpu = harness.tree_cpu_s()
        self.tracer.active = self.traced
        self.log("set-up done")

    def mark_measure_done(self) -> None:
        """Oracle work after this point is not traced."""
        self.tracer.active = False
        self.log(f"measured {self.attempted} operations")

    def log(self, msg: str) -> None:
        print(f"[{time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)

    def op(self, name: str, fn: Callable, check: Optional[Callable] = None):
        """Run one operation and record its time under ``name``; returns
        ``(result, seconds)``, or ``(None, None)`` when it raised or
        ``check(result)`` reported an oracle mismatch."""
        self.attempted += 1
        c0 = harness.tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"bench.{name}"):
                res = fn()
        except Exception:  # noqa: BLE001 — a failed operation is a result
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None, None
        dt = time.perf_counter() - t0
        cpu = harness.tree_cpu_s() - c0
        self.samples.setdefault(name, []).append((self.cycle, dt))
        self.cpu.setdefault(name, []).append((self.cycle, cpu))
        self.log(f"{name}: {dt:.2f} s, {cpu:.2f} CPU s")
        if check is not None and self.fail(name, check(res)):
            return None, None
        return res, dt

    def fail(self, name: str, problem: Optional[str]) -> bool:
        """Count an oracle mismatch against an operation already
        attempted; returns whether there was one."""
        if problem:
            self.failed += 1
            self.log(f"{name}: oracle mismatch: {problem}")
        return bool(problem)

    def verify(self, name: str, problem: Optional[str]) -> None:
        """An oracle check made once per run counts as one operation."""
        self.attempted += 1
        self.fail(name, problem)

    def cycles(self, body: Callable[[], None], probe: Callable[[], None]) -> None:
        """Closed loop: untraced runs repeat ``body`` until the window is
        spent, at least once. Traced runs run one traced cycle, which
        the per-layer metrics describe, then ``probe`` (one short warm
        operation) twice untraced and twice traced, alternating: the
        mean wall times of the two give the tracing overhead."""
        if self.traced:
            body()
            self.cycle = 1
            walls: Dict[bool, List[float]] = {False: [], True: []}
            first = len(self.tracer.spans)
            for active in (False, True, False, True):
                self.tracer.active = active
                t0 = time.perf_counter()
                probe()
                walls[active].append(time.perf_counter() - t0)
            self.overhead_sids = range(first, len(self.tracer.spans))
            self.tracer.active = True
            on, off = statistics.mean(walls[True]), statistics.mean(walls[False])
            self.extra_layer["trace.probe_s"] = on
            self.extra_layer["trace.overhead_pct"] = 100.0 * (on / off - 1.0)
            return
        deadline = time.perf_counter() + self.seconds
        self.cycle = 0
        while True:
            body()
            if time.perf_counter() >= deadline:
                break
            self.cycle += 1

    def first(self, name: str) -> List[float]:
        """Times of ``name`` in the first (cold) cycle."""
        return [s for c, s in self.samples.get(name, ()) if c == 0]

    def warm(self, name: str) -> List[float]:
        """Times of ``name`` in later cycles."""
        return [s for c, s in self.samples.get(name, ()) if c > 0]

    def times(self, name: str) -> List[float]:
        """Every time of ``name``."""
        return [s for _, s in self.samples.get(name, ())]

    def name_warm(self, metric: str, name: str) -> None:
        """Print the warm median of ``name`` when a later cycle ran."""
        if self.warm(name):
            self.named[metric] = (_median(self.warm(name)), "s")


def _median(xs: List[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def _p90(xs: List[float]) -> float:
    if len(xs) < 2:
        return _median(xs)
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


# --- transcripts -----------------------------------------------------------

RULES = [
    "key_present", "turn_idx_nonneg", "role_valid", "text_non_empty",
    "text_length_bounds", "pii_detection", "garbled_text", "repetitive_text",
]


def _land(src_dir: Path, dst_dir: Path) -> int:
    """Copy an append's parquet files into the table, as the upstream
    job that writes the append would; returns the number of files."""
    dst_dir.mkdir(parents=True, exist_ok=True)
    files = sorted(src_dir.glob("*.parquet"))
    for f in files:
        shutil.copyfile(f, dst_dir / f.name)
    return len(files)


def transcripts_workload(run: Run) -> None:
    from datacheck_spark import transcripts
    from datacheck_spark.incremental import IncrementalValidator

    spark = run.spark
    base, pool, exp = inputs.transcripts(
        run.work / "inputs", run.seed, TRANSCRIPT_CONVS, APPEND_CONVS,
        APPEND_POOL,
    )
    table = base.parent
    pool_rows = exp["append_rows"]
    n_base = len(list(base.glob("*.parquet")))
    run.mark_setup_done()

    checker = transcripts.TranscriptChecker()
    validator = IncrementalValidator(str(run.work / "state"))

    def verdict():
        df = spark.read.parquet(str(base))
        report = checker.run(df, detect_anomalies=True)
        structure = transcripts.structure_summary(df).first()
        return report, structure

    def append_op():
        return (
            validator.run(spark, str(table)),
            validator.live_violations(spark).count(),
        )

    backfill, _ = run.op(
        "backfill",
        lambda: validator.run(spark, str(table)),
        lambda r: None
        if r["new_files"] == n_base
        else f"new files {r['new_files']} != {n_base}",
    )
    state = {
        "rows": backfill["live"]["rows"] if backfill else 0,  # expected live rows
        "live": 0,  # live violation rows after the last append
        "next": 0,  # next append in the pool
    }
    verdicts = []  # checked after the measured cycles

    def append() -> None:
        k = state["next"]
        if k >= len(pool):
            return
        state["next"] = k + 1
        n_files = _land(pool[k], table / f"append_{k:03d}")
        state["rows"] += pool_rows[k]

        def check(res) -> Optional[str]:
            r, live = res
            if r["new_files"] != n_files:
                return f"new files {r['new_files']} != {n_files}"
            if r["live"]["rows"] != state["rows"]:
                return f"live rows {r['live']['rows']} != {state['rows']}"
            if live != r["live"]["violations"]:
                return f"live view {live} != manifest {r['live']['violations']}"
            if live < state["live"]:
                return f"live violations shrank {state['live']} -> {live}"
            state["live"] = live
            return None

        run.op("append", append_op, check)

    def cycle() -> None:
        res, _ = run.op("verdict", verdict)
        if res is not None:
            verdicts.append(res)
        for _ in range(APPENDS_PER_CYCLE):
            append()

    run.cycles(cycle, append)
    run.extra_layer["incremental.batch_dirs"] = len(
        list((run.work / "state" / "violations").glob("batch=*"))
    )
    manifest = run.work / "state" / "incremental.json"
    run.extra_layer["incremental.manifest_kb"] = manifest.stat().st_size / 1024
    run.op(
        "compact",
        lambda: validator.compact(spark),
        lambda s: None
        if s["batches"] == 1
        else f"{s['batches']} batches after compact",
    )
    run.mark_measure_done()

    violation_rows = sum(exp.get(r, 0) for r in RULES)

    def check_verdict(res) -> Optional[str]:
        report, structure = res
        got = {r: report.rule_results[r]["failed"] for r in RULES}
        want = {r: exp.get(r, 0) for r in RULES}
        if got != want:
            return f"rule failures {got} != {want}"
        for what, value, key in (
            ("turns", report.total_turns, "__total"),
            ("duplicate keys", report.duplicate_keys, "__duplicate_keys"),
            ("orphan tools", report.orphan_tools, "__orphan_tools"),
            ("conversations", structure["conversations"], "__conversations"),
        ):
            if value != exp.get(key, 0):
                return f"{what} {value} != {exp.get(key, 0)}"
        return None

    for res in verdicts:
        run.fail("verdict", check_verdict(res))
    if backfill is not None:
        # the backfill's violation rows: one per failed (turn, rule)
        got = backfill["live"]["violations"]
        run.fail(
            "backfill",
            None
            if got == violation_rows
            else f"violation rows {got} != {violation_rows}",
        )
    # the compacted live view equals a from-scratch run's violation rows
    # over the same files
    compacted = validator.live_violations(spark).count()
    files = [str(f) for f in sorted(table.rglob("*.parquet"))]
    fresh = checker.violations(spark.read.parquet(*files), ordered=False).count()
    before = state["live"] if run.times("append") else compacted
    run.verify(
        "live view",
        None
        if compacted == fresh == before
        else f"live {compacted} / before compact {before} "
        f"/ from scratch {fresh}",
    )

    verdict_s = _median(run.first("verdict"))
    turns_per_s = exp["__total"] / verdict_s
    job_s = sum(run.first("verdict") + run.first("append")) + sum(
        run.times("backfill") + run.times("compact")
    )
    job_cpu_s = sum(
        c for name in ("verdict", "append", "backfill", "compact")
        for cycle, c in run.cpu.get(name, ())
        if cycle == 0 or name in ("backfill", "compact")
    )
    run.named.update(
        verdict_s=(verdict_s, "s"),
        turns_per_s=(turns_per_s, "1/s"),
        backfill_s=(_median(run.first("backfill")), "s"),
        append_p50_s=(_median(run.first("append")), "s"),
        append_p90_s=(_p90(run.times("append")), "s"),
        compact_s=(_median(run.times("compact")), "s"),
    )
    run.name_warm("verdict_warm_s", "verdict")
    run.name_warm("append_warm_p50_s", "append")
    run.named["job_s"] = (job_s, "s")
    run.named["job_cpu_s"] = (job_cpu_s, "s")


# --- corpus_dedup ----------------------------------------------------------


def corpus_dedup(run: Run) -> None:
    from datacheck_spark import dedup, sources
    from datacheck_spark.engine import ValidationEngine

    spark = run.spark
    path, meta = inputs.corpus(run.work / "inputs", run.seed, CORPUS_DOCS)
    run.mark_setup_done()
    plants = meta["plants"]
    n_docs = meta["n_docs"]
    # every planted pair at or above the threshold must be recovered;
    # each plant has a distinct source, so each such pair removes one doc
    expected_pairs = {
        (min(a, b), max(a, b)) for a, b, _kind, j in plants if j >= LSH_THRESHOLD
    }
    expected_kept = n_docs - len(expected_pairs)
    expected_groups = sorted(
        sorted([a, b]) for a, b, kind, _j in plants if kind == "exact"
    )

    def load():
        df, _ = sources.load_data(spark, str(path))
        return df

    def dedup_pass():
        df = load()
        pairs = dedup.near_duplicate_pairs_lsh(
            df, ["text"], "doc_id", threshold=LSH_THRESHOLD
        )
        return dedup.near_dedup_keep_best(df, pairs, "doc_id", "quality").count()

    def check_pass():
        return ValidationEngine().check(
            load(), id_col="doc_id", find_near_duplicates=False
        )

    def check_kept(kept) -> Optional[str]:
        return None if kept == expected_kept else f"kept {kept} != {expected_kept}"

    def check_result(res) -> Optional[str]:
        if res.total_samples != n_docs:
            return f"samples {res.total_samples} != {n_docs}"
        got = sorted(sorted(g) for g in res.duplicates)
        if got != expected_groups:
            return f"{len(got)} duplicate groups != {len(expected_groups)} planted"
        return None

    def cycle() -> None:
        run.op("dedup", dedup_pass, check_kept)
        run.op("check", check_pass, check_result)

    def probe() -> None:
        run.op(
            "lsh",
            lambda: dedup.near_duplicate_pairs_lsh(
                load(), ["text"], "doc_id", threshold=LSH_THRESHOLD
            ).count(),
        )

    run.cycles(cycle, probe)
    run.mark_measure_done()

    # oracle on the pairs themselves, once per run
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.near_duplicate_pairs_lsh(
            load(), ["text"], "doc_id", threshold=LSH_THRESHOLD
        ).collect()
    }
    missing = expected_pairs - pairs
    run.verify(
        "lsh_pairs",
        f"{len(missing)} planted pairs not recovered" if missing else None,
    )
    if run.traced:
        # every LSH candidate passes a zero threshold: the verified
        # candidate count, and the share of it that became pairs
        candidates = dedup.near_duplicate_pairs_lsh(
            load(), ["text"], "doc_id", threshold=0.0
        ).count()
        run.extra_layer.update({
            "dedup.lsh_candidates": candidates,
            "dedup.lsh_pairs": len(pairs),
            "dedup.lsh_useful_ratio": len(pairs) / candidates if candidates else 0.0,
        })
    dedup_s = _median(run.first("dedup"))
    check_s = _median(run.first("check"))
    run.named.update(
        dedup_s=(dedup_s, "s"),
        docs_per_s=(n_docs / dedup_s, "1/s"),
        check_s=(check_s, "s"),
    )
    run.name_warm("dedup_warm_s", "dedup")
    run.name_warm("check_warm_s", "check")
    run.named["job_s"] = (dedup_s + check_s, "s")
    run.named["job_cpu_s"] = (
        sum(c for cycle, c in run.cpu.get("dedup", []) + run.cpu.get("check", [])
            if cycle == 0),
        "s",
    )


WORKLOADS = {
    "transcripts": transcripts_workload,
    "corpus_dedup": corpus_dedup,
}
