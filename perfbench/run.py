"""Benchmark of datacheck_spark on ``local[<cores>]``.

Run from the root of a checkout:

    python3 perfbench/run.py --workload transcripts --seed 1 --seconds 5 --trace 0

``--workload`` is ``transcripts`` or ``corpus_dedup`` (see
``workloads.py``), or ``all`` to run both in one driver process. Inputs
are generated from ``--seed`` (see ``inputs.py``); each workload then
runs its operations in a closed loop for ``--seconds``, at least one
cycle, and checks every output against its oracle. The first cycle runs
cold, as a scheduled job on a fresh session does, and gives the
end-to-end metrics.

Standard output lists each workload's own metrics by name and unit
(``verdict_s``, ``append_p50_s``, ``dedup_s``, ``check_s``, ...), then
ends with one JSON line ``{"correct", "attempted", "failed",
"metrics"}``. For a single workload, ``metrics`` holds the end-to-end
metrics of ``BENCHMARK.json`` with ``--trace 0``:

- ``setup_s``: CPU seconds the driver, the JVM and the Python workers
  spent on set-up: session start and input generation.
- ``job_cpu_s``: CPU seconds the driver, the JVM and the Python workers
  spent on the job's operations: backfill, the first cycle's verdict
  and appends, and the compaction (transcripts); the first cycle's
  dedup pass and check (corpus_dedup). Oracle work is not counted.
- ``peak_rss_mb``: peak anonymous resident memory of the driver, the
  JVM and the Python workers.

The wall times, ``setup_wall_s``, ``job_s`` and the per-operation
times (``verdict_s``, ``append_p50_s``, ``dedup_s``, ``check_s``, ...),
are printed but not returned: on a few shared cores they follow how
busy the host is (ten seeds spread 12-33% between quartiles, and the
medians of two sets of ten moved by a quarter, against 6-7% and under
7% for CPU seconds), too much to gate a change on.

``--trace 1`` turns on Spark's event log and the layer spans of
``tracing.py`` and runs a fixed schedule instead of the time window: a
traced first cycle, which the per-layer metrics of ``BENCHMARK.json``
describe, then a short probe operation run untraced and traced, for the
tracing overhead.
The spans go to ``.perfbench/spans-<workload>-s<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

import harness

WORKLOAD_NAMES = ("transcripts", "corpus_dedup")


def _spec() -> dict:
    with open(harness.ROOT / "BENCHMARK.json", encoding="utf-8") as f:
        return json.load(f)


def _number(x: float) -> float:
    return 0.0 if x is None or math.isnan(x) else float(x)


def _log(msg: str) -> None:
    print(f"[{time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not harness.program_present():
        print(
            f"datacheck_spark not found under {harness.ROOT}: run from a "
            "checkout of the repository",
            file=sys.stderr,
        )
        return 2
    spec = _spec()
    traced = args.trace == 1
    work = harness.STATE_DIR / f"run-{os.getpid()}"
    harness.prepare_env(work)
    import tracing
    import workloads

    names = list(WORKLOAD_NAMES) if args.workload == "all" else [args.workload]
    runs = []
    t_start, c_start = time.perf_counter(), harness.tree_cpu_s()
    try:
        with harness.RssSampler() as rss:
            spark = harness.start_session(
                work, event_log=work / "eventlog" if traced else None
            )
            session_s = time.perf_counter() - t_start
            session_cpu = harness.tree_cpu_s() - c_start
            _log(f"session started in {session_s:.1f} s")
            tracer = (
                tracing.Tracer(spark.sparkContext) if traced
                else tracing.NullTracer()
            )
            if traced:
                tracer.install()
            try:
                for i, name in enumerate(names):
                    rss.reset()
                    run = workloads.Run(
                        spark, work, tracer, args.seed, args.seconds, traced
                    )
                    started = time.perf_counter()
                    started_cpu = harness.tree_cpu_s()
                    workloads.WORKLOADS[name](run)
                    rss.sample()
                    run.setup_s = (session_cpu if i == 0 else 0.0) + (
                        run.setup_end_cpu - started_cpu
                    )
                    run.named["setup_wall_s"] = (
                        (session_s if i == 0 else 0.0) + run.setup_end - started,
                        "s",
                    )
                    run.peak_rss_mb = rss.peak_mb
                    runs.append((name, run))
            finally:
                if traced:
                    tracer.uninstall()
                harness.stop_session(spark)
                _log("session stopped")
        layer = {}
        if traced:
            skip = set().union(*(r.overhead_sids for _, r in runs))
            layer = tracing.layer_metrics(
                [sp for sp in tracer.spans if sp.sid not in skip],
                tracer.rounds,
                work / "eventlog",
            )
            spans = harness.STATE_DIR / f"spans-{args.workload}-s{args.seed}.jsonl"
            tracing.write_spans(tracer, spans)
            _log(f"spans written to {spans}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(r.attempted for _, r in runs)
    failed = sum(r.failed for _, r in runs)
    combined = {}
    for name, run in runs:
        run.named["setup_s"] = (run.setup_s, "s")
        run.named["peak_rss_mb"] = (run.peak_rss_mb, "MiB")
        run.named["failed_frac"] = (
            run.failed / run.attempted if run.attempted else 1.0, "1"
        )
        for metric, (value, unit) in sorted(run.named.items()):
            print(f"{name:13s} {metric:18s} {value:14.4f} {unit}")
            combined[f"{name}.{metric}"] = {"value": _number(value), "unit": unit}

    if len(runs) > 1:
        metrics = combined
    elif traced:
        values = dict(layer, **runs[0][1].extra_layer)
        metrics = {
            m["name"]: {"value": _number(values.get(m["name"], 0.0)),
                        "unit": m["unit"]}
            for m in spec["per_layer"]
        }
    else:
        named = runs[0][1].named
        metrics = {
            m["name"]: {"value": _number(named[m["name"]][0]), "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
