"""Spans around calls into datacheck_spark's layers, recorded from the
benchmark's side, and per-layer Spark metrics folded from the session's
event log.

A span is opened around every call to a wrapped public function
(``Tracer.install``); nested calls nest, including the ones
``TranscriptChecker.run`` and ``IncrementalValidator.run`` make
internally, because the wrappers replace the module and class
attributes those calls look up. The innermost span's id is set as the
Spark local property ``perfbench.span``, so every Spark job carries the
span that caused it; the event log then gives each job's stages and
tasks. Jobs are attributed to their innermost span only, matching the
self-time convention: a span's self time is its duration minus the
part of it that its child spans cover.

Functions that only build a plan (``duplicate_key_rows``,
``near_duplicate_pairs_lsh``, ``live_violations``, ...) do their work
when the caller next runs an action on what they returned; for those
the span also covers the next action (collect, count, localCheckpoint,
parquet write, ...) taken while the span that received the plan is
still open, whether the receiver acts itself or hands the plan to
another layer function that does.

Spans are kept in memory and folded when the run ends.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from dataclasses import dataclass
from pathlib import Path
from typing import Dict, List, Optional

LAYERS = (
    "sources", "rules", "engine", "transcripts",
    "dedup", "anomaly", "stats", "incremental",
)
SPAN_PROPERTY = "perfbench.span"

#: (module, attribute, span name, builds a plan only)
_FUNCTIONS = [
    ("datacheck_spark.sources", "load_data", "sources.load", False),
    ("datacheck_spark.transcripts", "structure_summary",
     "transcripts.structure", True),
    ("datacheck_spark.dedup", "duplicate_key_rows",
     "dedup.key_uniqueness", True),
    ("datacheck_spark.dedup", "duplicate_groups", "dedup.groups", False),
    ("datacheck_spark.dedup", "near_duplicate_pairs_lsh", "dedup.lsh", True),
    ("datacheck_spark.dedup", "connected_components", "dedup.cc", False),
    ("datacheck_spark.dedup", "near_dedup_keep_best", "dedup.keep_best", True),
    ("datacheck_spark.anomaly", "detect_anomalies", "anomaly.detect", False),
    ("datacheck_spark.stats", "compute_distribution",
     "stats.distribution", False),
    ("datacheck_spark.incremental", "list_data_files",
     "incremental.list", False),
]
#: (module, class, method, span name, builds a plan only)
_METHODS = [
    ("datacheck_spark.rules.compiler", "RuleSet", "compile",
     "rules.compile", False),
    ("datacheck_spark.engine", "ValidationEngine", "summarize",
     "engine.summarize", False),
    ("datacheck_spark.engine", "ValidationEngine", "violations",
     "engine.violations_write", True),
    ("datacheck_spark.engine", "ValidationEngine", "check",
     "engine.check", False),
    ("datacheck_spark.transcripts", "TranscriptChecker", "run",
     "transcripts.run", False),
    ("datacheck_spark.incremental", "IncrementalValidator", "run",
     "incremental.run", False),
    ("datacheck_spark.incremental", "IncrementalValidator", "_validate_group",
     "incremental.group", False),
    ("datacheck_spark.incremental", "IncrementalValidator", "load_state",
     "incremental.manifest", False),
    ("datacheck_spark.incremental", "IncrementalValidator", "_save_state",
     "incremental.manifest", False),
    ("datacheck_spark.incremental", "IncrementalValidator", "live_violations",
     "incremental.live_view", True),
    ("datacheck_spark.incremental", "IncrementalValidator", "compact",
     "incremental.compact", False),
]
#: Spark actions that run the plan a lazy layer function returned
_ACTIONS = [
    ("pyspark.sql.classic.dataframe", "DataFrame", "collect"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "count"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "toPandas"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "localCheckpoint"),
    ("pyspark.sql.readwriter", "DataFrameWriter", "parquet"),
    ("pyspark.sql.readwriter", "DataFrameWriter", "save"),
    ("pyspark.sql.readwriter", "DataFrameWriter", "json"),
]


@dataclass
class Span:
    sid: int
    name: str
    parent: Optional[int]
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans while ``active``; inactive, the wrappers only
    forward the call, so traced and untraced operations can alternate
    in one session."""

    def __init__(self, sc):
        self._sc = sc
        self.active = False
        self.spans: List[Span] = []
        self.rounds: Dict[int, int] = defaultdict(int)  # cc span id -> rounds
        self._stack: List[Span] = []
        self._pending: Optional[tuple] = None  # (span name, parent sid)
        self._patches: List[tuple] = []

    # -- spans ---------------------------------------------------------

    def _top(self) -> Optional[int]:
        return self._stack[-1].sid if self._stack else None

    def _top_name(self) -> Optional[str]:
        return self._stack[-1].name if self._stack else None

    def _set_property(self) -> None:
        top = self._top()
        self._sc.setLocalProperty(
            SPAN_PROPERTY, None if top is None else str(top)
        )

    def span(self, name: str):
        return _SpanCtx(self, name)

    def _open(self, name: str) -> Span:
        sp = Span(len(self.spans), name, self._top(), time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_property()
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self._stack.pop()
        if self._pending is not None and self._pending[1] == sp.sid:
            self._pending = None  # the frame's receiver ended without acting
        self._set_property()

    # -- wrappers --------------------------------------------------------

    def _wrap_layer(self, fn, name: str, lazy: bool):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if lazy:
                tracer._pending = (name, tracer._top())
            return out

        return wrapper

    def _wrap_action(self, fn, action: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            if action == "count" and tracer._top_name() == "dedup.cc":
                tracer.rounds[tracer._top()] += 1
            pending = tracer._pending
            if pending is None:
                return fn(*args, **kwargs)
            tracer._pending = None
            with tracer.span(pending[0]):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        import importlib

        for mod, attr, name, lazy in _FUNCTIONS:
            m = importlib.import_module(mod)
            self._patch(m, attr, self._wrap_layer(getattr(m, attr), name, lazy))
        for mod, cls, attr, name, lazy in _METHODS:
            c = getattr(importlib.import_module(mod), cls)
            self._patch(c, attr, self._wrap_layer(c.__dict__[attr], name, lazy))
        for mod, cls, attr in _ACTIONS:
            c = getattr(importlib.import_module(mod), cls)
            self._patch(c, attr, self._wrap_action(c.__dict__[attr], attr))

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self._tracer, self._name = tracer, name

    def __enter__(self) -> Optional[Span]:
        if not self._tracer.active:
            self._span = None
            return None
        self._span = self._tracer._open(self._name)
        return self._span

    def __exit__(self, *exc) -> None:
        if self._span is not None:
            self._tracer._close(self._span)


class NullTracer:
    """Untraced runs: spans cost nothing and record nothing."""

    active = False

    def span(self, name: str):
        return _SpanCtx(self, name)


# --- folding ---------------------------------------------------------------


def self_times(spans: List[Span]) -> Dict[int, float]:
    """Span duration minus the time its direct children cover (children
    never overlap: the benchmark is single-threaded)."""
    child = defaultdict(float)
    for sp in spans:
        if sp.parent is not None:
            child[sp.parent] += sp.seconds
    return {sp.sid: sp.seconds - child[sp.sid] for sp in spans}


def write_spans(tracer: Tracer, path: Path) -> None:
    """Every recorded span as one JSON line: id, name, parent id,
    seconds since the first span, duration and self time."""
    spans = tracer.spans
    selfs = self_times(spans)
    t0 = spans[0].start if spans else 0.0
    with open(path, "w", encoding="utf-8") as f:
        for sp in spans:
            f.write(json.dumps({
                "id": sp.sid, "name": sp.name, "parent": sp.parent,
                "start_s": sp.start - t0, "seconds": sp.seconds,
                "self_s": selfs[sp.sid],
            }) + "\n")


def read_event_log(log_dir: Path) -> Dict[str, Dict[str, float]]:
    """Per-span Spark totals keyed by span id (as a string): jobs,
    tasks, failed tasks, executor CPU seconds, shuffle bytes written,
    bytes spilled to disk and output records written."""
    stage_span: Dict[int, str] = {}
    totals: Dict[str, Dict[str, float]] = defaultdict(lambda: defaultdict(float))
    files = sorted(p for p in log_dir.iterdir() if p.is_file())
    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    sid = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                    if sid is None:
                        continue
                    totals[sid]["jobs"] += 1
                    for st in ev.get("Stage IDs", []):
                        stage_span.setdefault(st, sid)
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get(ev.get("Stage ID"))
                    if sid is None:
                        continue
                    t = totals[sid]
                    t["tasks"] += 1
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    if reason != "Success":
                        t["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    t["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    t["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    t["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    t["records_written"] += (
                        m.get("Output Metrics") or {}
                    ).get("Records Written", 0)
    return totals


def layer_metrics(
    spans: List[Span], rounds: Dict[int, int], log_dir: Path
) -> Dict[str, float]:
    """Per-layer and per-function metrics over ``spans`` (a span's
    children included with it); ``rounds`` is ``Tracer.rounds``.
    Metrics of layers the spans never called are absent."""
    selfs = self_times(spans)
    spark = read_event_log(log_dir)
    out: Dict[str, float] = defaultdict(float)
    for sp in spans:
        layer = sp.name.split(".", 1)[0]
        if layer not in LAYERS:
            continue
        out[f"{sp.name}_s"] += sp.seconds
        out[f"{layer}.self_s"] += selfs[sp.sid]
        t = spark.get(str(sp.sid), {})
        out[f"{layer}.jobs"] += t.get("jobs", 0)
        out[f"{layer}.tasks"] += t.get("tasks", 0)
        out[f"{layer}.failed_tasks"] += t.get("failed_tasks", 0)
        out[f"{layer}.executor_cpu_s"] += t.get("executor_cpu_s", 0.0)
        out[f"{layer}.shuffle_write_mb"] += (
            t.get("shuffle_write_bytes", 0) / 2**20
        )
        out[f"{layer}.spill_mb"] += t.get("spill_bytes", 0) / 2**20
        if sp.name == "engine.violations_write":
            out["engine.violation_rows"] += t.get("records_written", 0)
    out["rules.compile_calls"] = sum(sp.name == "rules.compile" for sp in spans)
    # one convergence check (a count) per label-propagation round
    out["dedup.cc_rounds"] = sum(rounds.get(sp.sid, 0) for sp in spans)
    return dict(out)
