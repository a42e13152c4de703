"""Outside-in tracing for the CDC benchmark.

The benchmark does not change the engine to trace it. In the traced pass it
replaces public functions and methods of the engine with wrappers, from the
benchmark's own process, and records one span per call: id, parent, layer,
name, thread, batch, start and end (epoch seconds). Before each wrapped call
the wrapper sets the Spark job description to ``cdcbench:<span id>:...``
(and the span id in a local property, SPAN_PROPERTY), so the Spark event
log of the pass attributes every job, stage and task to the innermost span
that was open on the submitting thread.

Spans stay in memory; the runner writes them out when the run ends, after
the session has stopped (the event log is complete only then), and
:func:`load_event_log` and layers.py join them with the event log.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

DESC_PREFIX = "cdcbench:"
# Spark replaces the job description of some jobs it starts itself (the
# parallel file listing a read of many files runs, for one), so the span id
# also travels in a local property of its own, which every job of the
# thread carries in the event log
SPAN_PROPERTY = "cdcbench.span"


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    thread: int
    batch: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder plus the monkeypatches that feed it.

    ``batch`` is the main thread's batch counter: a wrapper installed with
    ``new_batch=True`` (the first per-batch call of a loop) advances it, and
    every span the main thread opens carries the current value. Spans of
    other threads (the lookup reader, the monitor scraper) carry ``None``.
    """

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.batch = 0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.recording = True

    @contextmanager
    def paused(self):
        self.recording = False
        try:
            yield
        finally:
            self.recording = True

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, layer: str, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else None
        main = threading.current_thread() is threading.main_thread()
        s = Span(
            id=next(self._ids),
            parent=parent.id if parent else None,
            layer=layer,
            name=name,
            thread=threading.get_ident(),
            batch=self.batch if main else None,
            start=time.time(),
        )
        stack.append(s)
        self.sc.setJobDescription(f"{DESC_PREFIX}{s.id}:{layer}.{name}")
        self.sc.setLocalProperty(SPAN_PROPERTY, str(s.id))
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            self.sc.setJobDescription(
                f"{DESC_PREFIX}{parent.id}:{parent.layer}.{parent.name}"
                if parent else None
            )
            self.sc.setLocalProperty(SPAN_PROPERTY, str(parent.id) if parent else None)
            with self._lock:
                self.spans.append(s)

    def wrap(self, owner, attr: str, layer: str, name: str, new_batch: bool = False,
             after=None):
        """Replace ``owner.attr`` (a module function or a class method) with
        a wrapper that records a span around each call. ``after(span, args,
        result)`` runs once the span has closed, so what it costs is not
        charged to the call."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.recording:
                return orig(*args, **kwargs)
            if new_batch and threading.current_thread() is threading.main_thread():
                tracer.batch += 1
            with tracer.span(layer, name) as s:
                out = orig(*args, **kwargs)
            if after is not None:
                after(s, args, out)
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


def install_engine_wrappers(tracer: Tracer) -> None:
    """Wrap every public engine call the per-layer metrics need.

    The replay loops import the planner, codec and merge functions by name,
    so those are wrapped in each loop module's namespace; the table, table
    set, monitor and curator calls are wrapped on their classes, so calls
    made from inside the engine (the curator's own merges) are traced too.
    """
    from sonic_etl_spark.operators.incremental import IncrementalCurator
    from sonic_etl_spark.sources.multitable import TransactionalTableSet
    from sonic_etl_spark.sources.table import TransactionalParquetTable
    from sonic_etl_spark.streaming.monitor import ReplayMonitor

    # by module path: the package re-exports the function replay() under
    # the name of its module
    for path in ("sonic_etl_spark.streaming.replay", "sonic_etl_spark.streaming.fanout"):
        mod = importlib.import_module(path)
        tracer.wrap(mod, "log_heads", "planner", "log_heads")
        tracer.wrap(mod, "plan_batches", "planner", "plan_batches")
        tracer.wrap(mod, "filter_to_manifests", "planner", "filter_to_manifests",
                    new_batch=True)
        tracer.wrap(mod, "decode_change_events", "codec", "decode_change_events")
        tracer.wrap(mod, "reduce_batch", "merge", "reduce_batch")
    for meth in ("compact", "expire_snapshots", "lookup", "read_changes",
                 "read_for_keys"):
        tracer.wrap(TransactionalParquetTable, meth, "table", meth)
    tracer.wrap(TransactionalParquetTable, "merge", "table", "merge", after=_count_files)
    for meth in ("compact", "expire_snapshots", "lookup"):
        tracer.wrap(TransactionalTableSet, meth, "tableset", meth)
    tracer.wrap(TransactionalTableSet, "merge_all", "tableset", "merge_all",
                after=_count_files)
    tracer.wrap(ReplayMonitor, "record_batch", "monitor", "record_batch")
    tracer.wrap(IncrementalCurator, "apply", "curate", "apply")
    tracer.wrap(IncrementalCurator, "sync", "curate", "sync")


def _count_files(s: Span, args, result: dict) -> None:
    """Data files a committed merge wrote: every parquet file under the new
    snapshot's data root (table.py and multitable.py write there)."""
    s.attrs["status"] = result.get("status")
    if result.get("status") == "committed":
        root = os.path.join(args[0].path, "data", f"snap-{result['snapshot_id']}")
        s.attrs["files_written"] = sum(
            n.endswith(".parquet") for _d, _s, names in os.walk(root) for n in names)


# ------------------------------------------------------------ span algebra
def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def children_of(spans: list[Span]) -> dict[int, list[Span]]:
    out: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            out.setdefault(s.parent, []).append(s)
    return out


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → self time: its duration minus the part of its interval
    that its child spans cover."""
    kids = children_of(spans)
    return {
        s.id: s.dur - union_length(
            [(c.start, c.end) for c in kids.get(s.id, [])], s.start, s.end
        )
        for s in spans
    }


def batch_coverage(spans: list[Span], loop_span: Span) -> list[float]:
    """Per batch of one loop call: the share of the batch's wall time that
    the loop's direct child spans cover.

    A batch runs from the start of its first child span (the
    ``filter_to_manifests`` call that opened it) to the start of the next
    batch's first span, or to the end of the loop call for the last batch,
    so loop code between the traced calls counts as uncovered.
    """
    kids = [s for s in spans if s.parent == loop_span.id and s.batch is not None]
    by_batch: dict[int, list[Span]] = {}
    for s in kids:
        by_batch.setdefault(s.batch, []).append(s)
    starts = sorted(
        (min(s.start for s in ss if s.name == "filter_to_manifests"), b)
        for b, ss in by_batch.items()
        if any(s.name == "filter_to_manifests" for s in ss)
    )
    out = []
    for i, (lo, b) in enumerate(starts):
        hi = starts[i + 1][0] if i + 1 < len(starts) else loop_span.end
        covered = union_length([(s.start, s.end) for s in by_batch[b]], lo, hi)
        out.append(covered / (hi - lo) if hi > lo else 1.0)
    return out


# ------------------------------------------------------------- event log
def load_event_log(path: str) -> tuple[dict, dict]:
    """Parse a Spark event log into ``jobs`` and ``stages`` dicts.

    jobs[id] = {span, submit, end, stages}; stages[id] = {submit, end,
    tasks, run_s, gc_s, shuffle_write, spill, in_bytes,
    in_records, out_bytes, out_records}. Times are epoch seconds; ``span``
    is the span id from the job's SPAN_PROPERTY (None when the job ran
    outside every span).
    """
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(sid, {
            "submit": None, "end": None, "tasks": 0, "run_s": 0.0, "gc_s": 0.0,
            "shuffle_write": 0, "spill": 0, "in_bytes": 0,
            "in_records": 0, "out_bytes": 0, "out_records": 0,
        })

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                prop = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                span = int(prop) if prop else None
                jobs[ev["Job ID"]] = {
                    "span": span,
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": list(ev.get("Stage IDs", [])),
                }
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stage(info["Stage ID"])
                if info.get("Submission Time") is not None:
                    st["submit"] = info["Submission Time"] / 1000.0
                if info.get("Completion Time") is not None:
                    st["end"] = info["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                st = stage(ev["Stage ID"])
                st["tasks"] += 1
                st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                sw = m.get("Shuffle Write Metrics") or {}
                st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0)
                im = m.get("Input Metrics") or {}
                st["in_bytes"] += im.get("Bytes Read", 0)
                st["in_records"] += im.get("Records Read", 0)
                om = m.get("Output Metrics") or {}
                st["out_bytes"] += om.get("Bytes Written", 0)
                st["out_records"] += om.get("Records Written", 0)
    # a stage reused from an earlier job (AQE, cached shuffle) is listed in
    # the later job but never runs there; keep only stages that ran
    ran = {sid for sid, st in stages.items() if st["end"] is not None and st["tasks"]}
    for j in jobs.values():
        j["stages"] = [sid for sid in j["stages"] if sid in ran]
    return jobs, stages


def stage_kind(st: dict) -> str:
    """Which part of a batch apply a stage does: ``write`` (it writes
    output files), ``scan_decode`` (it reads files: the log scan with the
    decode, or a stats scan) or ``reduce`` (shuffle in, shuffle out)."""
    if st["out_records"] or st["out_bytes"]:
        return "write"
    if st["in_records"] or st["in_bytes"]:
        return "scan_decode"
    return "reduce"


def jobs_under(span_ids: set[int], jobs: dict) -> list[dict]:
    return [j for j in jobs.values() if j["span"] in span_ids and j["end"] is not None]


def descendants(spans: list[Span], roots: list[Span]) -> set[int]:
    kids = children_of(spans)
    out, todo = set(), [r.id for r in roots]
    while todo:
        sid = todo.pop()
        if sid in out:
            continue
        out.add(sid)
        todo.extend(c.id for c in kids.get(sid, []))
    return out
