"""Tracing for the benchmark's traced runs.

Three sources feed one in-memory span list:

- the benchmark's own calls into each engine layer (``Tracer.span``):
  workload -> query -> ``fn`` build (with ``catalog.load_table`` child
  spans) -> ``noop`` exec;
- Spark's event log, folded per job group into ``exec.*`` counters, with
  each job and stage added as a child span;
- a ``StreamingQueryListener`` whose progress events become micro-batch
  spans with their ``durationMs`` parts as children.

Spans of one query share its name as ``trace_id``.  A streaming query
started inside a registry query runs its jobs on the stream thread under
job group = the stream's ``runId``, not under the caller's group, so each
``runId`` is mapped back to the query whose time window saw it start
(``attribute_runs``).  A span's self time is its duration minus the part
of it covered by its children.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from statistics import median

from stats import clipped, union_length

# durationMs parts of one micro-batch, in MicroBatchExecution's order
BATCH_PARTS = (
    ("latestOffset", "sources"),
    ("walCommit", "streaming"),
    ("getBatch", "sources"),
    ("queryPlanning", "streaming"),
    ("addBatch", "sinks"),
    ("commitOffsets", "streaming"),
)


@dataclass
class Span:
    name: str
    layer: str
    trace_id: str
    start: float
    end: float
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Collects spans in memory; written out once the run ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def add(self, name: str, layer: str, trace_id: str, start: float,
            end: float, parent: int | None = None, **attrs) -> int:
        self.spans.append(Span(name, layer, trace_id, start, end, parent, attrs))
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, layer: str, trace_id: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        if trace_id is None:
            trace_id = self.spans[parent].trace_id if parent is not None else name
        idx = self.add(name, layer, trace_id, time.time(), 0.0, parent, **attrs)
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as fh:
            json.dump([
                {**s.__dict__, "self_s": round(selfs[i], 6)}
                for i, s in enumerate(self.spans)
            ], fh)


def self_times(spans: list[Span]) -> list[float]:
    """Per span: duration minus the union of its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return [
        max(0.0, (s.end - s.start)
            - union_length(clipped(children[i], s.start, s.end)))
        for i, s in enumerate(spans)
    ]


def layer_self_s(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = defaultdict(float)
    for s, own in zip(spans, self_times(spans)):
        out[s.layer] += own
    return dict(out)


def iso_to_epoch(ts: str) -> float:
    """'2026-01-02T03:04:05.678Z' -> epoch seconds."""
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def attribute_runs(run_starts: dict[str, float],
                   windows: list[tuple[str, float, float]]) -> dict[str, str]:
    """Map each streaming ``runId`` to the query whose [start, end] window
    contains the run's start time; runs outside every window are left out."""
    out = {}
    for run_id, t in run_starts.items():
        for name, lo, hi in windows:
            if lo <= t <= hi:
                out[run_id] = name
                break
    return out


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def read_event_log(path: str):
    """Yield events from an uncompressed event log: a plain file or a
    rolling ``eventlog_v2_*`` directory (or a directory holding one)."""
    if os.path.isfile(path):
        files = [path]
    else:
        files = sorted(
            glob.glob(os.path.join(path, "events_*"))
            + glob.glob(os.path.join(path, "eventlog_v2_*", "events_*")),
            key=lambda f: int(os.path.basename(f).split("_")[1]),
        )
    for f in files:
        with open(f) as fh:
            for line in fh:
                yield json.loads(line)


EXEC_COUNTERS = ("jobs", "stages", "task_ms", "cpu_ms", "gc_ms", "deser_ms",
                 "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


@dataclass
class ExecFold:
    """Spark execution folded per owner (query name, or the job group)."""

    totals: dict = field(default_factory=lambda: defaultdict(lambda: defaultdict(float)))
    peak_mem: dict = field(default_factory=lambda: defaultdict(float))
    stage_spans: dict = field(default_factory=lambda: defaultdict(list))
    job_spans: dict = field(default_factory=lambda: defaultdict(list))
    skew: list = field(default_factory=list)


def fold_event_log(events, owner_of_job) -> ExecFold:
    """Fold job/stage/task events into per-owner counters.

    ``owner_of_job(group, submit_s)`` maps a job's group (the benchmark
    sets the query name; streams use their runId) and submission time to
    the owner its counters and spans are booked to, or None to leave the
    job out."""
    fold = ExecFold()
    job_owner: dict[int, str] = {}
    job_start: dict[int, tuple[float, str]] = {}
    stage_owner: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    stage_shuffle_read: dict[int, float] = defaultdict(float)
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            submit = e["Submission Time"] / 1000
            owner = owner_of_job(props.get("spark.jobGroup.id"), submit)
            if owner is None:
                continue
            job_owner[jid] = owner
            job_start[jid] = (submit, props.get("spark.job.description") or "")
            for sid in e.get("Stage IDs", []):
                stage_owner.setdefault(sid, owner)
                stage_job.setdefault(sid, jid)
            fold.totals[owner]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in job_start:
                start, desc = job_start.pop(jid)
                fold.job_spans[job_owner[jid]].append(
                    (jid, start, e["Completion Time"] / 1000, desc))
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            owner = stage_owner.get(sid)
            m = e.get("Task Metrics")
            if owner is None or not m:
                continue
            t = fold.totals[owner]
            t["task_ms"] += m["Executor Run Time"]
            t["cpu_ms"] += m["Executor CPU Time"] / 1e6
            t["gc_ms"] += m["JVM GC Time"]
            t["deser_ms"] += m["Executor Deserialize Time"]
            rd = m.get("Shuffle Read Metrics") or {}
            read = rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            t["shuffle_read_bytes"] += read
            t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            t["spill_bytes"] += m["Disk Bytes Spilled"]
            fold.peak_mem[owner] = max(fold.peak_mem[owner], m["Peak Execution Memory"])
            stage_tasks[sid].append(m["Executor Run Time"])
            stage_shuffle_read[sid] += read
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            sid = si["Stage ID"]
            owner = stage_owner.get(sid)
            if owner is None or "Submission Time" not in si:
                continue
            fold.totals[owner]["stages"] += 1
            fold.stage_spans[owner].append(
                (sid, stage_job[sid], si["Submission Time"] / 1000,
                 si["Completion Time"] / 1000))
            tasks = stage_tasks.pop(sid, [])
            if stage_shuffle_read.pop(sid, 0) > 0 and len(tasks) >= 2:
                mid = median(tasks)
                if mid > 0:
                    fold.skew.append(max(tasks) / mid)
    return fold


# ---------------------------------------------------------------------------
# Streaming progress
# ---------------------------------------------------------------------------


def make_listener(progress: list, starts: dict, lock: threading.Lock):
    """A StreamingQueryListener that appends each progress (as a dict) to
    ``progress`` and records each run's start time in ``starts``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            with lock:
                starts[str(event.runId)] = iso_to_epoch(event.timestamp)

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            with lock:
                progress.append(p)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


def batch_window(p: dict) -> tuple[float, float]:
    start = iso_to_epoch(p["timestamp"])
    return start, start + p["durationMs"].get("triggerExecution", 0) / 1000


def fold_progress(progress: list[dict], stage_spans_by_run=None) -> dict:
    """Per-layer streaming counters from progress events.

    ``sinks.write_ms`` is the part of each batch's addBatch not covered by
    a running stage of that run: the driver-side sink work (commit,
    foreachBatch body, memory-sink collect).  Without stage spans it is
    the whole addBatch."""
    out = defaultdict(float)
    last_state: dict[tuple[str, int], dict] = {}
    for p in progress:
        d = p.get("durationMs", {})
        out["streaming.batches"] += 1
        out["streaming.empty_batches"] += p.get("numInputRows", 0) == 0
        out["streaming.plan_ms"] += d.get("queryPlanning", 0)
        out["streaming.commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
        out["streaming.add_batch_ms"] += d.get("addBatch", 0)
        out["sources.input_rows"] += p.get("numInputRows", 0)
        out["sources.read_ms"] += d.get("latestOffset", 0) + d.get("getBatch", 0)
        out["sinks.rows_out"] += (p.get("sink") or {}).get("numOutputRows", 0) or 0
        add = d.get("addBatch", 0)
        if stage_spans_by_run is not None and add:
            lo, hi = batch_window(p)
            covered = union_length(clipped(
                [(s, e) for _, _, s, e in stage_spans_by_run.get(p["runId"], [])],
                lo, hi)) * 1000
            add = max(0.0, add - covered)
        out["sinks.write_ms"] += add
        for i, op in enumerate(p.get("stateOperators") or []):
            out["state.commit_ms"] += op.get("commitTimeMs", 0)
            out["state.update_ms"] += op.get("allUpdatesTimeMs", 0)
            out["state.dropped_late_rows"] += op.get("numRowsDroppedByWatermark", 0)
            last_state[(p["runId"], i)] = op
    out["state.rows"] = sum(op.get("numRowsTotal", 0) for op in last_state.values())
    out["state.mem_bytes"] = sum(op.get("memoryUsedBytes", 0) for op in last_state.values())
    return dict(out)


def add_batch_spans(tracer: Tracer, progress: list[dict], owner_of_run) -> None:
    """One span per micro-batch, child of the innermost benchmark span of
    its owner open at the trigger, with its durationMs parts laid out in
    execution order as children."""
    own = list(tracer.spans)
    for p in progress:
        owner = owner_of_run(p["runId"])
        lo, hi = batch_window(p)
        b = tracer.add("micro-batch", "streaming", owner, lo, hi,
                       _innermost(own, owner, lo), batch=p["batchId"],
                       rows=p.get("numInputRows", 0))
        t = lo
        d = p.get("durationMs", {})
        for part, layer in BATCH_PARTS:
            ms = d.get(part, 0)
            if ms:
                tracer.add(part, layer, owner, t, t + ms / 1000, b)
                t += ms / 1000


# ---------------------------------------------------------------------------
# Per-layer metrics of one traced workload
# ---------------------------------------------------------------------------

FAMILIES = ("core", "analytics", "llm", "tpch")
SELF_LAYERS = ("query", "plans", "catalog", "exec", "spark.job", "spark.stage",
               "streaming", "sources", "sinks")


def _innermost(spans: list[Span], trace_id: str, t: float) -> int | None:
    best = None
    for i, s in enumerate(spans):
        if s.trace_id == trace_id and s.start <= t <= s.end and (
                best is None or s.end - s.start < spans[best].end - spans[best].start):
            best = i
    return best


def add_exec_spans(tracer: Tracer, fold: ExecFold) -> None:
    """Jobs become children of the innermost benchmark span of their owner
    that was open at submission; stages become children of their job."""
    own = list(tracer.spans)
    for owner, jobs in fold.job_spans.items():
        job_span = {}
        for jid, start, end, desc in jobs:
            job_span[jid] = tracer.add(f"job {jid}", "spark.job", owner, start, end,
                                       _innermost(own, owner, start), description=desc)
        for sid, jid, start, end in fold.stage_spans.get(owner, []):
            tracer.add(f"stage {sid}", "spark.stage", owner, start, end,
                       job_span.get(jid))


def per_layer(tracer: Tracer, fold: ExecFold, progress: list[dict],
              windows: list[tuple[str, float, float]], family_of,
              owner_of_run) -> dict[str, float]:
    """Per-layer counters and self times over the owners in ``windows``
    (one (owner, start, end) per traced query or stream)."""
    spans = tracer.spans
    m: dict[str, float] = {}
    loads = [s for s in spans if s.layer == "catalog"]
    m["catalog.load_calls"] = len(loads)
    m["catalog.load_s"] = sum(s.end - s.start for s in loads)
    builds = [s for s in spans if s.layer == "plans"]
    m["plans.build_s"] = sum(s.end - s.start for s in builds)
    m["plans.build_jobs"] = sum(
        1 for owner, jobs in fold.job_spans.items() for _, start, _, _ in jobs
        if any(b.trace_id == owner and b.start <= start <= b.end for b in builds))
    totals = defaultdict(float)
    by_family = defaultdict(float)
    exec_s = gap_ms = 0.0
    owners = {owner for owner, _, _ in windows}
    for owner in owners:
        t = fold.totals.get(owner, {})
        for k in EXEC_COUNTERS:
            totals[k] += t.get(k, 0)
        by_family[family_of(owner)] += t.get("task_ms", 0)
        exec_s += union_length([(s, e) for _, s, e, _ in fold.job_spans.get(owner, [])])
    for owner, lo, hi in windows:
        stages = [(s, e) for _, _, s, e in fold.stage_spans.get(owner, [])]
        gap_ms += ((hi - lo) - union_length(clipped(stages, lo, hi))) * 1000
    m["exec.s"] = exec_s
    for k in EXEC_COUNTERS:
        m[f"exec.{k}"] = totals[k]
    for f in FAMILIES:
        m[f"exec.task_ms.{f}"] = by_family[f]
    m["exec.peak_mem_bytes"] = max((fold.peak_mem.get(o, 0) for o in owners), default=0)
    m["exec.task_skew"] = median(fold.skew) if fold.skew else 0.0
    m["exec.driver_gap_ms"] = gap_ms
    runs = {p["runId"] for p in progress}
    m.update(fold_progress(progress, {
        r: fold.stage_spans.get(owner_of_run(r), []) for r in runs}))
    selfs = layer_self_s(spans)
    for layer in SELF_LAYERS:
        m[f"self_s.{layer}"] = selfs.get(layer, 0.0)
    m["trace.spans"] = len(spans)
    return m
