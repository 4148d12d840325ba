"""Run one benchmark workload and print its metrics as one line of JSON.

    python3 perfbench/run.py --workload registry --seed 0 --seconds 12 --trace 0

Run from the repository root.  Workloads and metrics are declared in
BENCHMARK.json; see registry.py and ysb_live.py for what each workload
runs.  Every run:

1. sets the engine up three times -- ``session.get_spark`` plus warm-up,
   the first launching the JVM -- and reports the median as ``setup_s``;
2. measures the workload for ``--seconds`` (registry: untimed passes
   to settle the JIT, then whole timed passes over its query list until
   ``--seconds`` have passed; ysb-live: a closed-loop JIT warm-up and a
   short open-loop warm-up, then ``--seconds`` of stream);
3. checks the outputs outside the timed region;
4. with ``--trace 1``, sets up again with Spark's event log on and runs
   the same measurement traced (spans, event log, streaming listener),
   reporting per-layer metrics and the tracing overhead.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the full run record (per-query times, errors, latency samples, host
readings) and the spans go to ``.perfbench/records/``.  Exit status is 0
only when every output check passed.  All temp, checkpoint and event-log
dirs live in ``.perfbench/run-<pid>/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import threading
import time
import traceback
from statistics import median

import engine
import registry
import tracing
import ysb_live
from stats import nearest_rank, tail_pct

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("registry", "ysb-live")
# the reference sf0.1 tables, copied byte for byte into the benchmark
DATA_DIR = os.path.join(HERE, "data", "sf0.1")
SETUP_REPEATS = 3

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "latency_p50_ms": "ms",
}

PER_LAYER = {
    "mem.peak_rss_mb": "MB",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "catalog.load_calls": "count",
    "catalog.load_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.task_ms": "ms",
    "exec.task_ms.core": "ms",
    "exec.task_ms.analytics": "ms",
    "exec.task_ms.llm": "ms",
    "exec.task_ms.tpch": "ms",
    "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.deser_ms": "ms",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.peak_mem_bytes": "bytes",
    "exec.task_skew": "ratio",
    "exec.driver_gap_ms": "ms",
    "streaming.batches": "count",
    "streaming.empty_batches": "count",
    "streaming.plan_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "state.commit_ms": "ms",
    "state.update_ms": "ms",
    "state.rows": "count",
    "state.mem_bytes": "bytes",
    "state.dropped_late_rows": "count",
    "sources.input_rows": "count",
    "sources.read_ms": "ms",
    "sources.lag_ms": "ms",
    "sinks.write_ms": "ms",
    "sinks.rows_out": "count",
    "scope.tmp_dirs_created": "count",
    "scope.leaked_tmp_dirs": "count",
    "self_s.query": "s",
    "self_s.plans": "s",
    "self_s.catalog": "s",
    "self_s.exec": "s",
    "self_s.spark.job": "s",
    "self_s.spark.stage": "s",
    "self_s.streaming": "s",
    "self_s.sources": "s",
    "self_s.sinks": "s",
    "trace.spans": "count",
    "trace.overhead_frac": "ratio",
}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _isolate(work: str) -> str:
    """Keep every file the run and the engine write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), java_opts]))
    return tmp


def _sb_dirs(tmp: str) -> set[str]:
    return {d for d in os.listdir(tmp) if d.startswith("sb_")}


def _metrics(values: dict, units: dict) -> dict:
    return {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}


class Run:
    """One invocation: owns the work dir, the session and the record."""

    def __init__(self, args, base: str, work: str, tmp: str) -> None:
        self.args = args
        self.base = base
        self.work = work
        self.tmp = tmp
        self.stamp = time.strftime("%Y%m%dT%H%M%S")
        self.spark = None
        self.data = None  # sf0.1 tables (registry only)
        self.names: list[str] = []  # registry query order
        self.warm_runs: list = []  # registry untimed passes
        self.setups: list = []
        self.untraced_timed_s = 0.0  # what trace.overhead_frac compares
        self.record: dict = {"workload": args.workload, "seed": args.seed,
                             "seconds": args.seconds, "trace": args.trace,
                             "local": f"local[{engine.cpus()}]"}

    # -- measurement -------------------------------------------------------

    def measure(self, tracer=None) -> dict:
        before = _sb_dirs(self.tmp)
        with engine.RssSampler() as rss:
            if self.args.workload == "ysb-live":
                out = ysb_live.run(self.spark, self.args.seed, self.args.seconds,
                                   engine.cpus())
                out["batches"] = ysb_live.measured_batches(out["progress"], *out["window"])
                out["samples"] = ysb_live.latency_samples(out["batches"])
            else:
                runs, passes = registry.run_passes(
                    self.spark, self.data, self.names, self.args.seconds, tracer)
                out = {"runs": runs, "passes": passes}
        out["leaked_tmp_dirs"] = len(_sb_dirs(self.tmp) - before)
        out["peak_rss_mb"] = rss.peak_mb
        return out

    # -- phases ------------------------------------------------------------

    def untraced(self) -> tuple[dict, int, int, bool]:
        """Set up, measure, check; returns (end-to-end values, attempted,
        failed, correct)."""
        wl = self.args.workload
        if wl != "ysb-live":
            self.data = DATA_DIR
        t0 = time.perf_counter()
        self.spark, self.setups = engine.setups(
            SETUP_REPEATS, engine.WARM_UP[wl], self.data)
        self.record["setups_s"] = self.setups
        t1 = time.perf_counter()
        if wl == "registry":
            self.names = registry.query_list(self.args.seed)
            self.warm_runs = registry.warm_up(self.spark, self.data, self.names)
        t_warm = time.perf_counter()
        out = self.measure()
        t2 = time.perf_counter()
        values = {"setup_s": median([a + b for a, b in self.setups])}
        self.record["peak_rss_mb"] = out["peak_rss_mb"]
        if wl == "ysb-live":
            attempted, failed, correct = self._finish_ysb(out, values)
        else:
            attempted, failed, correct = self._finish_registry(out, values)
        self.record["phases_s"] = {"setup": t1 - t0, "warm_passes": t_warm - t1,
                                   "measure": t2 - t_warm,
                                   "check": time.perf_counter() - t2}
        self.record["leaked_tmp_dirs"] = out["leaked_tmp_dirs"]
        self.record["end_to_end"] = values
        return values, attempted, failed, correct

    def _finish_registry(self, out: dict, values: dict):
        runs = self.warm_runs + out["runs"]
        bad = registry.check_outputs(self.data, runs)
        per_query = registry.query_medians(
            [r for r in out["runs"] if r.name not in bad])
        values["wall_s"] = self.untraced_timed_s = median(out["passes"])
        values["latency_p50_ms"] = (median(per_query.values()) * 1000
                                    if per_query else 0.0)
        self.record["queries"] = [
            {"name": r.name, "build_s": r.build_s, "exec_s": r.exec_s,
             "error": r.error, "check": bad.get(r.name)} for r in runs]
        self.record["warm_passes_s"] = sum(r.wall_s for r in self.warm_runs)
        self.record["passes_s"] = out["passes"]
        self.record["query_median_s"] = per_query
        failed = sum(1 for r in runs if r.error is not None or r.name in bad)
        return len(runs), failed, failed == 0

    def _finish_ysb(self, out: dict, values: dict):
        samples = out["samples"]
        raw = [s[0] for s in samples]
        wait_ms = ysb_live.trigger_wait_ms(out["progress"])
        lat = [x - (wait_ms or 0) for x in raw]
        checked, bad = ysb_live.check(out)
        third = max(1, len(lat) // 3)
        backlog = len(lat) >= 3 and median(lat[-third:]) > median(lat[:third]) + 1000
        values["wall_s"] = ysb_live.busy_s(out["progress"], *out["window"],
                                           int(self.args.seconds))
        self.untraced_timed_s = median([s[1] for s in samples]) / 1000 if samples else 0.0
        values["latency_p50_ms"] = median(lat) if lat else 0.0
        tail = tail_pct(len(lat))
        self.record.update({
            "offered_rows_per_s": ysb_live.OFFERED_ROWS_PER_S,
            "trigger_wait_ms": wait_ms,
            "latency_ms": lat,
            "latency_raw_ms": raw,
            "trigger_ms": [s[1] for s in samples],
            "lag_ms": [s[2] for s in samples],
            "batch_rows": [s[3] for s in samples],
            "latency_tail": {"pct": tail, "ms": nearest_rank(lat, tail) if tail else None,
                             "samples": len(lat)},
            "backlog_growing": backlog,
            "windows_checked": checked,
            "check_failures": bad,
            "stream_error": out["error"],
        })
        attempted = len(samples) + checked
        failed = len(bad) + (len(samples) if backlog else 0)
        correct = failed == 0 and out["error"] is None and bool(samples) and checked > 0
        return max(attempted, 1), failed, correct

    def traced(self) -> dict:
        """Set up with the event log on and measure again, traced.  The
        tracing overhead compares the work each measurement timed: the
        registry pass, or the median ysb-live batch."""
        wl = self.args.workload
        log_dir = os.path.join(self.work, "eventlog")
        os.makedirs(log_dir)
        engine.stop_session(self.spark)
        self.spark = engine.start_session(engine.event_log_conf(log_dir))
        engine.warm_up(self.spark, engine.WARM_UP[wl], self.data)
        tracer = tracing.Tracer()
        progress: list = []
        starts: dict = {}
        lock = threading.Lock()
        if wl == "ysb-live":
            with registry.counted_mkdtemp() as made:
                out = self.measure(tracer)
            progress = out["progress"]
            starts = out["run_starts"]
            lo, hi = out["window"]
            tracer.add("ysb-live", "query", "ysb-live", lo, hi)
            windows = [("ysb-live", lo, hi)]
            progress = [p for p in progress if lo <= tracing.batch_window(p)[0] <= hi]
            run_owner = {r: "ysb-live" for r in starts}
            timed_s = median([s[1] for s in out["samples"]]) / 1000 if out["samples"] else 0.0
        else:
            listener = tracing.make_listener(progress, starts, lock)
            self.spark.streams.addListener(listener)
            try:
                with registry.traced_catalog(tracer), registry.counted_mkdtemp() as made:
                    with tracer.span(wl, "workload", trace_id=wl):
                        out = self.measure(tracer)
            finally:
                time.sleep(1)  # let the listener bus deliver the last progress
                self.spark.streams.removeListener(listener)
            windows = [(s.trace_id, s.start, s.end) for s in tracer.spans
                       if s.layer == "query"]
            with lock:
                run_owner = tracing.attribute_runs(dict(starts), windows)
                progress = [p for p in progress if p["runId"] in run_owner]
            timed_s = median(out["passes"])
        engine.stop_session(self.spark)  # flushes and closes the event log
        self.spark = None
        names = {w[0] for w in windows}

        def owner_of_job(group, t):
            if group in names:
                return group
            owner = run_owner.get(group)
            if owner is None or wl != "ysb-live":
                return owner
            return owner if windows[0][1] <= t <= windows[0][2] else None

        fold = tracing.fold_event_log(tracing.read_event_log(log_dir), owner_of_job)
        tracing.add_batch_spans(tracer, progress, lambda r: run_owner[r])
        tracing.add_exec_spans(tracer, fold)
        family_of = registry.family if wl == "registry" else (lambda _: "core")
        m = tracing.per_layer(tracer, fold, progress, windows, family_of,
                              run_owner.get)
        m["mem.peak_rss_mb"] = self.record["peak_rss_mb"]
        m["session.start_s"] = median([a for a, _ in self.setups])
        m["session.warmup_s"] = median([b for _, b in self.setups])
        m["sources.lag_ms"] = (median([s[2] for s in out["samples"]])
                               if wl == "ysb-live" and out["samples"] else 0.0)
        m["scope.tmp_dirs_created"] = len(made)
        m["scope.leaked_tmp_dirs"] = out["leaked_tmp_dirs"]
        m["trace.overhead_frac"] = (timed_s / self.untraced_timed_s - 1
                                    if self.untraced_timed_s else 0.0)
        spans_path = self.record_path("spans")
        tracer.dump(spans_path)
        self.record["spans_file"] = os.path.relpath(spans_path, ROOT)
        self.record["layer_self_s"] = tracing.layer_self_s(tracer.spans)
        self.record["per_layer"] = m
        return m

    def record_path(self, kind: str) -> str:
        d = os.path.join(self.base, "records")
        os.makedirs(d, exist_ok=True)
        a = self.args
        return os.path.join(
            d, f"{a.workload}-seed{a.seed}-trace{a.trace}-{self.stamp}-{kind}.json")


def main(argv=None) -> int:
    args = _parse(argv)
    if not (os.path.isdir(os.path.join(ROOT, "streambench_spark"))
            and os.path.isfile(os.path.join(ROOT, "bench.py"))):
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    for d in os.listdir(base):  # work dirs of runs that were killed
        if d.startswith("run-") and not os.path.exists(f"/proc/{d[4:]}"):
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    work = os.path.join(base, f"run-{os.getpid()}")
    tmp = _isolate(work)
    # SIGTERM unwinds like an error, so the JVM and the work dir go too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    from bench import _host_cpu_pct, _mem_gauge_gbps, _proc_stat

    run = Run(args, base, work, tmp)
    mem_start = _mem_gauge_gbps()
    stat_start = _proc_stat()
    try:
        values, attempted, failed, correct = run.untraced()
        if args.trace:
            per_layer = run.traced()
            metrics = _metrics(per_layer, PER_LAYER)
        else:
            metrics = _metrics(values, END_TO_END)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            engine.shutdown(run.spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    run.record["host"] = {
        **_host_cpu_pct(stat_start, _proc_stat()),
        "mem_gauge_gbps": {"start": mem_start, "end": _mem_gauge_gbps()},
    }
    run.record.update(correct=correct, attempted=attempted, failed=failed)
    with open(run.record_path("run"), "w") as fh:
        json.dump(run.record, fh, indent=1, default=str)
    print(f"perfbench {args.workload} seed={args.seed} {run.record['local']} "
          f"record={os.path.relpath(run.record_path('run'), ROOT)}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
