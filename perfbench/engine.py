"""Session lifecycle, warm-up and memory readings for one benchmark run.

The session comes from the engine's own factory (``session.get_spark``)
on ``local[N]`` with N half the CPUs this process may use.  (The CPU and
memory-bandwidth gauges are ``bench.py``'s own, imported by ``run.py``.)
"""

from __future__ import annotations

import os
import shutil
import subprocess
import tempfile
import threading
import time
import uuid


def cpus() -> int:
    """Task slots: half the CPUs this process may use.  The other half
    keeps the driver, JIT, GC and Python worker threads from queueing
    behind the tasks; on a 4-CPU host, 2 slots also ran ysb-live batches
    faster than 4 did."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def event_log_conf(log_dir: str) -> dict[str, str]:
    # Spark's default event-log codec is zstd, which the Python standard
    # library cannot read, so the log is written uncompressed
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
    }


def start_session(extra_conf: dict[str, str] | None = None):
    from streambench_spark.session import get_spark

    n = cpus()
    spark = get_spark(app_name="perfbench", master=f"local[{n}]",
                      shuffle_partitions=n, extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# What each workload warms before timing: only the layers it uses.  The
# registry's streaming drains are warmed by its untimed first pass.
WARM_UP = {
    "registry": ("parquet", "python"),
    "ysb-live": ("stream",),
}


def warm_up(spark, parts, data_dir: str | None) -> None:
    """Pay one-time costs before timing: ``parquet`` reader and codegen,
    ``python`` (Python/Arrow and cogroup worker pools) and ``stream``
    (streaming-engine and state-store init, through one bounded stateful
    aggregation into a memory sink)."""
    from pyspark.sql import functions as F

    n = cpus()
    if "parquet" in parts:
        spark.read.parquet(os.path.join(data_dir, "events.parquet")).count()
    if "python" in parts:
        def _passthrough(batches):
            yield from batches

        spark.range(0, 64, 1, n).mapInPandas(
            _passthrough, schema="id long").write.format("noop").mode("overwrite").save()

        def _left(left, right):
            return left

        w = spark.range(0, 64, 1, n).withColumn("k", F.col("id") % 8)
        w.groupBy("k").cogroup(w.groupBy("k")).applyInPandas(
            _left, schema="id long, k long").write.format("noop").mode("overwrite").save()
    if "stream" in parts:
        _warm_stream(spark)


def _warm_stream(spark) -> None:
    from pyspark.sql import functions as F

    scratch = tempfile.mkdtemp(prefix="pbwarm_")
    name = f"pbwarm_{uuid.uuid4().hex[:8]}"
    query = None
    try:
        src = os.path.join(scratch, "src")
        spark.range(0, 64, 1, 1).withColumn(
            "ts", F.expr("timestamp'2024-01-01' + make_interval(0,0,0,0,0,0,id)")
        ).write.parquet(src)
        agg = (spark.readStream.schema("id long, ts timestamp").parquet(src)
               .withWatermark("ts", "1 second")
               .groupBy(F.window("ts", "10 seconds"), (F.col("id") % 4).alias("k"))
               .agg(F.count(F.lit(1)), F.max("ts")))
        query = (agg.writeStream.format("memory").queryName(name).outputMode("update")
                 .option("checkpointLocation", os.path.join(scratch, "ckpt"))
                 .trigger(availableNow=True).start())
        if not query.awaitTermination(60):
            raise TimeoutError("streaming warm-up drain did not finish")
    finally:
        if query is not None and query.isActive:
            query.stop()
        spark.catalog.dropTempView(name)
        shutil.rmtree(scratch, ignore_errors=True)


def stop_session(spark) -> None:
    for q in spark.streams.active:
        q.stop()
    spark.stop()


def setups(repeats: int, parts, data_dir: str | None):
    """Set the engine up ``repeats`` times (the first launches the JVM,
    the rest start a new context on it) and keep the last session.
    Returns (spark, per-setup (start_s, warmup_s))."""
    times = []
    spark = None
    for _ in range(repeats):
        if spark is not None:
            stop_session(spark)
        t0 = time.perf_counter()
        spark = start_session()
        t1 = time.perf_counter()
        warm_up(spark, parts, data_dir)
        times.append((t1 - t0, time.perf_counter() - t1))
    return spark, times


def shutdown(spark=None) -> None:
    """Stop the session if one is open, then the JVM gateway, and wait
    for the JVM to exit."""
    from pyspark import SparkContext

    if spark is not None:
        try:
            stop_session(spark)
        except Exception:  # a call cut by a signal breaks the gateway; stop the JVM below
            pass
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# Memory and host readings
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        tree.setdefault(ppid, []).append(int(d))
    return tree


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants (the driver
    JVM and the Python workers are children of this process)."""
    tree = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(tree.get(pid, []))
    return total / 1024


class RssSampler:
    """Samples the process tree's RSS on a thread; ``peak_mb`` is the max."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(me))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
