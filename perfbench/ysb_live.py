"""ysb-live: an open-loop YSB stream at one fixed offered rate.

Spark's ``rate`` source schedules row ``v`` for ``C + round(v * 1000 / R)``
ms, where ``C`` is the stream's creation time and ``R`` the offered rate,
and stamps that scheduled time into its ``timestamp`` column; it hands
out rows on that schedule, in whole seconds, whether or not the engine
keeps up.  The events feed the engine's ``ysb_streaming`` plan (10 s
window, 1 s watermark) into a memory sink in update mode, on a 1 s
processing-time trigger.

The trigger fires on wall-clock second boundaries, and the source's
seconds count from ``C``, so every data batch waits the same
``(trigger - C) mod 1 s`` for its newest second to complete.  That phase
depends on how long query start-up took, not on per-batch work, so it is
subtracted from every latency sample (the record keeps the raw ones).
The query is started at a fixed point of the wall-clock second so that
the phase stays at 0.25-0.35 s, away from the wrap at a whole second where
a trigger could see or miss the newest second by jitter alone.
With a trigger each second that always finds new data, the engine runs
no separate no-data batch to advance the watermark: with the default
as-fast-as-possible trigger a data batch (~0.4 s on a 4-core host) plus
its no-data batch (~0.35 s) fill ~80% of each second, and any stall
spills into the following seconds.

Latency is measured from the scheduled creation of the newest event in a
result (the batch's ``eventTime.max``) to that result's emission (the end
of the batch's trigger), less the phase, one sample per non-empty batch,
so a batch that starts late because the previous one overran carries its
queue wait.  ``bench/harness.run_latency_trial`` is not reused: it stamps
events with ``current_timestamp()``, i.e. the batch start, which leaves
the queue wait out.  The engine's busy time is the summed
``triggerExecution`` of a fixed number of batches in the measured
stretch.

The seed sets the ad -> campaign mapping offset.  After the run every
closed window's total count must equal the ``view`` events the rate
source scheduled in it.
"""

from __future__ import annotations

import threading
import time
import uuid

from tracing import iso_to_epoch, make_listener

# Offered rate, frozen: a data batch takes ~0.4 s of each 1 s trigger on a
# 4-core host, most of it per-batch fixed cost.  R / 1000 is odd, so no
# row is scheduled exactly half way between two milliseconds and the
# rounding in the schedule is exact.
OFFERED_ROWS_PER_S = 499_000
N_CAMPAIGNS = 100
ADS_PER_CAMPAIGN = 10
EVENT_TYPES = ("view", "click", "purchase")  # round-robin: v % 3 == 0 is a view
WINDOW_MS = 10_000
# In a fresh JVM open-loop batches keep getting faster for over a minute,
# one batch a second.  A closed loop over the same plan runs two or three
# batches a second, so JIT_WARM_BATCHES of it first settle the JIT sooner
# (a count, not a time, so a slow host warms as far as a fast one); then
# WARMUP_S of the open loop passes the slow first batches of a query.
JIT_WARM_BATCHES = 40
WARMUP_S = 2.0
TRIGGER = "1 second"
# start() returns, and the source takes C, ~0.1-0.17 s after the call
START_AT_MS = 600


def build_stream(spark, seed: int, partitions: int, closed_loop: bool = False):
    """The YSB plan over the rate source; ``closed_loop`` feeds it the
    same rows per batch from ``rate-micro-batch``, each batch starting
    when the previous one ends."""
    from pyspark.sql import functions as F

    from streambench_spark.streaming.ysb import ysb_streaming

    n_ads = N_CAMPAIGNS * ADS_PER_CAMPAIGN
    offset = seed % N_CAMPAIGNS
    if closed_loop:
        reader = (spark.readStream.format("rate-micro-batch")
                  .option("rowsPerBatch", OFFERED_ROWS_PER_S))
    else:
        reader = (spark.readStream.format("rate")
                  .option("rowsPerSecond", OFFERED_ROWS_PER_S))
    rate = reader.option("numPartitions", partitions).load()
    types = F.array(*[F.lit(t) for t in EVENT_TYPES])
    events = rate.select(
        (F.col("value") % n_ads).alias("user_id"),
        F.col("timestamp").alias("ts"),
        F.element_at(types, (F.col("value") % len(EVENT_TYPES) + 1).cast("int"))
        .alias("event_type"),
    )
    ads = spark.range(n_ads).select(
        F.col("id").alias("c_custkey"),
        F.format_string(
            "campaign-%03d",
            (F.floor(F.col("id") / ADS_PER_CAMPAIGN) + offset) % N_CAMPAIGNS,
        ).alias("c_mktsegment"),
    )
    return ysb_streaming(events, ads, window="10 seconds", watermark="1 second")


def scheduled_views(creation_ms: int, lo_ms: int, hi_ms: int,
                    rate: int = OFFERED_ROWS_PER_S) -> int:
    """``view`` rows the rate source schedules in [lo_ms, hi_ms)."""

    def first_at_or_after(t_ms: int) -> int:
        # row v is due at C + round(v / per_ms); with per_ms odd,
        # due >= t  <=>  v >= (t - C) * per_ms - (per_ms - 1) / 2
        per_ms = rate // 1000
        return max(0, (t_ms - creation_ms) * per_ms - (per_ms - 1) // 2)

    a, b = first_at_or_after(lo_ms), first_at_or_after(hi_ms)
    n = len(EVENT_TYPES)
    return (b + n - 1) // n - (a + n - 1) // n


def measured_batches(progress: list[dict], t_lo: float, t_hi: float) -> list[dict]:
    """Non-empty batches that started in [t_lo, t_hi]."""
    return [p for p in progress if p.get("numInputRows")
            and (p.get("eventTime") or {}).get("max")
            and t_lo <= iso_to_epoch(p["timestamp"]) <= t_hi]


def latency_samples(batches: list[dict]):
    """(latency_ms, trigger_ms, lag_ms, rows) per batch."""
    out = []
    for p in batches:
        start = iso_to_epoch(p["timestamp"])
        trigger_ms = p["durationMs"]["triggerExecution"]
        due = iso_to_epoch(p["eventTime"]["max"])
        out.append(((start - due) * 1000 + trigger_ms, trigger_ms,
                    (start - due) * 1000, p["numInputRows"]))
    return out


def busy_s(progress: list[dict], t_lo: float, t_hi: float, n: int) -> float:
    """Summed ``triggerExecution`` of the first ``n`` batches, empty ones
    included, that started in [t_lo, t_hi].  With batches that overrun
    the trigger fewer start in the stretch, and the sum nears its length."""
    started = sorted((iso_to_epoch(p["timestamp"]), p["durationMs"]["triggerExecution"])
                     for p in progress)
    return sum([ms for t, ms in started if t_lo <= t <= t_hi][:n]) / 1000


def run(spark, seed: int, seconds: float, partitions: int) -> dict:
    """Warm the JIT on a closed loop, then run the open-loop stream for
    its warm-up plus ``seconds``; returns the open loop's progress
    events, the measured window and each window's final counts."""
    warm = (build_stream(spark, seed, partitions, closed_loop=True).writeStream
            .format("noop").outputMode("update").start())
    deadline = time.time() + 60
    try:
        while (warm.isActive and time.time() < deadline and
               (warm.lastProgress or {}).get("batchId", -1) + 1 < JIT_WARM_BATCHES):
            time.sleep(0.1)
    finally:
        warm.stop()
    progress: list[dict] = []
    starts: dict[str, float] = {}
    lock = threading.Lock()
    listener = make_listener(progress, starts, lock)
    spark.streams.addListener(listener)
    sink = f"ysb_live_{uuid.uuid4().hex[:8]}"
    query = None
    try:
        writer = (build_stream(spark, seed, partitions).writeStream
                  .format("memory").queryName(sink).outputMode("update")
                  .trigger(processingTime=TRIGGER))
        time.sleep((START_AT_MS / 1000 - time.time() % 1) % 1)
        query = writer.start()
        time.sleep(WARMUP_S)
        t_lo = time.time()
        time.sleep(seconds)
        t_hi = time.time()
        _await_closed_window(progress, lock)
        query.stop()
        query.awaitTermination(60)
        error = query.exception()
        # the listener bus is asynchronous: wait for the last progress
        last = (query.lastProgress or {}).get("batchId")
        deadline = time.time() + 10
        while last is not None and time.time() < deadline:
            with lock:
                if any(p["batchId"] == last for p in progress[-3:]):
                    break
            time.sleep(0.05)
        # update mode re-emits a (window, campaign) row with its running
        # count, so each one's final count is its largest
        final_counts = [tuple(r) for r in spark.sql(
            f"SELECT time_window, max(count) FROM {sink} "
            "GROUP BY time_window, segment").collect()]
    finally:
        if query is not None and query.isActive:
            query.stop()
        spark.streams.removeListener(listener)
        spark.catalog.dropTempView(sink)
    with lock:
        progress = list(progress)
    return {
        "progress": progress,
        "run_starts": dict(starts),
        "window": (t_lo, t_hi),
        "final_counts": final_counts,
        "error": None if error is None else str(error)[-500:],
    }


def _watermark_ms(progress: list[dict]) -> int:
    return max((round(iso_to_epoch(p["eventTime"]["watermark"]) * 1000)
                for p in progress if "watermark" in p.get("eventTime", {})), default=0)


def _await_closed_window(progress: list[dict], lock, timeout_s: float = 20) -> None:
    """Keep the stream running until the watermark has closed the window
    that holds the first row, so that the check has a window to count."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        with lock:
            c = _creation_ms(progress)
            if c is not None and _watermark_ms(progress) >= (c // WINDOW_MS + 1) * WINDOW_MS:
                return
        time.sleep(0.1)


def check(result: dict) -> tuple[int, list[str]]:
    """Compare every closed window's total count with the scheduled view
    events; returns (windows checked, mismatch descriptions)."""
    progress = result["progress"]
    creation_ms = _creation_ms(progress)
    if creation_ms is None:
        return 0, ["no batch starting at the first offset"]
    watermark_ms = _watermark_ms(progress)
    totals: dict[int, int] = {}
    for window, count in result["final_counts"]:
        totals[window] = totals.get(window, 0) + count
    bad = []
    checked = 0
    for w, got in sorted(totals.items()):
        if w + WINDOW_MS > watermark_ms:
            continue  # still open
        checked += 1
        want = scheduled_views(creation_ms, w, w + WINDOW_MS)
        if got != want:
            bad.append(f"window {w}: count {got} != scheduled views {want}")
    return checked, bad


def _creation_ms(progress: list[dict]) -> int | None:
    """The source's C: the scheduled time of row 0, the earliest event
    of the batch that starts at offset 0."""
    first = next((p for p in progress if p.get("numInputRows")
                  and p["sources"][0]["startOffset"] in (None, 0)), None)
    return None if first is None else round(iso_to_epoch(first["eventTime"]["min"]) * 1000)


def trigger_wait_ms(progress: list[dict]) -> int | None:
    """How long after its second completes a trigger first sees it."""
    c = _creation_ms(progress)
    return None if c is None else -c % 1000
