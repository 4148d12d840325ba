import ysb_live


def _brute(creation, lo, hi, rate):
    per_ms = rate // 1000
    n = 0
    v = 0
    while True:
        due = creation + (2 * v + per_ms) // (2 * per_ms)  # round half up
        if due >= hi:
            return n
        if due >= lo and v % len(ysb_live.EVENT_TYPES) == 0:
            n += 1
        v += 1


def test_scheduled_views_match_the_rate_source_schedule():
    rate = 7_000  # same odd rows-per-ms structure as the frozen rate
    c = 1_000_123
    for lo, hi in [(c, c + 10), (c - 50, c + 3), (c + 7, c + 31), (c + 1000, c + 1013)]:
        assert ysb_live.scheduled_views(c, lo, hi, rate) == _brute(c, lo, hi, rate)


def test_frozen_rate_has_no_half_millisecond_rows():
    assert (ysb_live.OFFERED_ROWS_PER_S // 1000) % 2 == 1
    assert ysb_live.OFFERED_ROWS_PER_S % 1000 == 0


def _batch(start, trigger_ms, oldest, newest, rows=499_000):
    return {"timestamp": start, "numInputRows": rows,
            "durationMs": {"triggerExecution": trigger_ms},
            "eventTime": {"min": oldest, "max": newest}}


def test_latency_runs_from_the_newest_scheduled_event_to_the_batch_end():
    batches = [
        _batch("2026-01-01T00:00:01.300Z", 400, "2026-01-01T00:00:00.000Z",
               "2026-01-01T00:00:00.999Z"),
        _batch("2026-01-01T00:00:02.300Z", 500, "2026-01-01T00:00:01.000Z",
               "2026-01-01T00:00:01.999Z"),
    ]
    lat, trig, lag, rows = zip(*ysb_live.latency_samples(batches))
    assert [round(x) for x in lat] == [701, 801]
    assert [round(x) for x in lag] == [301, 301]
    assert trig == (400, 500) and rows == (499_000, 499_000)


def test_trigger_wait_is_the_phase_of_the_source_clock():
    first = {**_batch("2026-01-01T00:00:01.000Z", 400, "2026-01-01T00:00:00.250Z",
                      "2026-01-01T00:00:00.999Z"),
             "sources": [{"startOffset": None}]}
    # rows count seconds from C = x.250, triggers fire at whole seconds
    assert ysb_live.trigger_wait_ms([first]) == 750


def test_busy_time_sums_the_first_n_batches_in_the_stretch():
    t0 = 1767225600.0  # 2026-01-01T00:00:00Z
    ps = [
        _batch("2026-01-01T00:00:03.000Z", 350, None, None),
        _batch("2026-01-01T00:00:00.000Z", 900, None, None),  # before the stretch
        _batch("2026-01-01T00:00:01.000Z", 400, None, None),
        {**_batch("2026-01-01T00:00:02.000Z", 100, None, None, rows=0), "eventTime": {}},
    ]
    assert round(ysb_live.busy_s(ps, t0 + 0.5, t0 + 3.5, 2), 3) == 0.5
    assert round(ysb_live.busy_s(ps, t0 + 0.5, t0 + 3.5, 5), 3) == 0.85


def test_measured_batches_skip_empty_batches_and_the_warm_up():
    t0 = 1767225600.0  # 2026-01-01T00:00:00Z
    ps = [
        _batch("2026-01-01T00:00:00.500Z", 300, "2026-01-01T00:00:00.000Z",
               "2026-01-01T00:00:00.400Z"),
        {**_batch("2026-01-01T00:00:01.500Z", 300, None, None, rows=0), "eventTime": {}},
        _batch("2026-01-01T00:00:02.500Z", 300, "2026-01-01T00:00:01.000Z",
               "2026-01-01T00:00:01.999Z"),
    ]
    assert ysb_live.measured_batches(ps, t0 + 1, t0 + 3) == [ps[2]]
