import os

import pytest

from tracing import (Span, Tracer, attribute_runs, fold_event_log,
                     fold_progress, layer_self_s, read_event_log, self_times)

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "events_1_small")
STREAM_RUN = "e51a8e37-f308-4a7a-9011-34add52d46ae"


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span("query", "query", "q", 0.0, 10.0),
        Span("build", "plans", "q", 1.0, 4.0, parent=0),
        Span("exec", "exec", "q", 3.0, 9.0, parent=0),   # overlaps build
        Span("job", "spark.job", "q", 5.0, 12.0, parent=2),  # runs past exec
    ]
    assert self_times(spans) == pytest.approx([2.0, 3.0, 2.0, 7.0])
    assert layer_self_s(spans) == pytest.approx(
        {"query": 2.0, "plans": 3.0, "exec": 2.0, "spark.job": 7.0})


def test_tracer_nests_spans_and_shares_the_trace_id():
    t = Tracer()
    with t.span("q1", "query", trace_id="q1"):
        with t.span("build", "plans"):
            pass
    assert [(s.name, s.trace_id, s.parent) for s in t.spans] == [
        ("q1", "q1", None), ("build", "q1", 0)]
    assert all(s.end >= s.start for s in t.spans)


def test_event_log_folds_into_exec_counters_per_owner():
    owners = {"q_batch": "q_batch", STREAM_RUN: "stream_query"}
    fold = fold_event_log(read_event_log(FIXTURE),
                          lambda group, t: owners.get(group))
    batch, stream = fold.totals["q_batch"], fold.totals["stream_query"]
    assert (batch["jobs"], batch["stages"], batch["task_ms"]) == (2, 2, 1405)
    assert batch["shuffle_write_bytes"] == batch["shuffle_read_bytes"] == 921
    assert (stream["jobs"], stream["stages"], stream["task_ms"]) == (4, 7, 3982)
    assert stream["shuffle_write_bytes"] == 794
    assert batch["cpu_ms"] > 0 and batch["deser_ms"] > 0
    assert len(fold.job_spans["stream_query"]) == 4
    # stream jobs carry their micro-batch in the job description
    assert all("runId = " + STREAM_RUN in d for *_, d in fold.job_spans["stream_query"])
    assert fold.skew and all(r >= 1.0 for r in fold.skew)


def test_event_log_owner_none_leaves_jobs_out():
    fold = fold_event_log(read_event_log(FIXTURE),
                          lambda group, t: "only" if group == "q_batch" else None)
    assert set(fold.totals) == {"only"}
    assert fold.totals["only"]["jobs"] == 2


def test_stream_runs_are_attributed_to_the_query_window_they_started_in():
    windows = [("a", 0.0, 10.0), ("b", 10.5, 20.0)]
    starts = {"run1": 3.0, "run2": 12.0, "run3": 10.2, "run4": 25.0}
    assert attribute_runs(starts, windows) == {"run1": "a", "run2": "b"}


def _progress(run, batch, rows, parts, state=None, sink_rows=0):
    return {"runId": run, "batchId": batch, "numInputRows": rows,
            "timestamp": "2026-01-01T00:00:00.000Z", "durationMs": parts,
            "stateOperators": state or [], "sink": {"numOutputRows": sink_rows}}


def test_progress_folds_batch_parts_and_keeps_the_last_state_size():
    p = [
        _progress("r", 0, 0, {"queryPlanning": 5, "addBatch": 10, "walCommit": 1,
                              "commitOffsets": 2, "latestOffset": 3, "getBatch": 4,
                              "triggerExecution": 25}),
        _progress("r", 1, 100, {"queryPlanning": 1, "addBatch": 30,
                                "triggerExecution": 31},
                  state=[{"numRowsTotal": 7, "memoryUsedBytes": 64, "commitTimeMs": 2,
                          "allUpdatesTimeMs": 3, "numRowsDroppedByWatermark": 1}],
                  sink_rows=4),
    ]
    m = fold_progress(p)
    assert m["streaming.batches"] == 2 and m["streaming.empty_batches"] == 1
    assert m["streaming.plan_ms"] == 6 and m["streaming.commit_ms"] == 3
    assert m["sources.read_ms"] == 7 and m["sources.input_rows"] == 100
    assert m["streaming.add_batch_ms"] == m["sinks.write_ms"] == 40
    assert (m["state.rows"], m["state.mem_bytes"], m["state.dropped_late_rows"]) == (7, 64, 1)
    assert m["sinks.rows_out"] == 4
    # with stage spans, the sink's share is addBatch minus time under stages
    base = 1767225600.0  # 2026-01-01T00:00:00Z
    m2 = fold_progress(p[1:], {"r": [(0, 0, base, base + 0.025)]})
    assert m2["sinks.write_ms"] == pytest.approx(5.0, abs=1e-3)
