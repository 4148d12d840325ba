import pytest

from registry import Execution, query_medians


def test_query_medians_leave_failed_executions_out():
    runs = [
        Execution("a", build_s=0.1, exec_s=0.2),
        Execution("a", build_s=0.3, exec_s=0.4),
        Execution("a", exec_s=9.0, error="boom"),
        Execution("b", build_s=1.0),
        Execution("c", error="boom"),
    ]
    assert query_medians(runs) == pytest.approx({"a": 0.5, "b": 1.0})
