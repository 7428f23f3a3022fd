"""Unit tests for the benchmark's metric parsing and trace arithmetic.

    python3 -m pytest perfbench/tests -q

No Spark session: the inputs are the strings and plan shapes the SQL
status store produces.
"""

import pytest

from perfbench.run import Run, trace_overhead
from perfbench.sparkstore import Execution, Node, parse_metric
from perfbench.tracing import Span, Tracer


@pytest.mark.parametrize("text, value", [
    ("19,848", 19848.0),
    ("0", 0.0),
    ("1.2", 1.2),
    ("38 ms", 0.038),
    ("0 ms", 0.0),
    ("31.0 s", 31.0),
    ("1.3 m", 78.0),
    ("2.00 h", 7200.0),
    ("3.9 MiB", 3.9 * 2**20),
    ("296.3 KiB", 296.3 * 1024),
    ("228.0 B", 228.0),
    ("1.5 GiB", 1.5 * 2**30),
    ("total (min, med, max (stageId: taskId))\n31.0 s (7.7 s, 7.8 s, "
     "7.9 s (stage 3.0: task 12))", 31.0),
    ("total (min, med, max (stageId: taskId))\n1152.0 B (288.0 B, 288.0 B, "
     "288.0 B (stage 49.0: task 151))", 1152.0),
    ("total (min, med, max (stageId: taskId))\n4 ms (0 ms, 1 ms, 1 ms "
     "(stage 49.0: task 152))", 0.004),
])
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


@pytest.mark.parametrize("text", ["", "fast", "12 parsecs"])
def test_parse_metric_rejects(text):
    with pytest.raises(ValueError):
        parse_metric(text)


def _exec(nodes, edges):
    parents = {}
    for child, parent in edges:
        parents.setdefault(child, []).append(parent)
        parents.setdefault(parent, [])
    return Execution(0, "", 0, 1000, nodes, parents)


def test_rows_entering_stops_at_first_operator():
    # scan(40k) → ColumnarToRow(40k) → Filter(20k) → ArrowEvalPython(20k)
    # → Filter(bucket, 1.2k) → write: 20k rows enter the pipeline
    rows = "number of output rows"
    e = _exec([
        Node(5, "Scan parquet ", "", {rows: 40000}),
        Node(4, "ColumnarToRow", "", {rows: 40000}),
        Node(3, "Filter", "", {rows: 20000}),
        Node(2, "ArrowEvalPython", "", {rows: 20000}),
        Node(1, "Filter", "", {rows: 1200}),
        Node(0, "Execute InsertIntoHadoopFsRelationCommand", "", {}),
    ], [(5, 4), (4, 3), (3, 2), (2, 1), (1, 0)])
    assert e.rows_entering() == 20000


def test_rows_entering_takes_widest_leaf_of_a_self_join():
    rows = "number of output rows"
    e = _exec([
        Node(4, "Scan ExistingRDD", "", {rows: 900}),
        Node(3, "Scan ExistingRDD", "", {rows: 900}),
        Node(2, "Project", "", {}),
        Node(1, "SortMergeJoin", "", {rows: 900}),
        Node(0, "WholeStageCodegen (1)", "", {"duration": 1.0}),
    ], [(4, 2), (2, 1), (3, 1)])
    assert e.rows_entering() == 900


def test_self_time_subtracts_children():
    t = Tracer()
    t.spans = [
        Span(0, "job", "jobs", 0.0, 10.0, None),
        Span(1, "write", "plans.checkpoint", 1.0, 9.0, 0),
        Span(2, "exec 1 data_write", "plans.checkpoint", 2.0, 5.0, 1, 1),
        Span(3, "exec 2 audit_write", "plans.audit", 6.0, 8.0, 1, 2),
    ]
    self_s = t.self_times()
    assert self_s["jobs"] == pytest.approx(2.0)
    assert self_s["plans.checkpoint"] == pytest.approx(3.0 + 3.0)
    assert self_s["plans.audit"] == pytest.approx(2.0)
    assert sum(self_s.values()) == pytest.approx(10.0)


def test_trace_overhead_cancels_a_linear_warming_trend():
    # untraced 12, traced 11 (+10 % on a trend 12 → 10 → 8), untraced 8
    runs = [Run(False, 12.0), Run(True, 11.0), Run(False, 8.0)]
    assert trace_overhead(runs) == pytest.approx(0.1)
    runs += [Run(True, 7.0, failures=["raised"]), Run(False, 6.0)]
    assert trace_overhead(runs) == pytest.approx(0.1)  # failed runs skipped
    assert trace_overhead(runs[:2]) == 0.0  # no untraced run after it
