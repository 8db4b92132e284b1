"""Unit tests for the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import Tracer  # noqa: E402
from statusstore import Execution, PlanNode, node_metric_total, parse_metric  # noqa: E402


@pytest.mark.parametrize(
    "text, want",
    [
        # timing with the per-task summary Spark prints for multi-task stages
        ("total (min, med, max (stageId: taskId))\n2.8 s (216 ms, 385 ms, 735 ms (stage 26.0: task 77))", 2.8),
        ("total (min, med, max (stageId: taskId))\n12.7 s (236 ms, 573 ms, 2.4 s (stage 26.0: task 77))", 12.7),
        ("0 ms", 0.0),
        ("735 ms", 0.735),
        ("1.5 m", 90.0),
        ("2.0 min", 120.0),
        ("0.50 h", 1800.0),
        # sizes
        ("total (min, med, max (stageId: taskId))\n21.7 KiB (176.0 B, 5.2 KiB, 5.3 KiB (stage 26.0: task 79))", 21.7 * 1024),
        ("16.1 MiB", 16.1 * 1024**2),
        ("0.0 B", 0.0),
        ("3.0 GiB", 3.0 * 1024**3),
        # sums and counts, with thousands separators
        ("2,628", 2628.0),
        ("1,234,567", 1234567.0),
        ("8", 8.0),
    ],
)
def test_parse_metric(text, want):
    assert parse_metric(text) == pytest.approx(want)


@pytest.mark.parametrize("text", ["12 parsecs", "fast", "1 2 3"])
def test_parse_metric_rejects_unknown_formats(text):
    with pytest.raises(ValueError):
        parse_metric(text)


def _node(name, metrics):
    return PlanNode(name=name, desc=name, metrics=metrics)


def test_node_metric_total_counts_each_accumulator_once():
    # a persisted subplan reappears, same accumulator, in a later execution
    cached = _node("ArrowEvalPython", {"number of output rows": (7, "3,000")})
    fresh = _node("ArrowEvalPython", {"number of output rows": (9, "200")})
    other = _node("Exchange", {"number of output rows": (11, "5")})
    execs = [
        Execution(1, "a", 1.0, [0], [0], [cached]),
        Execution(2, "b", 1.0, [1], [1], [cached, fresh, other]),
    ]
    total = node_metric_total(execs, lambda n: n.name == "ArrowEvalPython", "number of output rows")
    assert total == 3200.0


class _FakeContext:
    def __init__(self):
        self.descriptions = []

    def setJobDescription(self, value):
        self.descriptions.append(value)


class _FakeSpark:
    def __init__(self):
        self.sparkContext = _FakeContext()


def test_spans_tag_executions_and_compute_self_time():
    spark = _FakeSpark()
    tr = Tracer(spark, "run")
    with tr.span("job") as job:
        with tr.span("persons") as persons:
            pass
        with tr.span("match") as match:
            with tr.span("inner"):
                pass
    # each span's executions are tagged with that span; closing restores the parent
    assert spark.sparkContext.descriptions == [
        tr.tag(job), tr.tag(persons), tr.tag(job), tr.tag(match),
        "perfbench span run/3", tr.tag(match), tr.tag(job), None,
    ]
    assert tr.tags(job) == {tr.tag(s) for s in tr.spans}
    assert tr.tags(match) == {tr.tag(match), "perfbench span run/3"}
    kids = persons.duration_s + match.duration_s
    assert tr.self_s(job) == pytest.approx(job.duration_s - kids)
    assert [s.parent for s in tr.spans] == [None, 0, 0, 2]


def test_tags_do_not_collide_on_prefixes():
    tr = Tracer(_FakeSpark(), "run")
    for i in range(12):
        with tr.span(f"s{i}"):
            pass
    # span 1's tag is a prefix of span 10's and 11's: attribution is exact
    assert tr.tags(tr.spans[1]) == {"perfbench span run/1"}


def _workloads():
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.path.insert(0, root)
    import workloads

    return workloads


def test_pair_f1():
    w = _workloads()
    assert w.pair_f1({(1, 2), (3, 4)}, {(1, 2), (3, 4)}) == 1.0
    assert w.pair_f1(set(), set()) == 1.0
    assert w.pair_f1({(1, 2)}, {(3, 4)}) == 0.0
    # precision 1/2, recall 1/1
    assert w.pair_f1({(1, 2), (5, 6)}, {(1, 2)}) == pytest.approx(2 / 3)


def test_partition_f1():
    w = _workloads()
    same = {1: 1, 2: 1, 3: 3}
    assert w._partition_f1(same, {1: 10, 2: 10, 3: 30}) == 1.0  # labels may differ
    # {1,2,3} as one cluster vs {1,2},{3}: 1 of 3 pairs shared
    assert w._partition_f1({1: 1, 2: 1, 3: 1}, same) == pytest.approx(2 * (1 / 3) / (1 / 3 + 1))
    assert w._partition_f1({1: 1, 2: 2}, {1: 1, 2: 2}) == 1.0
    assert w._partition_f1({1: 1, 2: 2}, {1: 1, 3: 3}) == 0.0


def test_median_by_key_uses_the_true_median_for_even_counts():
    w = _workloads()
    runs = [{"x": 1.0}, {"x": 2.0}, {"x": 3.0}, {"x": 10.0}]
    assert w.median_by_key(runs) == {"x": 2.5}
