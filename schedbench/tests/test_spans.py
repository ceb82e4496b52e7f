"""Self-time arithmetic of the trace reader on hand-built span trees.

Run from the checkout root: ``python3 -m pytest schedbench/tests -q``.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import COUNT_LAYER, Span, Tracer, _union_length, layer_table, self_times  # noqa: E402


def _span(i, layer, parent, start, end):
    return Span(id=i, name=f"s{i}", layer=layer, parent=parent, run_id="t", start=start, end=end)


def test_union_length_merges_overlaps_and_clips():
    assert _union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert _union_length([(1, 3), (2, 5)], 2.5, 4) == 1.5
    assert _union_length([], 0, 10) == 0
    assert _union_length([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_children_once():
    # root [0, 10]: pipeline [1, 7] holding sinks [2, 4] and an
    # overlapping sinks [3, 5]; kcache [8, 9.5] directly under root
    spans = [
        _span(0, "bench", None, 0.0, 10.0),
        _span(1, "pipeline", 0, 1.0, 7.0),
        _span(2, "sinks", 1, 2.0, 4.0),
        _span(3, "sinks", 1, 3.0, 5.0),
        _span(4, "kcache", 0, 8.0, 9.5),
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10 - (6 + 1.5))
    assert own[1] == pytest.approx(6 - 3)  # children cover [2, 5]
    assert own[2] == pytest.approx(2) and own[3] == pytest.approx(2)
    assert own[4] == pytest.approx(1.5)


def test_layer_table_partitions_root_wall():
    spans = [
        _span(0, "bench", None, 0.0, 10.0),
        _span(1, "pipeline", 0, 1.0, 7.0),
        _span(2, "sinks", 1, 2.0, 4.0),
        _span(3, "kcache", 0, 8.0, 9.5),
        _span(4, "bench", None, 20.0, 22.0),
        _span(5, "sinks", 4, 20.5, 21.0),
    ]
    t = layer_table(spans)
    assert t["wall_s"] == pytest.approx(12.0)
    assert t["layers"] == pytest.approx({"pipeline": 4.0, "sinks": 2.5, "kcache": 1.5})
    assert t["uncovered_s"] == pytest.approx(2.5 + 1.5)
    assert t["uncovered_s"] + sum(t["layers"].values()) == pytest.approx(t["wall_s"])


class _FakeContext:
    """The two SparkContext calls the tracer makes."""

    def __init__(self):
        self.props = {}

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        self.props[key] = value

    def setJobGroup(self, group, description):
        self.props["spark.jobGroup.id"] = group


class _FakeSession:
    sparkContext = _FakeContext()


def test_counting_runs_after_the_engine_span_in_its_own_span():
    class Engine:
        @staticmethod
        def call(n):
            return n + 1

    tr = Tracer(_FakeSession(), "t")
    seen = []
    tr.wrap(Engine, "call", "kcache", after=lambda out, a, k: seen.append(
        (out, tr._stack[-1].layer, tr.sc.getLocalProperty("spark.jobGroup.id"))))
    root = tr.begin("pass", "bench")
    assert Engine.call(1) == 2
    tr.end(root)
    tr.uninstall()
    engine, count = tr.spans[1], tr.spans[2]
    assert (engine.layer, engine.parent) == ("kcache", root.id)
    # the count span is the engine span's sibling, starts after it ended
    # and has its own job group
    assert (count.layer, count.parent) == (COUNT_LAYER, root.id)
    assert count.start >= engine.end
    assert seen == [(2, COUNT_LAYER, count.group)] and count.group != engine.group
    assert tr.sc.getLocalProperty("spark.jobGroup.id") is None
