"""The event-log reducer on a small recorded log.

``data/eventlog_small.jsonl`` is a Spark event log trimmed to the fields the
reducer reads. It was recorded on a ``local[2]`` session with three spans
under one parent: ``scan`` (a parquet group-by, 3 jobs), ``write`` (a
parquet write, 2 jobs of which 1 writes) and ``py`` (a pandas UDF, 1 job),
plus one job outside any span. ``data/spans_small.json`` holds the spans.
"""

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import tracing  # noqa: E402


@pytest.fixture(scope="module")
def recorded():
    with open(os.path.join(HERE, "data", "eventlog_small.jsonl")) as fh:
        totals = tracing.reduce_log(fh)
    with open(os.path.join(HERE, "data", "spans_small.json")) as fh:
        spans = json.load(fh)
    return spans, totals


def test_jobs_stages_and_tasks_land_on_their_span(recorded):
    _spans, totals = recorded
    assert sorted(totals) == [1, 2, 3]  # the job outside any span is dropped
    assert (totals[1]["jobs"], totals[1]["stages"], totals[1]["tasks"]) == (3, 3, 3)
    assert (totals[2]["jobs"], totals[2]["stages"], totals[2]["tasks"]) == (2, 2, 2)
    assert (totals[3]["jobs"], totals[3]["stages"], totals[3]["tasks"]) == (1, 1, 2)


def test_task_counters(recorded):
    _spans, totals = recorded
    assert totals[1]["shuffle_write_bytes"] == totals[1]["shuffle_read_bytes"] == 158
    assert totals[1]["input_records"] == 15_000
    assert totals[2]["write_jobs"] == 1 and "write_jobs" not in totals[1]
    assert totals[2]["output_records"] == 1_500 and totals[2]["output_bytes"] == 25_539
    assert totals[3]["python_bytes"] == 16_704
    assert totals[1]["executor_run_s"] == pytest.approx(1.065)


def test_rollup_sums_subtrees_and_self_time(recorded):
    spans, totals = recorded
    rows = {r["name"]: r for r in tracing.rollup(spans, totals)}
    outer = rows["outer"]
    assert outer["jobs"] == 6 and outer["tasks"] == 7 and outer["write_jobs"] == 1
    child = sum(rows[n]["s"] for n in ("scan", "write", "py"))
    assert outer["self_s"] == pytest.approx(outer["s"] - child)
    assert rows["scan"]["self_s"] == pytest.approx(rows["scan"]["s"])


class _FakeContext:
    def __init__(self):
        self.props = {}

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        self.props[key] = value


def test_span_sets_and_restores_the_job_group():
    sc = _FakeContext()
    tr = tracing.Tracer(sc, "w")
    with tr.span("a", "r") as a:
        assert sc.props[tracing.GROUP_KEY] == f"w:a#{a}"
        with tr.span("b") as b:
            assert sc.props[tracing.GROUP_KEY] == f"w:b#{b}"
        assert sc.props[tracing.GROUP_KEY] == f"w:a#{a}"
    assert sc.props[tracing.GROUP_KEY] is None
    assert tr.spans[b]["parent"] == a and tr.spans[a]["request_id"] == "r"


def test_patch_wraps_and_unpatch_restores():
    class Thing:
        def op(self, table):
            return table.upper()

        @staticmethod
        def plan(x):
            return x + 1

    tr = tracing.Tracer(_FakeContext(), "w")
    undo = tracing.patch(tr, [(Thing, "op", "thing.op", 1), (Thing, "plan", "thing.plan", 0)])
    assert Thing().op("t") == "T" and Thing.plan(1) == 2
    assert [(s["name"], s["request_id"]) for s in tr.spans] == [("thing.op", "t"), ("thing.plan", 1)]
    tracing.unpatch(undo)
    Thing().op("u")
    assert len(tr.spans) == 2
