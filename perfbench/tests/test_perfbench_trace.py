"""Self-test of the benchmark's trace parsing against recorded Spark output.

``data/eventlog_small.jsonl`` is a trimmed Spark 4.1 event log (job starts
and task ends only) of three local[2] jobs: one tagged
``operators.range_query``, one shuffle job tagged ``streaming.stateful``
and one untagged.  ``data/plan_bm25.txt`` is the formatted plan of
``gate.q_bm25_topk``.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import trace  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _task_sums(stage_ids: set[int]) -> tuple[float, float]:
    run = gc = 0.0
    with open(os.path.join(DATA, "eventlog_small.jsonl")) as f:
        for line in f:
            ev = json.loads(line)
            if ev["Event"] == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_ids:
                run += ev["Task Metrics"]["Executor Run Time"] / 1000.0
                gc += ev["Task Metrics"]["JVM GC Time"] / 1000.0
    return run, gc


def test_event_log_groups_stages_by_job_description():
    ev = trace.parse_event_log(os.path.join(DATA, "eventlog_small.jsonl"))
    # the untagged job is not attributed to any layer
    assert set(ev) == {"operators.range_query", "streaming.stateful", "sources.streams"}
    assert ev["operators.range_query"]["jobs"] == 1
    assert ev["streaming.stateful"]["jobs"] == 1
    # job 0 ran stages 0-1; job 1 ran scan stage 2 and shuffle stage 3
    for layer, stages in (
        ("operators.range_query", {0, 1}),
        ("sources.streams", {2}),
        ("streaming.stateful", {3}),
    ):
        run, gc = _task_sums(stages)
        assert ev[layer]["task_s"] == pytest.approx(run)
        assert ev[layer]["gc_s"] == pytest.approx(gc)
    # the shuffle job's map side writes exactly what its reduce side reads
    assert ev["sources.streams"]["shuffle_mb"] == pytest.approx(ev["streaming.stateful"]["shuffle_mb"])
    assert ev["sources.streams"]["shuffle_mb"] > 0


class _FakeContext:
    def __init__(self):
        self.desc = []

    def getLocalProperty(self, key):
        return self.desc[-1] if self.desc else None

    def setJobDescription(self, value):
        self.desc.append(value)


class _FakeSession:
    def __init__(self):
        self.sparkContext = _FakeContext()


def test_self_time_subtracts_direct_children():
    tr = trace.Tracer(_FakeSession())
    tr.spans = [
        {"name": "query.q", "parent": None, "start": 0.0, "end": 10.0},
        {"name": "operators.knn", "parent": 0, "start": 1.0, "end": 4.0},
        {"name": "operators.join", "parent": 0, "start": 5.0, "end": 9.0},
        {"name": "operators.knn", "parent": 2, "start": 6.0, "end": 7.0},
    ]
    st = tr.self_times()
    assert st["query.q"] == pytest.approx(3.0)
    assert st["operators.join"] == pytest.approx(3.0)
    assert st["operators.knn"] == pytest.approx(4.0)


def test_span_sets_and_restores_job_description():
    s = _FakeSession()
    tr = trace.Tracer(s)
    with tr.span("operators.text"):
        assert s.sparkContext.getLocalProperty("spark.job.description") == "operators.text"
        with tr.span("operators.dedup"):
            assert s.sparkContext.getLocalProperty("spark.job.description") == "operators.dedup"
        assert s.sparkContext.getLocalProperty("spark.job.description") == "operators.text"
    assert s.sparkContext.getLocalProperty("spark.job.description") is None
    assert [x["parent"] for x in tr.spans] == [None, 0]


def test_layer_metrics_cover_every_layer():
    tr = trace.Tracer(_FakeSession())
    tr.rows["operators.knn"] = 7
    out = trace.layer_metrics(tr, {"operators.knn": {"jobs": 2, "task_s": 1.5}})
    assert len(out) == len(trace.LAYERS) * len(trace.COUNTERS)
    assert out["operators.knn.rows_out"] == 7
    assert out["operators.knn.jobs"] == 2
    assert out["operators.text.task_s"] == 0


def test_plan_counts_from_formatted_plan():
    with open(os.path.join(DATA, "plan_bm25.txt")) as f:
        counts = trace.plan_counts(f.read())
    assert counts == {"exchanges": 6, "generates": 1, "scans": 4, "smj": 0, "shj": 0, "bhj": 2}


def test_plan_counts_read_codegen_marked_lines():
    plan = "== Physical Plan ==\n* HashAggregate (3)\n+- Exchange (2)\n   +- * SortMergeJoin Inner (1)\n\n(1) x\n"
    assert trace.plan_counts(plan) == {
        "exchanges": 1, "generates": 0, "scans": 0, "smj": 1, "shj": 0, "bhj": 0,
    }
