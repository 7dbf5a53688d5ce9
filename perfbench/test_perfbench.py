"""Tiny-size smoke tests of the benchmark's generators, checks and
ledger arithmetic. No Spark session is started.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import inputs, run, trace, workloads
from tests.febrl_fixture import make_people


def _shingles(text: str, k: int = 3) -> set:
    toks = text.split()
    return {" ".join(toks[i:i + k]) for i in range(max(len(toks) - k + 1, 1))}


def test_stream_split_is_disjoint_and_complete():
    rows = make_people(60, seed=1)
    base, batches = inputs.split_stream(rows, 3, 5, seed=1)
    assert [len(b) for b in batches] == [5, 5, 5]
    ids = [r[0] for r in base] + [r[0] for b in batches for r in b]
    assert sorted(ids) == sorted(r[0] for r in rows)
    assert (base, batches) == inputs.split_stream(rows, 3, 5, seed=1)
    with pytest.raises(ValueError):
        inputs.split_stream(rows, 10, 10, seed=1)


def test_documents_plant_the_stated_duplicates():
    rows, group = inputs.documents(200, 0.05, 0.10, seed=5)
    assert (rows, group) == inputs.documents(200, 0.05, 0.10, seed=5)
    assert [r[0] for r in rows] == list(range(200))
    assert all(len(r) == len(inputs.DOC_COLUMNS) for r in rows)
    copies = [d for d in range(200) if group[d] != d]
    assert len(copies) == 10 + 20
    texts = [r[1] for r in rows]
    exact = [d for d in copies if texts[d] == texts[group[d]]]
    assert len(exact) >= 10
    for d in copies:
        a, b = _shingles(texts[d]), _shingles(texts[group[d]])
        assert len(a & b) / len(a | b) >= 0.7
    originals = [d for d in range(200) if group[d] == d]
    a, b = _shingles(texts[originals[0]]), _shingles(texts[originals[1]])
    assert len(a & b) / len(a | b) < 0.1


def test_pairwise_f1():
    truth = {1: "a", 2: "a", 3: "b", 4: "b"}
    assert workloads.pairwise_f1({1: 1, 2: 1, 3: 3, 4: 3}, truth) == 1.0
    assert workloads.pairwise_f1({1: 1, 2: 2, 3: 3, 4: 4}, truth) == 0.0
    # predicted pairs 1-2, 1-3, 2-3 of which 1-2 is true: P = 1/3, R = 1/2
    assert workloads.pairwise_f1({1: 1, 2: 1, 3: 1, 4: 4}, truth) == pytest.approx(0.4)


def test_coverage_and_mismatch_checks():
    ok = [(1, 1), (2, 1), (3, 3)]
    assert workloads.coverage_problems(ok, {1, 2, 3}) == []
    assert workloads.coverage_problems(ok + [(3, 3)], {1, 2, 3})
    assert workloads.coverage_problems(ok, {1, 2, 3, 4})
    assert workloads.coverage_problems(ok, {1, 2})
    assert workloads.mismatch_problems({1: 1, 2: 1}, {1: 1, 2: 1}, "x") == []
    assert workloads.mismatch_problems({1: 1, 2: 1}, {1: 1, 2: 2}, "x")
    assert workloads.mismatch_problems({1: 1}, {1: 1, 2: 2}, "x")


def test_dropped_f1():
    group = [0, 0, 0, 3, 4]  # docs 1 and 2 copy doc 0
    assert workloads.dropped_f1({0, 3, 4}, group) == 1.0
    assert workloads.dropped_f1({2, 3, 4}, group) == 1.0  # any one copy may stay
    assert workloads.dropped_f1({0, 1, 2, 3, 4}, group) == 0.0
    # dropping the whole group: 2 of 3 drops right, both due drops made
    assert workloads.dropped_f1({3, 4}, group) == pytest.approx(0.8)


class _FakeContext:
    def __init__(self):
        self.props = {}

    def setLocalProperty(self, key, value):
        self.props[key] = value


class _FakeSpark:
    def __init__(self):
        self.sparkContext = _FakeContext()


def test_span_self_times_add_up():
    tracer = trace.Tracer(_FakeSpark())
    tracer.enter(trace.ROOT)
    tracer.enter("outer")
    tracer.enter("inner")
    assert tracer.sc.props["spark.jobGroup.id"] == "inner"
    tracer.exit()
    assert tracer.sc.props["spark.jobGroup.id"] == "outer"
    tracer.exit()
    tracer.exit()
    assert tracer.sc.props["spark.jobGroup.id"] is None
    assert set(tracer.self_s) == {trace.ROOT, "outer", "inner"}
    assert all(v >= 0 for v in tracer.self_s.values())


def test_event_log_ledger(tmp_path):
    app = "app-1"
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Properties": {"spark.jobGroup.id": "s"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.jobGroup.id": "s"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 1},
         "Properties": {"spark.jobGroup.id": "s"}},
    ]
    for ms, reason in ((100, "Success"), (100, "Success"), (400, "ExceptionFailure")):
        events.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": 0,
            "Task End Reason": {"Reason": reason},
            "Task Metrics": {
                "Executor Run Time": ms,
                "Shuffle Read Metrics": {"Local Bytes Read": 2**20},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**20},
                "Disk Bytes Spilled": 2**20,
            },
        })
    (tmp_path / app).write_text("\n".join(json.dumps(e) for e in events) + "\n")
    groups, totals = trace.read_event_log(str(tmp_path), app)
    assert groups["s"] == {
        "jobs": 1, "tasks": 3, "task_s": 0.6, "shuffle_mb": 6.0,
        "skew": 4.0, "failed_tasks": 2,
    }
    assert totals == {"spill_mb": 3.0}


def test_benchmark_json_names_every_metric():
    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "BENCHMARK.json")
    with open(path) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["unit"] for m in spec["end_to_end"]] == list(run.END_TO_END.values())
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == trace.metric_specs()
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(workloads.WORKLOADS)
