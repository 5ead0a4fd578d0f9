"""Unit tests for the event-log attribution and the benchmark's metric list.

    python3 -m pytest perfbench/
"""

import json
import os

import pytest

import eventlog
import run


def _job(jid, t0, t1, layer, stages):
    props = {"spark.job.description": eventlog.job_description("wl", layer)} if layer else {}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t0,
         "Stage IDs": stages, "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t1,
         "Job Result": {"Result": "JobSucceeded"}},
    ]


def _stage(sid, layer):
    props = {"spark.job.description": eventlog.job_description("wl", layer)} if layer else {}
    return {"Event": "SparkListenerStageSubmitted",
            "Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0}, "Properties": props}


def _task(sid, cpu_ns, gc_ms, shuffle, out, reason="Success"):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Stage Attempt ID": 0,
            "Task End Reason": {"Reason": reason}, "Task Info": {"Failed": reason != "Success"},
            "Task Metrics": {"Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
                             "Executor Deserialize Time": 5,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                             "Output Metrics": {"Bytes Written": out}}}


@pytest.fixture
def log_path(tmp_path):
    # span "pagerank" covers [100 s, 110 s] (times in the log are epoch ms).
    # Jobs 0 and 1 overlap (101-104 and 103-106), job 2 runs 108-112 and is
    # clipped at the span's end: in-job time = 5 + 2 = 7 s, gap = 3 s.
    events = [{"Event": "SparkListenerApplicationStart", "Timestamp": 99_000}]
    events += _job(0, 101_000, 104_000, "pagerank", [0])
    events += [_stage(0, "pagerank"), _task(0, 2e9, 100, 1_000_000, 0),
               _task(0, 1e9, 0, 500_000, 0, reason="ExceptionFailure")]
    events += _job(1, 103_000, 106_000, "pagerank", [1])
    events += [_stage(1, "pagerank"), _task(1, 1e9, 50, 0, 2_000_000)]
    events += _job(2, 108_000, 112_000, "pagerank", [2])
    events += [_stage(2, "pagerank")]
    # an untagged job (outside any traced span) is ignored
    events += _job(3, 101_500, 102_000, None, [3])
    events += [_stage(3, None), _task(3, 9e9, 0, 0, 0)]
    path = tmp_path / "app-1"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return str(path)


def test_aggregate_attributes_jobs_stages_tasks(log_path):
    stats = eventlog.aggregate(eventlog.read_events(log_path))
    assert set(stats) == {"pagerank"}
    s = stats["pagerank"]
    assert (s.jobs, s.stages, s.tasks, s.task_failures) == (3, 3, 3, 1)
    assert s.task_cpu_s == pytest.approx(4.0)
    assert s.gc_s == pytest.approx(0.15)
    assert s.shuffle_write_bytes == 1_500_000
    assert s.output_bytes == 2_000_000


def test_driver_gap_is_span_minus_union_of_job_intervals(log_path):
    stats = eventlog.aggregate(eventlog.read_events(log_path))
    m = eventlog.layer_metrics("pagerank", stats["pagerank"], [(100.0, 110.0)], cores=4)
    assert m["pagerank.wall_s"] == pytest.approx(10.0)
    assert m["pagerank.driver_gap_s"] == pytest.approx(3.0)
    assert m["pagerank.cpu_util"] == pytest.approx(4.0 / 40.0)
    assert m["pagerank.shuffle_write_mb"] == pytest.approx(1.5)


def test_covered_length_over_several_windows():
    jobs = [(0.0, 2.0), (1.0, 3.0), (5.0, 9.0)]
    assert eventlog.covered_length(jobs, [(0.0, 10.0)]) == pytest.approx(7.0)
    # two spans of the same layer: [1, 2] and [6, 7]
    assert eventlog.covered_length(jobs, [(1.0, 2.0), (6.0, 7.0)]) == pytest.approx(2.0)
    assert eventlog.covered_length([], [(0.0, 1.0)]) == 0.0


def test_untouched_layer_reports_zeros():
    m = eventlog.layer_metrics("labelprop", None, [], cores=4)
    assert set(m) == {f"labelprop.{f}" for f in eventlog.LAYER_FIELDS}
    assert all(v == 0 for v in m.values())


def test_tracer_nests_spans_and_tags_jobs():
    class FakeContext:
        def __init__(self):
            self.tags = []

        def setJobGroup(self, group, desc):
            self.tags.append(desc)

        def setJobDescription(self, desc):
            self.tags.append(desc)

    sc = FakeContext()
    t = eventlog.Tracer("wl", sc)
    with t.span("pass"):
        with t.span("pagerank"):
            pass
    assert [s["parent"] for s in t.spans] == [None, 0]
    assert [eventlog.layer_of(d) for d in sc.tags] == ["pass", "pagerank", "pass", None]
    assert len(t.windows("pagerank")) == 1


def test_benchmark_json_lists_the_metrics_run_py_prints():
    path = os.path.join(os.path.dirname(run.__file__), "..", "BENCHMARK.json")
    spec = json.load(open(path))
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
