import json
import types
from pathlib import Path

import pytest

from perfbench import spans

DATA = Path(__file__).parent / "data"


class FakeContext:
    """Records the job-group calls a Tracer makes."""

    def __init__(self):
        self.calls = []

    def setJobGroup(self, group, description):
        self.calls.append(("set", group))

    def setLocalProperty(self, key, value):
        self.calls.append(("prop", key, value))


def test_spans_nest_and_set_job_groups(tmp_path):
    sc = FakeContext()
    t = spans.Tracer("run-1", sc)
    with t.span("outer") as outer:
        with t.span("inner", k=1) as inner:
            pass
    assert inner.parent == outer.id and outer.parent is None
    assert inner.run_id == outer.run_id == "run-1"
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert [s.name for s in t.descendants(outer)] == ["outer", "inner"]
    # the inner span's group is replaced by the outer one's on exit, then cleared
    assert sc.calls[:3] == [("set", outer.id), ("set", inner.id), ("set", outer.id)]
    assert sc.calls[3][:2] == ("prop", spans.GROUP_PROPERTY)

    path = tmp_path / "trace.json"
    t.dump(str(path), extra={"env": {"nproc": 4}})
    doc = json.loads(path.read_text())
    assert [s["name"] for s in doc["spans"]] == ["outer", "inner"]
    assert doc["spans"][1]["attrs"] == {"k": 1} and doc["env"] == {"nproc": 4}


def test_wrap_records_a_span_per_call_and_unwraps():
    mod = types.SimpleNamespace(f=lambda x: x + 1)
    original = mod.f
    t = spans.Tracer("run-2")
    assert t.wrap(mod, "f", "layer.f")
    assert not t.wrap(mod, "missing", "layer.g")
    assert mod.f(1) == 2 and mod.f(2) == 3
    assert len(t.named("layer.f")) == 2
    t.unwrap_all()
    assert mod.f is original


def test_span_closes_when_the_call_raises():
    t = spans.Tracer("run-3")
    with pytest.raises(RuntimeError):
        with t.span("boom"):
            raise RuntimeError
    assert t.named("boom")[0].end is not None


def _load():
    return spans.read_event_log(str(DATA / "eventlog_small.jsonl"))


def test_event_log_counters_by_job_group():
    ev = _load()
    # recorded from: group "g.count" -> spark.range(1000, numPartitions=4).count();
    # group "g.shuffle" -> a 4-partition groupBy/count collected with AQE off
    # and 3 shuffle partitions; jobs outside any group -> None
    count, shuffle = ev.groups["g.count"], ev.groups["g.shuffle"]
    assert count.jobs == 1 and count.stages == 2
    assert shuffle.jobs == 1 and shuffle.stages == 2 and shuffle.tasks == 4 + 3
    assert shuffle.shuffle_write_mb > 0
    assert shuffle.shuffle_read_mb == pytest.approx(shuffle.shuffle_write_mb)
    assert count.shuffle_write_mb > 0 and count.spill_mb == 0
    assert shuffle.executor_run_s >= 0 and shuffle.executor_cpu_s > 0
    both = ev.total({"g.count", "g.shuffle"})
    assert both.tasks == count.tasks + shuffle.tasks and both.jobs == 2


def test_task_skew_uses_the_widest_stage():
    ev = _load()
    shuffle_stages = [s for s in ev.stages.values() if s.group == "g.shuffle"]
    widest = max(shuffle_stages, key=lambda s: len(s.durations_ms))
    assert len(widest.durations_ms) == 4
    skew = ev.task_skew({"g.shuffle"})
    assert skew >= 1.0
    assert ev.task_skew({"no such group"}) == 0.0


def test_parse_ignores_blank_lines_and_other_events():
    lines = [
        '{"Event":"SparkListenerLogStart","Spark Version":"4.1.2"}', "",
        '{"Event":"SparkListenerJobStart","Job ID":0,"Stage IDs":[0],'
        '"Properties":{"spark.jobGroup.id":"g"}}',
        '{"Event":"SparkListenerTaskEnd","Stage ID":0,"Task Info":{"Launch Time":10,'
        '"Finish Time":30},"Task Metrics":{"Executor Run Time":20,'
        '"Executor CPU Time":5000000,"JVM GC Time":1,"Disk Bytes Spilled":2000000,'
        '"Shuffle Write Metrics":{"Shuffle Bytes Written":1000000},'
        '"Shuffle Read Metrics":{"Remote Bytes Read":0,"Local Bytes Read":0}}}',
    ]
    g = spans.parse_event_log(lines).groups["g"]
    assert (g.jobs, g.stages, g.tasks) == (1, 1, 1)
    assert g.executor_run_s == pytest.approx(0.02)
    assert g.executor_cpu_s == pytest.approx(0.005)
    assert g.gc_s == pytest.approx(0.001)
    assert g.spill_mb == pytest.approx(2.0) and g.shuffle_write_mb == pytest.approx(1.0)
