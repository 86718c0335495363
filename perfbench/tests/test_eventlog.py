"""Attribution of a small saved Spark 4.1 event log to benchmark spans."""

import os

import pytest

from perfbench import eventlog
from perfbench.eventlog import Span
from perfbench.run import op_layers

DATA = os.path.join(os.path.dirname(__file__), "data")

SPANS = [
    Span("pb1", "engine", 2.0, 4.1, None, 0, refine=True),
    Span("pb2", "drift.score", 3.65, 4.05, "pb1", 0),
    Span("pb3", "sources.violations_write", 4.9, 5.4, None, 1),
]


@pytest.fixture(scope="module")
def jobs():
    files = eventlog.find_event_files(DATA)
    assert [os.path.basename(f) for f in files] == ["events_1_local-1"]
    return eventlog.parse_jobs(eventlog.read_events(files))


def test_parse_reads_groups_call_sites_and_stage_metrics(jobs):
    assert [j.job_id for j in jobs] == [0, 1, 2, 3, 4, 5]
    j2 = jobs[2]
    assert j2.group == "pb1"
    assert j2.callsite.endswith("operators/uniqueness.py:88")
    assert (j2.start_ms, j2.end_ms) == (2700, 3400)
    assert j2.total("cpu_ns") == 300_000_000
    assert j2.total("shuffle_write_bytes") == 4000
    assert j2.total("spill_bytes") == 512


def test_refined_span_splits_jobs_by_call_site(jobs):
    tot = eventlog.attribute(jobs, SPANS, eventlog.descendants("pb1", SPANS))
    assert set(tot) == {"engine", "uniqueness", "drift.score"}
    eng = tot["engine"]
    # the engine.py collect plus the write without a call site
    assert eng.jobs == 2
    assert eng.wall_s == pytest.approx(0.9)
    assert eng.cpu_s == pytest.approx(0.5)
    assert eng.bytes_written == 2048
    uniq = tot["uniqueness"]
    assert uniq.jobs == 1 and uniq.cpu_s == pytest.approx(0.3)
    # reduce stage tasks ran 100, 50 and 400 ms: max/median = 4
    assert uniq.task_skew == pytest.approx(4.0)
    # a nested, unrefined span keeps its job whatever the call site says
    assert tot["drift.score"].jobs == 1


def test_unrefined_span_ignores_call_site(jobs):
    tot = eventlog.attribute(jobs, SPANS, ["pb3"])
    assert set(tot) == {"sources.violations_write"}
    assert tot["sources.violations_write"].records_read == 700


def test_self_time_and_interval_union():
    assert eventlog.self_time(SPANS[0], SPANS) == pytest.approx(2.1 - 0.4)
    assert eventlog.union_length([(0, 1), (0.5, 2), (3, 4)]) == 3
    assert eventlog.union_length([]) == 0


def test_callsite_layer():
    site = "collect at /x/data_contract_engine_spark/{}:12"
    assert eventlog.callsite_layer(site.format("sources/catalog.py")) == "catalog"
    assert eventlog.callsite_layer(site.format("sources/sinks.py")) == "sources"
    assert eventlog.callsite_layer(site.format("operators/drift.py")) == "drift"
    assert eventlog.callsite_layer("collect at /x/perfbench/workloads.py:3") is None
    assert eventlog.callsite_layer(None) is None


def test_engine_driver_time_is_call_wall_minus_job_union(jobs):
    m, layers = op_layers(0, SPANS, jobs, {"i": 0})
    # jobs 1-4 cover 0.6 + 0.9 + 0.3 s of the 2.1 s report span
    assert m["engine.jobs"] == 4
    assert m["engine.driver_s"] == pytest.approx(2.1 - 1.8)
    assert m["drift.score_s"] == pytest.approx(0.4)
    assert m["uniqueness.task_skew"] == pytest.approx(4.0)
    assert "sources.violations_write" not in layers
