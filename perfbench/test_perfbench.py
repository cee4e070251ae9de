"""Tests of the benchmark's own logic; no Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import host
from perfbench.checks import check_batch, check_stream
from perfbench.eventlog import PER_LAYER, layer_report, parse_event_log
from perfbench.run import DRIVER_WORKLOADS, END_TO_END, tail
from perfbench.trace import PROBE, ROOT, Counters, Span

HERE = os.path.dirname(os.path.abspath(__file__))


# -- event-log parser --------------------------------------------------------

def _canned():
    with open(os.path.join(HERE, "testdata", "eventlog.json")) as f:
        jobs = parse_event_log(f)
    spans = [
        Span(0, ROOT, ROOT, 10000.0, 12000.0),
        Span(1, "exact_stage", "exact", 10000.0, 10500.0, parent=0,
             rows_out=90),
        Span(2, PROBE, PROBE, 10500.0, 10800.0, parent=0),
        Span(3, "Warehouse.write", "warehouse", 11000.0, 11400.0, parent=0),
        Span(4, "Warehouse.record_lineage", "warehouse", 11300.0, 11400.0,
             parent=3),
    ]
    counters = Counters(docs_into_exact=100)
    return layer_report(jobs, spans, counters, cores=4, untraced_wall_s=1.5)


def test_parser_reads_jobs_and_task_metrics():
    with open(os.path.join(HERE, "testdata", "eventlog.json")) as f:
        jobs = {j.id: j for j in parse_event_log(f)}
    assert sorted(jobs) == [0, 1, 2, 3]
    j1 = jobs[1]
    assert (j1.submit, j1.tasks, j1.tasks_failed) == (10100.0, 2, 1)
    assert j1.busy_ms == 1000 and j1.cpu_ns == 5e8
    assert j1.shuffle_write_bytes == 1 << 20
    assert j1.input_rows == 1500
    # stage 2 ran in job 1; job 2 lists it only as a skipped parent
    assert jobs[2].tasks == 1
    # a killed task without metrics still counts as failed
    assert (jobs[3].tasks, jobs[3].tasks_failed, jobs[3].output_rows) == (2, 1, 7)


def test_jobs_go_to_the_innermost_span_and_probes_count_nowhere():
    r = _canned()
    assert r["exact.jobs"] == 1 and r["exact.tasks"] == 2
    assert r["exact.tasks_failed"] == 1
    assert r["exact.task_busy_s"] == pytest.approx(1.0)
    assert r["exact.task_cpu_s"] == pytest.approx(0.5)
    assert r["exact.shuffle_write_mb"] == pytest.approx(1.0)
    assert r["exact.input_rows"] == 1500
    assert r["exact.rows_out"] == 90
    assert r["exact.reps_per_doc"] == pytest.approx(0.9)
    # job 0 predates the op and job 2 is a probe's: neither is counted
    assert r["run.spark_jobs"] == 2
    assert r["warehouse.jobs"] == 1 and r["warehouse.rows_out"] == 7
    assert r["verify.jobs"] == 0 and r["stream_ingest.self_s"] == 0


def test_self_time_idle_cores_coverage_and_overhead():
    r = _canned()
    assert r["exact.self_s"] == pytest.approx(0.5)
    # 4 cores x 0.5 s minus 1.0 s of task time
    assert r["exact.idle_core_s"] == pytest.approx(1.0)
    # the nested record_lineage span is subtracted from write's self time
    assert r["warehouse.self_s"] == pytest.approx(0.4)
    assert r["run.wall_s"] == pytest.approx(2.0)
    assert r["run.tracing_overhead_s"] == pytest.approx(0.5)
    # 0.9 s of layer spans over the 2.0 s op minus 0.3 s of probes
    assert r["run.span_coverage"] == pytest.approx(0.9 / 1.7)


def test_report_emits_every_per_layer_metric():
    assert set(_canned()) == {name for name, _ in PER_LAYER}


# -- host annotation -----------------------------------------------------------

def test_steal_total_leaves_out_guest_time():
    # user nice system idle iowait irq softirq steal guest guest_nice
    total, steal = host.steal_split("cpu  100 10 50 800 20 0 5 15 30 7")
    assert (total, steal) == (1000, 15)
    assert host.steal_pct((1000, 15), (2000, 65)) == pytest.approx(5.0)
    assert host.steal_pct((1000, 15), (1000, 15)) == 0.0


def test_steal_split_handles_kernels_without_steal_field():
    assert host.steal_split("cpu  1 2 3 4") == (10, 0)


# -- output checks ---------------------------------------------------------------

REF = {"a": "a", "b": "a", "c": "c"}


def test_batch_check_accepts_reference_and_rejects_perturbed_labels():
    assert check_batch(dict(REF), REF) == []
    assert check_batch({**REF, "b": "b"}, REF)
    assert check_batch({"a": "a", "b": "a"}, REF)


def test_stream_check():
    ingested = set(REF)
    pairs = {("a", "b")}
    assert check_stream(dict(REF), ingested, pairs) == []
    assert check_stream({**REF, "b": "b"}, ingested, pairs)       # pair split
    assert check_stream({**REF, "a": "b", "b": "b"}, ingested, pairs)  # not min
    assert check_stream(dict(REF), ingested | {"d"}, pairs)         # unlabelled
    # pairs whose docs have not both arrived yet are not required
    assert check_stream({"a": "a"}, {"a"}, pairs) == []


# -- reporting -----------------------------------------------------------------

def test_tail_uses_highest_percentile_with_ten_samples_beyond():
    assert tail([float(i) for i in range(1, 21)]) == (10.0, 50.0)
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0)


def test_benchmark_json_matches_the_metrics_the_run_emits():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == DRIVER_WORKLOADS
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == PER_LAYER
