"""The per-layer record: self time, job attribution and driver time."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import tracing  # noqa: E402


def _span(i, name, start, end, parent=None, batch="b1", py4j=0, listed=0):
    return {"id": i, "name": name, "batch": batch, "parent": parent, "start": start,
            "end": end, "py4j_calls": py4j, "py4j_s": 0.0, "listed": listed}


def _job(submit, complete, output_bytes=0):
    job = {k: 0 for k in ("stages", "tasks", "executor_cpu_s", "executor_run_s", "gc_s",
                          "shuffle_bytes", "input_bytes", "output_bytes", "output_rows",
                          "spill_bytes")}
    job.update(submit=submit, complete=complete, output_bytes=output_bytes)
    return job


SPANS = [
    _span(0, "streaming.run_once", 0.0, 10.0, py4j=100, listed=7),
    _span(1, "sources.changes", 1.0, 3.0, parent=0, py4j=80, listed=7),
    _span(2, "sinks.apply", 4.0, 8.0, parent=0, py4j=15),
    _span(3, "sinks.target.merge", 4.5, 7.5, parent=2),
    _span(4, "streaming.watermark", 9.0, 9.5, parent=0),
    _span(5, "streaming.run_once", 20.0, 21.0, batch="b2"),
]
JOBS = [
    _job(2.0, 2.5),  # in the source span
    _job(3.5, 3.9),  # between source and sink: the runner's own job
    _job(5.0, 6.0, output_bytes=100),
    _job(5.5, 7.0, output_bytes=50),
]


def test_union_seconds_merges_overlaps():
    assert tracing.union_seconds([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing.union_seconds([]) == 0


def test_batch_layers_attributes_jobs_and_self_time():
    layers = tracing.batch_layers(SPANS, JOBS, "b1")
    assert layers["spark.jobs"] == 4
    assert layers["sinks.jobs"] == 2
    assert layers["sinks.bytes_written"] == 150
    assert layers["streaming.extra_jobs"] == 1
    # run_once minus its children: 10 - (2 + 4 + 0.5)
    assert layers["streaming.self_s"] == 3.5
    # wall minus the union of the job spans: 10 - (0.5 + 0.4 + 2.0)
    assert abs(layers["driver.s"] - 7.1) < 1e-9
    assert layers["sources.py4j_calls"] == 80
    assert layers["py4j.calls"] == 100
    assert layers["sources.listed"] == 7
    assert layers["sinks.apply_s"] == 4.0


def test_every_layer_metric_has_a_value():
    batch = {"id": "b1", "cpu": {"jvm": 1.0, "python": 0.5, "jit": 0.2}, "input_bytes": 50}
    record = tracing.layer_record(SPANS, {"b1": JOBS}, [batch], "bulk")
    record["trace.overhead_s"] = record["trace.merge_gauge_gap_s"] = 0.0
    assert set(record) == set(tracing.LAYER_UNITS)
    assert record["sinks.write_amplification"] == 3.0
