"""Tests of the benchmark's own helpers; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import measure  # noqa: E402
import spans  # noqa: E402


# -- tail percentile ---------------------------------------------------------


def test_tail_leaves_ten_samples_beyond():
    values = [float(i) for i in range(100)]
    value, pct = measure.tail(values)
    assert value == 89.0 and pct == 90.0
    assert sum(v > value for v in values) == 10


def test_tail_eleven_samples_is_the_smallest():
    assert measure.tail([float(i) for i in range(11, 0, -1)]) == (1.0, 100 / 11)


def test_tail_with_too_few_samples_is_the_maximum():
    assert measure.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    with pytest.raises(ValueError):
        measure.tail([])


# -- self time ---------------------------------------------------------------


def _span(sid, start, end, parent=None, name="x"):
    return {"id": sid, "name": name, "start": start, "end": end, "parent": parent}


def test_self_time_nested():
    s = [_span("a", 0, 10), _span("b", 2, 5, "a"), _span("c", 3, 4, "b")]
    assert spans.self_times(s) == {"a": 7, "b": 2, "c": 1}


def test_self_time_overlapping_children_count_once():
    s = [_span("a", 0, 10), _span("b", 1, 4, "a"), _span("c", 3, 6, "a"), _span("d", 8, 9, "a")]
    assert spans.self_times(s)["a"] == 10 - 5 - 1


def test_self_time_clips_children_to_parent():
    s = [_span("a", 0, 10), _span("b", 8, 12, "a")]
    assert spans.self_times(s)["a"] == 8


# -- event log attribution ---------------------------------------------------


def _events():
    """A canned uncompressed event log: job 0 carries the writer span's
    job group; job 1 comes from a pool thread (no group) inside the
    writer span; job 2 runs after every span."""

    def job(jid, t, stages, group=None):
        props = {"spark.jobGroup.id": group} if group else {}
        return [
            {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t,
             "Stage IDs": stages, "Properties": props},
            {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t + 1000},
        ]

    def stage(sid, t):
        return {"Event": "SparkListenerStageSubmitted",
                "Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0, "Submission Time": t}}

    def task(sid, launch, run_ms, failed=False):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Stage Attempt ID": 0,
                "Task Info": {"Launch Time": launch, "Finish Time": launch + run_ms,
                              "Failed": failed,
                              "Accumulables": [{"Name": "time to run Python workers", "Update": "250"}]},
                "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
                                 "JVM GC Time": 5,
                                 "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": 4},
                                 "Input Metrics": {"Bytes Read": 8, "Records Read": 3},
                                 "Output Metrics": {"Bytes Written": 16}}}

    evs = job(0, 101_000, [0], group="span-2") + [stage(0, 101_000), task(0, 101_100, 500)]
    evs += job(1, 105_000, [1]) + [stage(1, 105_000), task(1, 105_200, 300, failed=True)]
    evs += job(2, 200_000, [2]) + [stage(2, 200_000), task(2, 200_000, 100)]
    return [json.dumps(e) for e in evs]


SPANS = [
    {"id": "span-1", "name": "op.batch", "start": 100.0, "end": 110.0, "parent": None},
    {"id": "span-2", "name": "writers.save_tables_concurrent", "start": 100.5,
     "end": 109.0, "parent": "span-1"},
]


def test_jobs_attribute_by_group_then_time_containment():
    log = spans.parse_event_log(_events())
    assert spans.attribute_jobs(SPANS, log["jobs"]) == {0: "span-2", 1: "span-2", 2: None}


def test_span_counters_roll_up_to_ancestors():
    log = spans.parse_event_log(_events())
    c = spans.span_counters(SPANS, log, cores=4)
    w, op = c["span-2"], c["span-1"]
    assert (w["jobs"], w["stages"], w["tasks"], w["failed_tasks"]) == (2, 2, 2, 1)
    assert (op["jobs"], op["tasks"]) == (2, 2)
    assert w["executor_run_s"] == pytest.approx(0.8)
    assert w["executor_cpu_s"] == pytest.approx(0.8)
    assert w["task_wait_s"] == pytest.approx(0.3)
    assert w["python_worker_s"] == pytest.approx(0.5)
    assert (w["shuffle_read_bytes"], w["output_bytes"]) == (6, 32)
    # jobs cover 101-102 and 105-106 of the writer's 100.5-109
    assert w["driver_gap_s"] == pytest.approx(8.5 - 2)
    assert w["core_busy_frac"] == pytest.approx(0.8 / (8.5 * 4))
    per = spans.per_name(SPANS, c, cores=4)
    assert per["op.batch"]["calls"] == 1 and per["op.batch"]["jobs"] == 2


# -- generator determinism ---------------------------------------------------


def _write_all(seed, out):
    tables = gen.tpch_tables(seed, 0.001)
    gen.write_tables(tables, out)
    gen.write_tables({"documents": gen.documents(seed, 300)}, out)
    gen.write_raw_zone(gen.yelp_raw_zone(tables), os.path.join(out, "raw"))


def _files(root):
    return sorted(
        os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs
    )


def test_same_seed_same_bytes(tmp_path):
    _write_all(7, tmp_path / "a")
    _write_all(7, tmp_path / "b")
    names = _files(tmp_path / "a")
    assert names == _files(tmp_path / "b") and len(names) == 16
    match, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", names, shallow=False)
    assert not mismatch and not errors


def test_other_seed_other_data_same_shape(tmp_path):
    _write_all(7, tmp_path / "a")
    _write_all(8, tmp_path / "b")
    names = _files(tmp_path / "a")
    _, mismatch, _ = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", names, shallow=False)
    assert {"customer.parquet", "orders.parquet", "lineitem.parquet", "documents.parquet"} <= set(mismatch)
    a, b = gen.documents(7, 300), gen.documents(8, 300)
    assert a.num_rows == b.num_rows and a.schema == b.schema
    assert gen.tpch_tables(7, 0.001)["lineitem"].schema == gen.tpch_tables(8, 0.001)["lineitem"].schema


def test_duplicate_groups_are_capped():
    import numpy as np

    sizes = gen.zipf_group_sizes(np.random.default_rng(0), 500, cap=8)
    assert sum(sizes) <= 500 and max(sizes) <= 8 and min(sizes) >= 2
