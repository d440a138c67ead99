"""Self-test of the benchmark's span arithmetic and event-log parsing.

Runs without Spark:  python3 -m pytest kgbench -q -p no:cacheprovider
"""

import json
from types import SimpleNamespace

import pytest

from kgbench.layers import _one_run, coverage_failures, metric_names
from kgbench.tracing import (
    PY_RUN,
    PY_SENT,
    PY_START,
    Span,
    Tracer,
    layer_metrics,
    parse_event_log,
    self_times,
    stage_skew,
)


def spans(*rows):
    """(id, name, parent, start, end) rows -> Spans."""
    return [Span(i, name, parent, start, end) for i, name, parent, start, end in rows]


def test_self_times_subtract_direct_children_and_sum_to_root():
    tree = spans(
        (0, "job", None, 0.0, 10.0),
        (1, "a", 0, 1.0, 4.0),
        (2, "a.inner", 1, 2.0, 3.0),
        (3, "b", 0, 5.0, 9.0),
    )
    selfs = self_times(tree)
    assert selfs == pytest.approx({0: 3.0, 1: 2.0, 2: 1.0, 3: 4.0})
    assert sum(selfs.values()) == pytest.approx(tree[0].duration)


def test_tracer_nests_spans_and_reports_parents():
    tr = Tracer()
    with tr.span("job"):
        with tr.span("a") as a:
            a.counts["rows"] = 7
        with tr.span("b"):
            pass
    report = tr.report()
    assert [(r["name"], r["parent"]) for r in report] == [
        ("job", None),
        ("a", 0),
        ("b", 0),
    ]
    assert report[1]["rows"] == 7
    assert all(r["start"] <= r["end"] for r in report)
    assert tr.group(tr.spans[1]) == "kgb-1"


def job_start(job_id, stage_ids, group=None):
    props = {"spark.job.interruptOnCancel": "true"}
    if group is not None:
        props["spark.jobGroup.id"] = group
    return {
        "Event": "SparkListenerJobStart",
        "Job ID": job_id,
        "Stage IDs": stage_ids,
        "Properties": props,
    }


def task_end(stage_id, run_ms, cpu_ns=0, shuffle=0, spill=0, written=(0, 0), sql=None):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage_id,
        "Task Info": {
            "Accumulables": [
                {"ID": 1, "Name": "internal.metrics.executorRunTime", "Update": run_ms},
                *(
                    {"ID": 100 + i, "Name": k, "Update": str(v), "Value": str(v)}
                    for i, (k, v) in enumerate((sql or {}).items())
                ),
            ]
        },
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Output Metrics": {"Bytes Written": written[0], "Records Written": written[1]},
        },
    }


LOG = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    job_start(0, [0, 1], "kgb-1"),
    task_end(0, 100, cpu_ns=2_000_000_000, shuffle=3_000_000, sql={PY_SENT: 500_000, PY_RUN: 1500}),
    task_end(
        0,
        300,
        cpu_ns=1_000_000_000,
        shuffle=1_000_000,
        sql={PY_SENT: 250_000, PY_START: 40, "time to initialize Python workers": 9000},
    ),
    task_end(1, 50, written=(2_000_000, 40)),
    # a later job that lists stage 1 again (skipped) does not take it over
    job_start(1, [1, 2], "kgb-2"),
    task_end(2, 10, spill=4_000_000),
    # jobs outside any group (the benchmark's own checks) are dropped
    job_start(2, [3]),
    task_end(3, 999, cpu_ns=9_000_000_000),
]


def test_parse_event_log_sums_tasks_per_job_group():
    stats = parse_event_log(json.dumps(e) for e in LOG)
    assert set(stats) == {"kgb-1", "kgb-2"}
    g = stats["kgb-1"]
    assert g.cpu_ns == 3_000_000_000
    assert g.shuffle_write_bytes == 4_000_000
    assert (g.bytes_written, g.records_written) == (2_000_000, 40)
    assert g.sql == {PY_SENT: 750_000, PY_RUN: 1500, PY_START: 40}
    assert g.task_ms == {0: [100, 300], 1: [50]}
    assert stats["kgb-2"].spill_bytes == 4_000_000


def test_stage_skew_uses_the_stage_with_most_task_time():
    assert stage_skew({0: [100, 100, 100, 500], 1: [10, 90]}) == pytest.approx(5.0)
    assert stage_skew({}) == 1.0


def test_layer_metrics_attribute_groups_to_spans():
    tr = Tracer()
    tr.spans = spans(
        (0, "job", None, 0.0, 4.0),
        (1, "textplane.docs", 0, 0.5, 3.0),
        (2, "stages.lineage", 1, 2.0, 2.5),
    )
    stats = parse_event_log(json.dumps(e) for e in LOG)
    lm = layer_metrics(tr, stats)
    docs = lm["textplane.docs"]
    assert docs["wall_s"] == pytest.approx(2.0)
    assert docs["cpu_s"] == pytest.approx(3.0)
    assert docs["shuffle_write_mb"] == pytest.approx(4.0)
    assert docs["arrow_out_mb"] == pytest.approx(0.75)
    assert docs["py_run_s"] == pytest.approx(1.5)
    assert docs["py_start_s"] == pytest.approx(0.04)
    assert docs["rows_out"] == 40
    assert docs["task_skew"] == pytest.approx(1.5)
    assert lm["stages.lineage"]["spill_mb"] == pytest.approx(4.0)
    assert lm["job"]["cpu_s"] == 0.0


def test_one_run_reports_escape_coverage_and_every_name():
    tr = Tracer()
    tr.spans = spans(
        (0, "job", None, 0.0, 10.0),
        (1, "canonical.surfaces", 0, 0.0, 4.0),
        (2, "canonical.surface_nodes", 1, 0.0, 1.0),
        (3, "stages.lineage", 1, 3.0, 3.5),
        (4, "canonical.edges", 0, 4.0, 9.0),
    )
    tr.spans[2].counts["rows"] = 42
    values = _one_run(tr, {})
    assert values["canonical.surfaces.driver_escape"] == 1.0
    assert values["canonical.surfaces.wall_s"] == pytest.approx(2.5)
    assert values["trace.unattributed_frac"] == pytest.approx(0.1)
    assert values["stages.lineage_s"] == pytest.approx(0.5)
    assert values["warc.read.wall_s"] == 0.0
    assert set(metric_names()) - {
        "trace.untraced_wall_s",
        "trace.overhead_s",
    } <= set(values)
    assert len(metric_names()) <= 128


def test_coverage_check_fails_a_run_whose_layers_leave_the_wall_unattributed():
    def traced_run(layer_end):
        tr = Tracer()
        tr.spans = spans((0, "job", None, 0.0, 10.0), (1, "canonical.edges", 0, 0.0, layer_end))
        return SimpleNamespace(traced=True, ok=True, tracer=tr, detail={})

    covered, short = traced_run(9.5), traced_run(8.0)
    untraced = SimpleNamespace(traced=False, ok=True, tracer=None, detail={})
    assert coverage_failures([untraced, covered, short], 0.9) == 1
    assert covered.detail["layer_coverage"] == pytest.approx(0.95)
    assert short.detail["layer_coverage"] == pytest.approx(0.8)
