import os

import pytest

from layers import attribute, read_event_log
from workloads import Bench, Span

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "two_ops.eventlog.jsonl")


@pytest.fixture
def stats():
    return read_event_log(FIXTURE)


def test_jobs_stages_tasks_attributed_to_their_group(stats):
    a_con = stats[("w/a/construct", "it0")].counters
    a_exe = stats[("w/a/execute", "it0")].counters
    b_exe = stats[("w/b/execute", "it0")].counters
    check = stats[("bench/check/execute", "it0")].counters
    assert (a_con["jobs"], a_con["stages"], a_con["tasks"]) == (1, 1, 2)
    assert (a_exe["jobs"], a_exe["stages"], a_exe["tasks"]) == (1, 2, 2)
    assert (b_exe["jobs"], b_exe["stages"], b_exe["tasks"]) == (1, 1, 2)
    assert (check["jobs"], check["stages"], check["tasks"]) == (1, 1, 1)
    assert a_con["input_bytes"] == 3000 and a_con["input_rows"] == 30
    assert a_exe["shuffle_write_bytes"] == 4096 and a_exe["shuffle_read_bytes"] == 4096
    assert a_exe["task_run_ms"] == 160 and a_exe["task_cpu_ns"] == 140_000_000


def test_python_metrics_resolved_through_plan_accumulators(stats):
    b = stats[("w/b/execute", "it0")]
    assert b.counters["python_boot_ms"] == 120
    assert b.counters["python_init_ms"] == 80
    assert b.counters["python_run_ms"] == 490
    assert b.counters["arrow_bytes_sent"] == 2_000_000
    assert b.python_nodes == {"ArrowEvalPython"}
    # "number of output rows" of the same node is not a Python metric
    assert stats[("w/a/execute", "it0")].counters["python_run_ms"] == 0


def test_per_op_and_per_layer_attribution(stats):
    bench = Bench(spark=None)
    bench.spans = [
        Span("w", "a", "construct", "it0", None, 1000.0, 1150.0, 0.15),
        Span("w", "a", "execute", "it0", None, 1150.0, 1520.0, 0.37),
        Span("w", "b", "execute", "it0", None, 1590.0, 2100.0, 0.51),
    ]
    bench.extras = {"it0": {"storage_mb_held": 12.5}}
    per_op, per_layer = attribute(bench, stats, ["it0"], {"a": "operators", "b": "ml"})
    a, b = per_op["it0"]["w/a"], per_op["it0"]["w/b"]
    assert (a["construct_jobs"], a["execute_jobs"]) == (1, 1)
    assert (b["construct_jobs"], b["execute_jobs"]) == (0, 1)
    # a: construct 150 ms with a 100 ms job, execute 370 ms with a 300 ms job
    assert a["driver_gap_s"] == pytest.approx(0.05 + 0.07)
    # b: 510 ms window with a 400 ms job
    assert b["driver_gap_s"] == pytest.approx(0.11)
    value = {k: v["median"] for k, v in per_layer.items()}
    assert value["operators.construct_jobs"] == 1
    assert value["operators.execute_jobs"] == 1
    assert value["operators.construct_s"] == pytest.approx(0.15)
    assert value["ml.python_run_s"] == pytest.approx(0.49)
    assert value["ml.arrow_mb_sent"] == pytest.approx(2.0)
    assert value["operators.python_run_s"] == 0
    # the check job between the ops belongs to no op
    assert value["session.jobs"] == 3
    assert value["session.stages"] == 4
    assert value["session.tasks"] == 6
    assert value["session.driver_gap_s"] == pytest.approx(0.23)
    assert value["session.storage_mb_held"] == 12.5
