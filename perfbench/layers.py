"""Per-layer counters from Spark's uncompressed JSON event log.

Every call the benchmark times runs under the job group
``<workload>/<op>/<construct|execute>`` with the iteration as the job
description, so each job, stage and task in the log can be attributed to
the call that caused it. Task metrics give compute, GC, shuffle, spill and
input counters. The Python-worker metrics of UDF nodes (worker start,
init and run time, bytes sent to the workers) are SQL metrics: their
accumulator ids are declared in the plans of ``SQLExecutionStart`` (and
AQE's re-plans), and the tasks report updates to those ids.
"""

from __future__ import annotations

import json
from collections import defaultdict

from sampling import driver_gap_ms, summary

# SQL metric name (as declared by the Python UDF plan nodes) -> counter
PYTHON_SQL_METRICS = {
    "time to start Python workers": "python_boot_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "arrow_bytes_sent",
}

COUNTERS = [
    "jobs",
    "stages",
    "tasks",
    "task_run_ms",
    "task_cpu_ns",
    "gc_ms",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "fetch_wait_ms",
    "spill_bytes",
    "input_bytes",
    "input_rows",
    *PYTHON_SQL_METRICS.values(),
]


class GroupStats:
    """Counters and job intervals of one (job group, description) pair."""

    def __init__(self) -> None:
        self.counters = dict.fromkeys(COUNTERS, 0)
        self.python_nodes: set[str] = set()
        self.job_intervals: list[tuple[float, float]] = []

    def add(self, key: str, value: float) -> None:
        self.counters[key] += value


def _plan_metrics(node: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in node.get("metrics", []):
        key = PYTHON_SQL_METRICS.get(m.get("name"))
        if key is not None:
            out[m["accumulatorId"]] = (node.get("nodeName", "?"), key)
    for child in node.get("children", []):
        _plan_metrics(child, out)


def parse_event_log(lines) -> dict[tuple[str, str], GroupStats]:
    """Attribute every job, stage and task of an event log to its
    ``(job group, job description)``; jobs without a group are keyed by
    ``("", "")``. ``lines`` is any iterable of JSON event lines."""
    groups: dict[tuple[str, str], GroupStats] = defaultdict(GroupStats)
    job_key: dict[int, tuple[str, str]] = {}
    job_start: dict[int, float] = {}
    stage_key: dict[tuple[int, int], tuple[str, str]] = {}
    python_acc: dict[int, tuple[str, str]] = {}

    def key_of(props: dict | None) -> tuple[str, str]:
        props = props or {}
        return (
            props.get("spark.jobGroup.id") or "",
            props.get("spark.job.description") or "",
        )

    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            k = key_of(e.get("Properties"))
            job_key[e["Job ID"]] = k
            job_start[e["Job ID"]] = e["Submission Time"]
            groups[k].add("jobs", 1)
        elif ev == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in job_key:
                groups[job_key[jid]].job_intervals.append(
                    (job_start[jid], e["Completion Time"])
                )
        elif ev == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            k = key_of(e.get("Properties"))
            stage_key[(info["Stage ID"], info["Stage Attempt ID"])] = k
            groups[k].add("stages", 1)
        elif ev == "SparkListenerTaskEnd":
            k = stage_key.get((e["Stage ID"], e["Stage Attempt ID"]), ("", ""))
            _add_task(groups[k], e, python_acc)
        elif ev.endswith("SQLExecutionStart") or ev.endswith(
            "SQLAdaptiveExecutionUpdate"
        ):
            _plan_metrics(e["sparkPlanInfo"], python_acc)
        elif ev.endswith("SQLAdaptiveSQLMetricUpdates"):
            for m in e.get("sqlPlanMetrics", []):
                key = PYTHON_SQL_METRICS.get(m.get("name"))
                if key is not None:
                    python_acc[m["accumulatorId"]] = ("?", key)
    return dict(groups)


def _add_task(g: GroupStats, e: dict, python_acc: dict) -> None:
    g.add("tasks", 1)
    m = e.get("Task Metrics") or {}
    g.add("task_run_ms", m.get("Executor Run Time", 0))
    g.add("task_cpu_ns", m.get("Executor CPU Time", 0))
    g.add("gc_ms", m.get("JVM GC Time", 0))
    g.add("spill_bytes", m.get("Disk Bytes Spilled", 0))
    sr = m.get("Shuffle Read Metrics") or {}
    g.add("shuffle_read_bytes", sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0))
    g.add("fetch_wait_ms", sr.get("Fetch Wait Time", 0))
    sw = m.get("Shuffle Write Metrics") or {}
    g.add("shuffle_write_bytes", sw.get("Shuffle Bytes Written", 0))
    im = m.get("Input Metrics") or {}
    g.add("input_bytes", im.get("Bytes Read", 0))
    g.add("input_rows", im.get("Records Read", 0))
    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
        hit = python_acc.get(acc.get("ID"))
        if hit is not None and acc.get("Update") is not None:
            node, key = hit
            g.add(key, int(acc["Update"]))
            g.python_nodes.add(node)


def read_event_log(path: str) -> dict[tuple[str, str], GroupStats]:
    with open(path) as f:
        return parse_event_log(f)


# per-layer metrics of BENCHMARK.json: name -> unit
PER_LAYER_UNITS = {
    "sources.construct_s": "s",
    "sources.input_mb": "MB",
    "sources.input_rows": "count",
    "ml.construct_s": "s",
    "ml.python_boot_s": "s",
    "ml.python_init_s": "s",
    "ml.python_run_s": "s",
    "ml.arrow_mb_sent": "MB",
    "operators.construct_s": "s",
    "operators.construct_jobs": "count",
    "operators.execute_s": "s",
    "operators.execute_jobs": "count",
    "operators.python_run_s": "s",
    "streaming.commit_s": "s",
    "streaming.commit_jobs": "count",
    "streaming.index_s": "s",
    "streaming.index_jobs": "count",
    "streaming.live_segments": "count",
    "streaming.bytes_written_per_user_byte": "ratio",
    "streaming.replay_noop_ratio": "ratio",
    "session.jobs": "count",
    "session.stages": "count",
    "session.tasks": "count",
    "session.driver_gap_s": "s",
    "session.task_run_s": "s",
    "session.task_cpu_s": "s",
    "session.gc_s": "s",
    "session.shuffle_write_mb": "MB",
    "session.shuffle_read_mb": "MB",
    "session.fetch_wait_s": "s",
    "session.spill_mb": "MB",
    "session.storage_mb_held": "MB",
}
# harness-measured per-iteration numbers reported as layer metrics
EXTRA_LAYER_METRICS = {
    "streaming.live_segments": "live_segments",
    "streaming.bytes_written_per_user_byte": "bytes_written_per_user_byte",
    "streaming.replay_noop_ratio": "replay_noop_ratio",
    "session.storage_mb_held": "storage_mb_held",
}


def op_record(spans, stats: dict) -> dict:
    """Layer counters of one op in one iteration: its construct and
    execute wall time, the jobs each phase fired, the event-log counters
    of both phases and the op's driver gap."""
    rec = {"construct_s": 0.0, "execute_s": 0.0, "construct_jobs": 0, "execute_jobs": 0}
    rec.update(dict.fromkeys(COUNTERS, 0))
    rec["driver_gap_s"] = 0.0
    python_nodes: set[str] = set()
    seen = set()
    for s in spans:
        g = stats.get((s.job_group, s.label), GroupStats())
        rec[f"{s.phase}_s"] += s.seconds
        rec["driver_gap_s"] += driver_gap_ms((s.t0_ms, s.t1_ms), g.job_intervals) / 1000
        if (s.job_group, s.label) in seen:
            continue  # several steps of one op share a group: count once
        seen.add((s.job_group, s.label))
        rec[f"{s.phase}_jobs"] += g.counters["jobs"]
        for k in COUNTERS:
            rec[k] += g.counters[k]
        python_nodes |= g.python_nodes
    rec["python_nodes"] = sorted(python_nodes)
    return rec


def layer_values(records: dict[tuple[str, str], dict], op_layer: dict, extras: dict) -> dict:
    """Per-layer metrics of one iteration from its per-op records
    (keyed by ``(group, op)``)."""

    def total(key, layer=None):
        return sum(
            r[key]
            for (g, op), r in records.items()
            if layer is None or op_layer[op] == layer
        )

    def busy(layer):
        return total("construct_s", layer) + total("execute_s", layer)

    def jobs(layer):
        return total("construct_jobs", layer) + total("execute_jobs", layer)

    v = {
        "sources.construct_s": total("construct_s", "sources"),
        "sources.input_mb": total("input_bytes") / 1e6,
        "sources.input_rows": total("input_rows"),
        "ml.construct_s": total("construct_s", "ml"),
        "ml.python_boot_s": total("python_boot_ms", "ml") / 1000,
        "ml.python_init_s": total("python_init_ms", "ml") / 1000,
        "ml.python_run_s": total("python_run_ms", "ml") / 1000,
        "ml.arrow_mb_sent": total("arrow_bytes_sent", "ml") / 1e6,
        "operators.construct_s": total("construct_s", "operators"),
        "operators.construct_jobs": total("construct_jobs", "operators"),
        "operators.execute_s": total("execute_s", "operators"),
        "operators.execute_jobs": total("execute_jobs", "operators"),
        "operators.python_run_s": total("python_run_ms", "operators") / 1000,
        "streaming.commit_s": busy("streaming.commit"),
        "streaming.commit_jobs": jobs("streaming.commit"),
        "streaming.index_s": busy("streaming.index"),
        "streaming.index_jobs": jobs("streaming.index"),
        "session.jobs": total("jobs"),
        "session.stages": total("stages"),
        "session.tasks": total("tasks"),
        "session.driver_gap_s": total("driver_gap_s"),
        "session.task_run_s": total("task_run_ms") / 1000,
        "session.task_cpu_s": total("task_cpu_ns") / 1e9,
        "session.gc_s": total("gc_ms") / 1000,
        "session.shuffle_write_mb": total("shuffle_write_bytes") / 1e6,
        "session.shuffle_read_mb": total("shuffle_read_bytes") / 1e6,
        "session.fetch_wait_s": total("fetch_wait_ms") / 1000,
        "session.spill_mb": total("spill_bytes") / 1e6,
    }
    for name, key in EXTRA_LAYER_METRICS.items():
        v[name] = extras.get(key, 0.0)
    return v


def attribute(bench, stats: dict, labels: list[str], op_layer: dict) -> tuple[dict, dict]:
    """``(per_op, per_layer)``: per-op records for every measured
    iteration, and every per-layer metric summarized over iterations."""
    per_op: dict[str, dict] = {}
    per_iteration = []
    for lab in labels:
        by_op: dict[tuple[str, str], list] = {}
        for s in bench.spans:
            if s.label == lab:
                by_op.setdefault((s.group, s.op), []).append(s)
        records = {k: op_record(spans, stats) for k, spans in by_op.items()}
        per_op[lab] = {f"{g}/{op}": r for (g, op), r in records.items()}
        per_iteration.append(layer_values(records, op_layer, bench.extras.get(lab, {})))
    per_layer = {
        name: {**summary([it[name] for it in per_iteration]), "unit": unit,
               "values": [it[name] for it in per_iteration]}
        for name, unit in PER_LAYER_UNITS.items()
    }
    return per_op, per_layer
