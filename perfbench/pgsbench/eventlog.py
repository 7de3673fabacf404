"""``spark.job.*`` metrics from Spark's own file event log.

The session has its UI and REST API disabled, so the event log is the
only record of task metrics. The benchmark tags every timed operation
with the local property ``pgsbench.op`` (Spark copies local properties
into each job's ``Properties``); tasks are grouped per operation through
their stage's job, summed per operation, and reported as the median
over operations."""

from __future__ import annotations

import glob
import json
import os
import statistics

OP_PROPERTY = "pgsbench.op"

# task-metric accumulables written by Spark's Python exec nodes
PY_ACCUMS = {
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_boot_ms",
    "time to initialize Python workers": "python_init_ms",
    "data sent to Python workers": "to_python_bytes",
    "data returned from Python workers": "from_python_bytes",
}

JOB_METRICS = (
    "executor_run_ms",
    "executor_cpu_ms",
    "gc_ms",
    "python_run_ms",
    "python_boot_ms",
    "python_init_ms",
    "to_python_bytes",
    "from_python_bytes",
    "shuffle_write_bytes",
    "shuffle_write_ms",
    "shuffle_fetch_wait_ms",
    "input_bytes",
    "spill_bytes",
    "tasks",
    "task_skew",
)

JOB_UNITS = {m: ("ms" if m.endswith("_ms") else "bytes" if m.endswith("_bytes") else "count") for m in JOB_METRICS}
JOB_UNITS["task_skew"] = "ratio"


def read_events(path: str) -> list[dict]:
    """Every event of one application's log: ``path`` is the
    ``eventlog_v2_*`` directory of Spark's rolling log, whose
    ``events_<n>_*.zstd`` parts are read in order through pyarrow."""
    import pyarrow as pa

    files = sorted(
        glob.glob(os.path.join(path, "events_*.zstd")),
        key=lambda f: int(os.path.basename(f).split("_")[1]),
    )
    events = []
    for f in files:
        with pa.CompressedInputStream(pa.OSFile(f), "zstd") as s:
            text = s.read().decode()
        events.extend(json.loads(line) for line in text.splitlines() if line.strip())
    return events


def find_log(event_dir: str) -> str:
    logs = glob.glob(os.path.join(event_dir, "*"))
    logs = [p for p in logs if not os.path.basename(p).startswith(".")]
    if len(logs) != 1:
        raise ValueError(f"expected one application log in {event_dir}, found {len(logs)}")
    return logs[0]


def tasks_by_op(events: list[dict]) -> dict[str, list[dict]]:
    """op tag -> TaskEnd events of every job that carried the tag."""
    stage_op: dict[int, str] = {}
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            op = (e.get("Properties") or {}).get(OP_PROPERTY)
            if op is not None:
                for sid in e.get("Stage IDs", []):
                    stage_op[sid] = op
    out: dict[str, list[dict]] = {}
    for e in events:
        if e.get("Event") == "SparkListenerTaskEnd" and e.get("Stage ID") in stage_op:
            out.setdefault(stage_op[e["Stage ID"]], []).append(e)
    return out


def task_numbers(e: dict) -> dict:
    m = e.get("Task Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    acc = {a.get("Name"): a.get("Update") for a in (e.get("Task Info") or {}).get("Accumulables", [])}
    out = {
        "executor_run_ms": m.get("Executor Run Time", 0),
        "executor_cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
        "gc_ms": m.get("JVM GC Time", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle_write_ms": sw.get("Shuffle Write Time", 0) / 1e6,
        "shuffle_fetch_wait_ms": sr.get("Fetch Wait Time", 0),
        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
    }
    for name, key in PY_ACCUMS.items():
        out[key] = float(acc.get(name) or 0)
    return out


def op_metrics(tasks: list[dict]) -> dict[str, float]:
    """Sums over one operation's tasks, plus its task count and skew
    (max over median run time in the stage that ran longest in total)."""
    sums = dict.fromkeys(JOB_METRICS, 0.0)
    by_stage: dict[int, list[float]] = {}
    for e in tasks:
        for k, v in task_numbers(e).items():
            sums[k] += v
        by_stage.setdefault(e["Stage ID"], []).append(
            (e.get("Task Metrics") or {}).get("Executor Run Time", 0)
        )
    sums["tasks"] = float(len(tasks))
    if by_stage:
        runs = max(by_stage.values(), key=sum)
        med = statistics.median(runs)
        sums["task_skew"] = max(runs) / med if med else 1.0
    return sums


def task_intervals(tasks: list[dict]) -> list[tuple[float, float]]:
    """(launch, finish) of each task in epoch seconds."""
    return [
        (e["Task Info"]["Launch Time"] / 1e3, e["Task Info"]["Finish Time"] / 1e3)
        for e in tasks
        if (e.get("Task Info") or {}).get("Finish Time")
    ]


def job_metrics(events: list[dict], ops: list[str]) -> dict[str, float]:
    """Median over ``ops`` of each operation's summed task metrics."""
    per = tasks_by_op(events)
    rows = [op_metrics(per.get(op, [])) for op in ops]
    if not rows:
        return dict.fromkeys(JOB_METRICS, 0.0)
    return {k: float(statistics.median(r[k] for r in rows)) for k in JOB_METRICS}
