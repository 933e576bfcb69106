"""Fold a Spark event log into per-span layer metrics.

The benchmark wraps each call into the engine in a Spark job group named
after its span (``s1_extract``, ``s2_block``, ...). Spark's uncompressed
JSON event log then holds, for every job, its group (a job property) and
its stage ids, and for every task its stage id and task metrics. Folding
maps job group -> job -> stage -> task and sums the task metrics per
group. Python-worker time comes from the SQL accumulables that Arrow
UDF operators attach to their tasks.

Only ``SparkListenerJobStart`` and ``SparkListenerTaskEnd`` lines are
parsed; every other line (the SQL plan events are most of the bytes) is
skipped by its prefix.
"""

from __future__ import annotations

import json
from collections import defaultdict

# per-span counters folded from task ends, in report order
TASK_FIELDS = (
    "jobs",
    "tasks",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
    "python_run_s",
    "python_bytes_sent",
)

# SQL accumulable name -> (span field, scale to the field's unit)
_PYTHON_ACCUMULABLES = {
    "time to run Python workers": ("python_run_s", 1e-3),
    "data sent to Python workers": ("python_bytes_sent", 1),
}

_JOB_START = '{"Event":"SparkListenerJobStart"'
_TASK_END = '{"Event":"SparkListenerTaskEnd"'

# jobs that ran outside every span
UNGROUPED = "_ungrouped"


def _task_counters(event: dict) -> dict[str, float]:
    tm = event.get("Task Metrics") or {}
    shuffle_read = tm.get("Shuffle Read Metrics") or {}
    shuffle_write = tm.get("Shuffle Write Metrics") or {}
    out = {
        "tasks": 1,
        "task_run_s": tm.get("Executor Run Time", 0) / 1e3,
        "task_cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "gc_s": tm.get("JVM GC Time", 0) / 1e3,
        "shuffle_read_bytes": shuffle_read.get("Remote Bytes Read", 0)
        + shuffle_read.get("Local Bytes Read", 0),
        "shuffle_write_bytes": shuffle_write.get("Shuffle Bytes Written", 0),
        "spill_bytes": tm.get("Disk Bytes Spilled", 0),
        "input_bytes": (tm.get("Input Metrics") or {}).get("Bytes Read", 0),
        "output_bytes": (tm.get("Output Metrics") or {}).get("Bytes Written", 0),
    }
    for acc in (event.get("Task Info") or {}).get("Accumulables", ()):
        field = _PYTHON_ACCUMULABLES.get(acc.get("Name"))
        if field is not None:
            name, scale = field
            out[name] = out.get(name, 0) + float(acc.get("Update") or 0) * scale
    return out


def fold_lines(lines) -> dict[str, dict[str, float]]:
    """Event-log lines -> {job group: {field: total}} for ``TASK_FIELDS``.

    A stage belongs to the first job that lists it, which is the job that
    ran it; a later job that reuses its shuffle output lists it as skipped
    and runs no tasks for it.
    """
    stage_group: dict[int, str] = {}
    spans: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(TASK_FIELDS, 0))
    for line in lines:
        if line.startswith(_JOB_START):
            event = json.loads(line)
            props = event.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or UNGROUPED
            spans[group]["jobs"] += 1
            for stage in event.get("Stage IDs", ()):
                stage_group.setdefault(stage, group)
        elif line.startswith(_TASK_END):
            event = json.loads(line)
            group = stage_group.get(event.get("Stage ID"), UNGROUPED)
            acc = spans[group]
            for name, value in _task_counters(event).items():
                acc[name] += value
    return dict(spans)


def fold_file(path: str) -> dict[str, dict[str, float]]:
    with open(path, encoding="utf-8") as fh:
        return fold_lines(fh)
