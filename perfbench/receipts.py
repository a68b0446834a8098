"""Per-job-group receipts from a Spark event log.

The benchmark's traced run gives every timed call its own job group
(``SparkContext.setJobGroup``). This module replays the event log of
that run and sums, per group: jobs, stages, tasks, shuffle bytes,
spill, bytes returned to the driver, executor CPU, zero-read tasks and
failed tasks. It also keeps each job's [submit, complete] interval, so
a caller can split a call's wall time into time covered by jobs and
time outside them, and each stage's task-time skew.

Log discovery and line parsing are ``tools.stage_attr._event_lines``;
this module only folds the events.
"""

from __future__ import annotations

import statistics
from collections import defaultdict
from dataclasses import dataclass, field

from tools.stage_attr import _event_lines


@dataclass
class Receipt:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    # serialized results of ResultTasks, i.e. what actions bring back
    result_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    executor_cpu_ns: int = 0
    # tasks of stages that read a shuffle, and those that read 0 bytes
    shuffle_read_tasks: int = 0
    zero_read_tasks: int = 0
    # (submit, complete) of every job, epoch seconds
    job_spans: list[tuple[float, float]] = field(default_factory=list)
    # max / median task duration of every stage with 2+ tasks
    stage_skews: list[float] = field(default_factory=list)


def read_receipts(log_dir: str) -> dict[str, Receipt]:
    """Fold the newest application log under ``log_dir`` into one
    Receipt per job group. Jobs without a group are ignored."""
    out: dict[str, Receipt] = defaultdict(Receipt)
    job_group: dict[int, str] = {}
    job_submit: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    reads_shuffle: set[int] = set()
    durations: dict[int, list[int]] = defaultdict(list)
    for ev in _event_lines(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            jid = ev["Job ID"]
            job_group[jid] = group
            job_submit[jid] = ev["Submission Time"] / 1000.0
            out[group].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                out[job_group[jid]].job_spans.append(
                    (job_submit[jid], ev["Completion Time"] / 1000.0)
                )
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            if info.get("Parent IDs"):
                reads_shuffle.add(info["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            group = stage_group.get(sid)
            if group is None:
                continue
            r = out[group]
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            r.tasks += 1
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            if info.get("Failed") or reason != "Success":
                r.failed_tasks += 1
            sr = m.get("Shuffle Read Metrics") or {}
            read = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            r.shuffle_read_bytes += read
            if sid in reads_shuffle:
                r.shuffle_read_tasks += 1
                r.zero_read_tasks += read == 0
            sw = m.get("Shuffle Write Metrics") or {}
            r.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            r.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            if ev.get("Task Type") == "ResultTask":
                r.result_bytes += m.get("Result Size", 0)
            r.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            r.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            r.executor_cpu_ns += m.get("Executor CPU Time", 0)
            if "Launch Time" in info and "Finish Time" in info:
                durations[sid].append(info["Finish Time"] - info["Launch Time"])
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            group = stage_group.get(sid)
            if group is None:
                continue
            out[group].stages += 1
            times = durations.pop(sid, [])
            if len(times) >= 2:
                # durations are whole milliseconds; a 0 ms median would
                # make the ratio infinite
                out[group].stage_skews.append(
                    max(times) / max(statistics.median(times), 1.0)
                )
    return dict(out)


def covered_seconds(spans: list[tuple[float, float]], start: float, end: float) -> float:
    """Length of the union of ``spans`` clipped to [start, end]."""
    total = 0.0
    cursor = start
    for lo, hi in sorted(spans):
        lo, hi = max(lo, cursor), min(hi, end)
        if hi > lo:
            total += hi - lo
            cursor = hi
    return total
