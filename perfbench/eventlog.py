"""Read Spark's JSON event log and attribute its work to benchmark spans.

Spark writes one JSON object per line when ``spark.eventLog.enabled`` is
on with ``spark.eventLog.compress=false`` and
``spark.eventLog.rolling.enabled=false``. Three event kinds are used:

- ``SparkListenerJobStart``: submission time, stage ids, job group;
- ``SparkListenerStageCompleted``: stage submission and completion time;
- ``SparkListenerTaskEnd``: launch/finish time and task metrics (executor
  run and CPU time, GC, spill, shuffle and input bytes).

A job belongs to the op span whose id is its job group. Jobs with any
other group, such as the micro-batch jobs a stream drain submits from
its own thread under the stream's run id, belong to the op span whose
wall-clock interval contains the job's submission time. Stages belong to
the first job that lists them, tasks to their stage.
"""

from __future__ import annotations

import bisect
import json
import statistics
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field


@dataclass
class Stage:
    stage_id: int
    submit_ms: int | None = None
    complete_ms: int | None = None
    task_ms: list[int] = field(default_factory=list)


@dataclass
class Job:
    job_id: int
    submit_ms: int
    group: str | None
    stage_ids: list[int]


@dataclass
class OpWork:
    """Spark work attributed to one op span."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0
    spill_bytes: int = 0
    task_skew: float = 1.0
    stage_busy_s: float = 0.0
    sched_gap_s: float = 0.0


@dataclass
class AppLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)
    # per stage id: summed task metrics
    stage_metrics: dict[int, dict[str, float]] = field(default_factory=dict)


def read_lines(lines: Iterable[str]) -> Iterator[dict]:
    for line in lines:
        line = line.strip()
        if line:
            yield json.loads(line)


def parse(events: Iterable[dict]) -> AppLog:
    log = AppLog()
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            log.jobs[ev["Job ID"]] = Job(
                job_id=ev["Job ID"],
                submit_ms=ev["Submission Time"],
                group=props.get("spark.jobGroup.id"),
                stage_ids=list(ev.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = log.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            st.submit_ms = info.get("Submission Time")
            st.complete_ms = info.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            st = log.stages.setdefault(sid, Stage(sid))
            ti = ev.get("Task Info") or {}
            if ti.get("Finish Time") and ti.get("Launch Time"):
                st.task_ms.append(ti["Finish Time"] - ti["Launch Time"])
            tm = ev.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            im = tm.get("Input Metrics") or {}
            acc = log.stage_metrics.setdefault(sid, {})
            for key, val in (
                ("tasks", 1),
                ("run_ms", tm.get("Executor Run Time", 0)),
                ("cpu_ns", tm.get("Executor CPU Time", 0)),
                ("gc_ms", tm.get("JVM GC Time", 0)),
                ("spill", tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)),
                ("shuffle_read", sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)),
                ("shuffle_write", sw.get("Shuffle Bytes Written", 0)),
                ("input", im.get("Bytes Read", 0)),
            ):
                acc[key] = acc.get(key, 0) + val
    return log


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(log: AppLog, ops: list[dict]) -> dict[str, OpWork]:
    """Map Spark work onto op spans.

    ``ops`` are dicts with ``id``, ``start_ms`` and ``end_ms`` (epoch ms).
    Returns one :class:`OpWork` per op id; work outside every op span
    (set-up, checks) is dropped."""
    by_id = {op["id"]: op for op in ops}
    ordered = sorted(ops, key=lambda o: o["start_ms"])
    starts = [o["start_ms"] for o in ordered]

    def op_at(ts: int) -> str | None:
        i = bisect.bisect_right(starts, ts) - 1
        if i >= 0 and ts <= ordered[i]["end_ms"]:
            return ordered[i]["id"]
        return None

    work = {op["id"]: OpWork() for op in ops}
    stage_owner: dict[int, str] = {}
    for job in sorted(log.jobs.values(), key=lambda j: j.job_id):
        owner = job.group if job.group in by_id else op_at(job.submit_ms)
        if owner is None:
            continue
        work[owner].jobs += 1
        for sid in job.stage_ids:
            stage_owner.setdefault(sid, owner)

    busy: dict[str, list[tuple[int, int]]] = {op_id: [] for op_id in work}
    for sid, owner in stage_owner.items():
        st = log.stages.get(sid)
        if st is None or st.complete_ms is None:
            continue  # skipped stage: its output was reused
        w = work[owner]
        w.stages += 1
        m = log.stage_metrics.get(sid, {})
        w.tasks += int(m.get("tasks", 0))
        w.executor_run_s += m.get("run_ms", 0) / 1e3
        w.executor_cpu_s += m.get("cpu_ns", 0) / 1e9
        w.gc_s += m.get("gc_ms", 0) / 1e3
        w.spill_bytes += int(m.get("spill", 0))
        w.shuffle_read_bytes += int(m.get("shuffle_read", 0))
        w.shuffle_write_bytes += int(m.get("shuffle_write", 0))
        w.input_bytes += int(m.get("input", 0))
        if len(st.task_ms) >= 2:
            med = statistics.median(st.task_ms)
            w.task_skew = max(w.task_skew, max(st.task_ms) / max(med, 1))
        op = by_id[owner]
        s = max(st.submit_ms or op["start_ms"], op["start_ms"])
        e = min(st.complete_ms, op["end_ms"])
        if e > s:
            busy[owner].append((s, e))

    for op_id, w in work.items():
        op = by_id[op_id]
        covered = _union_ms(busy[op_id])
        w.stage_busy_s = covered / 1e3
        w.sched_gap_s = max(0, op["end_ms"] - op["start_ms"] - covered) / 1e3
    return work


def load(path: str) -> AppLog:
    with open(path) as f:
        return parse(read_lines(f))
