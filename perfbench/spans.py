"""Spans and per-layer metrics for the traced run.

The benchmark records its own spans around each call into the program
(item -> fn / sink) in memory. After the traced session stops, its Spark
event log (uncompressed, one file) is parsed into job, stage and task
records; every job is attached to the fn or sink span that submitted it,
by job group and otherwise by time, so spans nest
item -> fn/sink -> job -> stage and share the item's id. A span's self
time is its duration minus the part of it that its children cover.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench:"


@dataclass
class Span:
    """A benchmark-side span; times are epoch milliseconds."""

    pass_name: str
    item: str
    phase: str  # "fn" or "sink"
    start: float
    end: float

    @property
    def group(self) -> str:
        return f"{GROUP_PREFIX}{self.pass_name}:{self.item}:{self.phase}"


@dataclass
class Job:
    job_id: int
    submit: float
    end: float
    group: str | None
    stage_ids: list[int]
    span: Span | None = None


@dataclass
class Stage:
    stage_id: int
    attempt: int
    num_tasks: int
    submit: float
    end: float
    tasks: list[dict] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[tuple[int, int], Stage]
    stage_job: dict[int, int]


def read_event_log(path: str) -> EventLog:
    """Parse one uncompressed, non-rolling Spark event-log file."""
    jobs: dict[int, Job] = {}
    stages: dict[tuple[int, int], Stage] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = Job(jid, ev["Submission Time"], ev["Submission Time"],
                                props.get("spark.jobGroup.id"), list(ev["Stage IDs"]))
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                st = stages.setdefault(key, Stage(key[0], key[1], 0, 0, 0))
                st.num_tasks = info["Number of Tasks"]
                st.submit = info.get("Submission Time", 0)
                st.end = info.get("Completion Time", 0)
            elif kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                st = stages.setdefault(key, Stage(key[0], key[1], 0, 0, 0))
                st.tasks.append({"info": ev["Task Info"], "metrics": ev.get("Task Metrics") or {}})
    return EventLog(jobs, stages, stage_job)


def attach_jobs(log: EventLog, spans: list[Span], slack_ms: float = 2.0) -> None:
    """Attach each job to the span that submitted it: by job group when
    the job carries one of ours, else by submission time (streaming
    micro-batches run under the stream's own group)."""
    by_group = {s.group: s for s in spans}
    for job in log.jobs.values():
        job.span = by_group.get(job.group or "")
        if job.span is None:
            for s in spans:
                if s.start - slack_ms <= job.submit <= s.end + slack_ms:
                    job.span = s
                    break


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def span_ledger(log: EventLog, span: Span) -> dict:
    """Self time and job/stage/task counts of one fn or sink span."""
    jobs = [j for j in log.jobs.values() if j.span is span]
    job_cover = covered([(j.submit, j.end) for j in jobs], span.start, span.end)
    stages = [st for st in log.stages.values() if log.stage_job.get(st.stage_id) in {j.job_id for j in jobs}]
    return {
        "wall_s": (span.end - span.start) / 1e3,
        "jobs_s": job_cover / 1e3,
        "self_s": (span.end - span.start - job_cover) / 1e3,
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(len(st.tasks) for st in stages),
        "input_records": sum(
            (t["metrics"].get("Input Metrics") or {}).get("Records Read", 0) for st in stages for t in st.tasks
        ),
        "job_ids": sorted(j.job_id for j in jobs),
    }


def window_totals(log: EventLog, lo: float, hi: float, cores: int) -> dict:
    """Spark- and executor-level totals for the jobs submitted in [lo, hi]."""
    jobs = [j for j in log.jobs.values() if lo <= j.submit <= hi]
    ids = {j.job_id for j in jobs}
    stages = [st for st in log.stages.values() if log.stage_job.get(st.stage_id) in ids]
    tasks = [t for st in stages for t in st.tasks]
    first_launch: dict[int, float] = {}
    for st in stages:
        jid = log.stage_job[st.stage_id]
        for t in st.tasks:
            first_launch[jid] = min(first_launch.get(jid, float("inf")), t["info"]["Launch Time"])

    def tm(t: dict, *path: str) -> float:
        v = t["metrics"]
        for k in path:
            v = v.get(k, 0) if isinstance(v, dict) else 0
        return float(v or 0)

    run_s = sum(tm(t, "Executor Run Time") for t in tasks) / 1e3
    wall_s = max(hi - lo, 1.0) / 1e3
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": len(tasks),
        "spark.task_retries": sum(1 for t in tasks if t["info"].get("Attempt", 0) > 0),
        "spark.ms_per_job": sum(j.end - j.submit for j in jobs) / max(len(jobs), 1),
        "spark.job_wait_s": sum(first_launch[j.job_id] - j.submit for j in jobs if j.job_id in first_launch) / 1e3,
        "exec.run_s": run_s,
        "exec.cpu_s": sum(tm(t, "Executor CPU Time") for t in tasks) / 1e9,
        "exec.gc_s": sum(tm(t, "JVM GC Time") for t in tasks) / 1e3,
        "exec.core_util": run_s / (cores * wall_s),
        "shuffle.write_mb": sum(tm(t, "Shuffle Write Metrics", "Shuffle Bytes Written") for t in tasks) / 1e6,
        "shuffle.read_mb": sum(
            tm(t, "Shuffle Read Metrics", "Remote Bytes Read") + tm(t, "Shuffle Read Metrics", "Local Bytes Read")
            for t in tasks
        ) / 1e6,
        "spill.mb": sum(tm(t, "Disk Bytes Spilled") for t in tasks) / 1e6,
        "input.mb": sum(tm(t, "Input Metrics", "Bytes Read") for t in tasks) / 1e6,
        "input.records": sum(tm(t, "Input Metrics", "Records Read") for t in tasks),
    }


def span_records(log: EventLog, spans: list[Span]) -> list[dict]:
    """Flatten spans for the trace file: item, fn/sink, job and stage
    spans, each with its parent's id; all share the item's id."""
    out: list[dict] = []
    items: dict[tuple[str, str], list[Span]] = {}
    for s in spans:
        items.setdefault((s.pass_name, s.item), []).append(s)
    for (pass_name, item), parts in items.items():
        item_id = f"{pass_name}/{item}"
        out.append({"id": item_id, "parent": None, "item": item_id, "kind": "item",
                    "start": min(p.start for p in parts), "end": max(p.end for p in parts)})
        for p in parts:
            pid = f"{item_id}/{p.phase}"
            out.append({"id": pid, "parent": item_id, "item": item_id, "kind": p.phase,
                        "start": p.start, "end": p.end})
            for j in (j for j in log.jobs.values() if j.span is p):
                jid = f"job{j.job_id}"
                out.append({"id": jid, "parent": pid, "item": item_id, "kind": "job",
                            "start": j.submit, "end": j.end, "group": j.group})
                for st in log.stages.values():
                    if log.stage_job.get(st.stage_id) == j.job_id:
                        out.append({"id": f"stage{st.stage_id}.{st.attempt}", "parent": jid,
                                    "item": item_id, "kind": "stage", "start": st.submit,
                                    "end": st.end, "tasks": len(st.tasks)})
    return out
