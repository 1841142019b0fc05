"""Spark event-log parsing for the traced run.

Every job the benchmark triggers carries a job group ``<op>/<span>`` (set by
:class:`perfbench.trace.Tracer`), so the jobs, stages and task metrics in the
log can be attributed to the op and to the layer span that launched them.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Job:
    group: str
    submit_ms: int
    complete_ms: int | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class StageTotals:
    tasks: int = 0
    cpu_s: float = 0.0       # executor CPU, deserialization included
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0     # disk bytes spilled


def parse(path: Path) -> tuple[list[Job], dict[int, StageTotals]]:
    """(jobs in submission order, totals of every stage that ran)."""
    jobs: dict[int, Job] = {}
    stages: dict[int, StageTotals] = defaultdict(StageTotals)
    with path.open() as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = Job(
                    group=props.get("spark.jobGroup.id") or "",
                    submit_ms=ev["Submission Time"],
                    stage_ids=[s["Stage ID"] for s in ev["Stage Infos"]])
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].complete_ms = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                st = stages[ev["Stage ID"]]
                tm = ev.get("Task Metrics") or {}
                st.tasks += 1
                st.cpu_s += (tm.get("Executor CPU Time", 0)
                             + tm.get("Executor Deserialize CPU Time", 0)) / 1e9
                st.gc_s += tm.get("JVM GC Time", 0) / 1e3
                st.shuffle_write_bytes += (tm.get("Shuffle Write Metrics")
                                           or {}).get("Shuffle Bytes Written", 0)
                st.spill_bytes += tm.get("Disk Bytes Spilled", 0)
    return [jobs[k] for k in sorted(jobs)], dict(stages)


def union_ms(intervals: list[tuple[int, int]]) -> int:
    """Length of the union of [start, end] intervals."""
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


@dataclass
class OpSpark:
    """Spark work attributed to one op."""
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_union_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    jobs_by_span: dict[str, int] = field(default_factory=dict)


def per_op(jobs: list[Job], stages: dict[int, StageTotals]
           ) -> dict[str, OpSpark]:
    """Group jobs by the op part of their job group.  A stage counts once
    per op even when several of the op's jobs list it, and only if it ran
    (skipped stages of a reused shuffle have no task events)."""
    by_op: dict[str, list[Job]] = defaultdict(list)
    for job in jobs:
        op, _, _ = job.group.partition("/")
        by_op[op].append(job)
    out: dict[str, OpSpark] = {}
    for op, op_jobs in by_op.items():
        rec = OpSpark(jobs=len(op_jobs))
        ran = {sid for j in op_jobs for sid in j.stage_ids if sid in stages}
        for sid in ran:
            st = stages[sid]
            rec.stages += 1
            rec.tasks += st.tasks
            rec.task_cpu_s += st.cpu_s
            rec.gc_s += st.gc_s
            rec.shuffle_write_bytes += st.shuffle_write_bytes
            rec.spill_bytes += st.spill_bytes
        rec.job_union_s = union_ms([(j.submit_ms, j.complete_ms)
                                    for j in op_jobs
                                    if j.complete_ms is not None]) / 1e3
        for j in op_jobs:
            span = j.group.partition("/")[2]
            rec.jobs_by_span[span] = rec.jobs_by_span.get(span, 0) + 1
        out[op] = rec
    return out
