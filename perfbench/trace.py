"""Spans kept in memory, and a reader for Spark's JSON event log.

A span is one timed call into a layer of the engine: a workload pass, a
query's build (the Python call that returns the DataFrame) or action
(the sink write), a DAG pass, or one stage body. Spans nest through
``parent``. When tracing is on, every span sets the Spark job group to
its own id, so each job in the event log belongs to exactly one span:
jobs launched while a query is being built land on its ``build`` span,
jobs of the write on its ``action`` span.

The event-log reader uses only the public listener JSON (job start/end,
stage completed, task end) and needs an uncompressed, non-rolling log.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-"
MB = 1024 * 1024


@dataclass
class Span:
    id: int
    name: str
    kind: str
    parent: int | None
    start: float
    end: float = 0.0
    ok: bool = True

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records spans; with ``spark`` set, also tags Spark jobs with them."""

    spark: object = None
    spans: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, kind: str, parent: Span | None = None):
        s = Span(len(self.spans), name, kind, parent.id if parent else None, time.time())
        self.spans.append(s)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(f"{GROUP_PREFIX}{s.id}", f"{kind}:{name}")
        try:
            yield s
        except BaseException:
            s.ok = False
            raise
        finally:
            s.end = time.time()
            if sc is not None:
                if parent is not None:
                    sc.setJobGroup(f"{GROUP_PREFIX}{parent.id}", f"{parent.kind}:{parent.name}")
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def descendants(self, roots: list[Span]) -> set[int]:
        """Ids of ``roots`` and every span below them."""
        ids = {s.id for s in roots}
        for s in self.spans:  # parents are always recorded before children
            if s.parent in ids:
                ids.add(s.id)
        return ids

    def records(self) -> list[dict]:
        return [s.__dict__ | {"seconds": s.seconds} for s in self.spans]


@dataclass
class Job:
    id: int
    span: int | None
    start: float
    end: float = 0.0
    ok: bool = True
    stages: list[int] = field(default_factory=list)


@dataclass
class StageRecord:
    tasks: list[float] = field(default_factory=list)  # executor run time, s
    failed_tasks: int = 0
    gc_s: float = 0.0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    input_bytes: int = 0
    input_rows: int = 0
    output_bytes: int = 0
    output_rows: int = 0


def find_event_log(evdir: str) -> str:
    logs = [f for f in os.listdir(evdir) if not f.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {evdir}, found {logs}")
    return os.path.join(evdir, logs[0])


def read_event_log(path: str) -> tuple[dict[int, Job], dict[int, StageRecord]]:
    """Jobs (with the span their job group names) and per-stage task
    totals from one uncompressed event log."""
    jobs: dict[int, Job] = {}
    stages: dict[int, StageRecord] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                span = int(group[len(GROUP_PREFIX):]) if group.startswith(GROUP_PREFIX) else None
                jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], span, ev["Submission Time"] / 1000, stages=list(ev["Stage IDs"])
                )
            elif kind == "SparkListenerJobEnd":
                job = jobs[ev["Job ID"]]
                job.end = ev["Completion Time"] / 1000
                job.ok = ev["Job Result"]["Result"] == "JobSucceeded"
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], StageRecord())
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                if info.get("Failed") or info.get("Killed"):
                    st.failed_tasks += 1
                if not m:
                    continue
                st.tasks.append(m["Executor Run Time"] / 1000)
                st.gc_s += m["JVM GC Time"] / 1000
                sr, sw = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"]
                st.shuffle_read += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                st.shuffle_write += sw["Shuffle Bytes Written"]
                st.spill += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                st.input_bytes += m["Input Metrics"]["Bytes Read"]
                st.input_rows += m["Input Metrics"]["Records Read"]
                st.output_bytes += m["Output Metrics"]["Bytes Written"]
                st.output_rows += m["Output Metrics"]["Records Written"]
    return jobs, stages


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
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


def layer_metrics(
    tracer: Tracer,
    jobs: dict[int, Job],
    stages: dict[int, StageRecord],
    roots: list[Span],
    n_passes: int,
    cores: int,
) -> dict[str, float]:
    """Per-layer metrics of the spans under ``roots``, each a mean per
    timed pass.

    - ``build_s``/``build_jobs``: time in, and jobs launched by, the
      Python calls that return a query's DataFrame.
    - ``plan_s``: self time of the action spans: their wall time minus
      the union of the intervals of the jobs they launched (driver-side
      planning, AQE re-planning and scheduling gaps).
    - ``exec_util``: task time over cores x the union of job intervals.
    - ``task_skew``: median over stages with more than one task of the
      longest over the median task time.
    """
    n = max(n_passes, 1)
    ids = tracer.descendants(roots)
    by_span: dict[int, list[Job]] = {}
    for j in jobs.values():
        if j.span in ids:
            by_span.setdefault(j.span, []).append(j)
    build = [s for s in tracer.spans if s.id in ids and s.kind == "build"]
    actions = [s for s in tracer.spans if s.id in ids and s.kind == "action"]
    mine = [j for js in by_span.values() for j in js]
    sids = {sid for j in mine for sid in j.stages if sid in stages}
    st = [stages[sid] for sid in sids]
    job_union = union_seconds([(j.start, j.end) for j in mine])
    task_s = sum(sum(s.tasks) for s in st)
    skews = [
        max(s.tasks) / statistics.median(s.tasks)
        for s in st
        if len(s.tasks) > 1 and statistics.median(s.tasks) > 0
    ]
    plan = sum(
        a.seconds - union_seconds([(j.start, j.end) for j in by_span.get(a.id, [])])
        for a in actions
    )
    return {
        "build_s": sum(s.seconds for s in build) / n,
        "build_jobs": sum(len(by_span.get(s.id, [])) for s in build) / n,
        "plan_s": plan / n,
        "jobs": len(mine) / n,
        "failed_jobs": sum(not j.ok for j in mine) / n,
        "tasks": sum(len(s.tasks) for s in st) / n,
        "failed_tasks": sum(s.failed_tasks for s in st) / n,
        "task_s": task_s / n,
        "exec_util": task_s / (cores * job_union) if job_union else 0.0,
        "gc_s": sum(s.gc_s for s in st) / n,
        "shuffle_write_mb": sum(s.shuffle_write for s in st) / MB / n,
        "shuffle_read_mb": sum(s.shuffle_read for s in st) / MB / n,
        "spill_mb": sum(s.spill for s in st) / MB / n,
        "task_skew": statistics.median(skews) if skews else 1.0,
        "input_mb": sum(s.input_bytes for s in st) / MB / n,
        "input_rows": sum(s.input_rows for s in st) / n,
        "output_mb": sum(s.output_bytes for s in st) / MB / n,
        "output_rows": sum(s.output_rows for s in st) / n,
    }
