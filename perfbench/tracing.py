"""Spans around engine calls, Spark status counters and the event-log parser.

Every engine call the benchmark makes runs inside ``Recorder.span(call)``,
which sets a Spark job group unique to that span. Two sources then split
the span's work by layer:

- the status tracker (always on): jobs, stages that ran, tasks, failed
  tasks of the span's job group;
- the Spark event log (traced runs only, ``spark.eventLog.enabled``):
  task metrics summed over the group's stages, job intervals, and the
  final adaptive plan of each SQL execution.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


def host_cpu_s() -> tuple[float, float]:
    """(busy, stolen) CPU seconds of this host so far, summed over CPUs:
    busy is user, nice, system, irq and softirq time of every process;
    stolen is time the hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, f.readline().split()[1:9])
    tick = os.sysconf("SC_CLK_TCK")
    return (user + nice + system + irq + softirq) / tick, steal / tick


@dataclass
class Span:
    call: str
    group: str
    pass_no: int
    start_ms: float
    end_ms: float
    cpu_s: float = 0.0
    steal_s: float = 0.0
    status: dict[str, int] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


class Recorder:
    """Owns the spans of one run; ``pass_no`` tags spans of the current pass."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.pass_no = -1  # -1: set-up and warm-up, never reported

    @contextmanager
    def span(self, call: str):
        group = f"perfbench:{call}:{len(self.spans)}"
        self.sc.setJobGroup(group, call)
        cpu0, steal0 = host_cpu_s()
        start = time.time() * 1000.0
        try:
            yield
        finally:
            end = time.time() * 1000.0
            cpu1, steal1 = host_cpu_s()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(Span(call, group, self.pass_no, start, end, cpu1 - cpu0, steal1 - steal0))

    def collect_status(self) -> None:
        """Store the status-tracker counters on every timed span; call while
        Spark is still up."""
        # the tracker is fed asynchronously; let it catch up first
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        for span in (s for s in self.spans if s.pass_no >= 0):
            span.status = self._status_counters(span)

    def _status_counters(self, span: Span) -> dict[str, int]:
        """Jobs, stages that ran, tasks and failed tasks of one span."""
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(span.group)
        stage_ids: set[int] = set()
        for job in jobs:
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = tasks = failed = 0
        for sid in stage_ids:
            info = tracker.getStageInfo(sid)
            # a skipped stage (its shuffle output reused) completes no task
            if info is None or info.numCompletedTasks + info.numFailedTasks == 0:
                continue
            stages += 1
            tasks += info.numCompletedTasks
            failed += info.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


@dataclass
class GroupLog:
    """Event-log totals for one job group."""

    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    fetch_wait_s: float = 0.0
    spill_bytes: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    scheduler_delay_s: float = 0.0
    broadcast_joins: int = 0
    shuffled_hash_joins: int = 0
    write_s: float = 0.0  # SQL executions that write files (durable checkpoints)

    def job_s(self) -> float:
        """Wall seconds covered by at least one of the group's jobs."""
        covered, reach = 0.0, float("-inf")
        for start, end in sorted(self.job_intervals):
            if end > reach:
                covered += end - max(start, reach)
                reach = end
        return covered / 1000.0


def _plan_nodes(plan: dict, out: list[str]) -> list[str]:
    out.append(plan.get("nodeName", ""))
    for child in plan.get("children", []):
        _plan_nodes(child, out)
    return out


def read_event_log(log_dir: str) -> dict[str, GroupLog]:
    """Parse every event file under ``log_dir`` into per-job-group totals."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    groups: dict[str, GroupLog] = defaultdict(GroupLog)
    stage_group: dict[int, str] = {}
    job_start: dict[int, tuple[str, float]] = {}
    sql: dict[int, dict] = {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                job_start[ev["Job ID"]] = (group, ev["Submission Time"])
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_start:
            group, start = job_start.pop(ev["Job ID"])
            groups[group].job_intervals.append((start, ev["Completion Time"]))
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                stage_group[ev["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            metrics = ev.get("Task Metrics")
            if group is None or metrics is None:
                continue
            g, info = groups[group], ev["Task Info"]
            read, write = metrics["Shuffle Read Metrics"], metrics["Shuffle Write Metrics"]
            g.shuffle_write_bytes += write["Shuffle Bytes Written"]
            g.shuffle_read_bytes += read["Remote Bytes Read"] + read["Local Bytes Read"]
            g.fetch_wait_s += read["Fetch Wait Time"] / 1000.0
            g.spill_bytes += metrics["Disk Bytes Spilled"]
            g.executor_run_s += metrics["Executor Run Time"] / 1000.0
            g.executor_cpu_s += metrics["Executor CPU Time"] / 1e9
            g.gc_s += metrics["JVM GC Time"] / 1000.0
            # the Spark UI's definition: task wall not spent deserializing,
            # running, serializing the result or fetching it
            overhead = (
                metrics["Executor Run Time"]
                + metrics["Executor Deserialize Time"]
                + metrics["Result Serialization Time"]
                + info.get("Getting Result Time", 0)
            )
            g.scheduler_delay_s += max(0, info["Finish Time"] - info["Launch Time"] - overhead) / 1000.0
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            sql[ev["executionId"]] = {
                "group": ev.get("jobGroupId"),
                "start": ev["time"],
                "plan": ev["sparkPlanInfo"],
            }
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate") and ev["executionId"] in sql:
            sql[ev["executionId"]]["plan"] = ev["sparkPlanInfo"]
        elif kind.endswith("SparkListenerSQLExecutionEnd") and ev["executionId"] in sql:
            sql[ev["executionId"]]["end"] = ev["time"]
    for ex in sql.values():
        if not ex["group"]:
            continue
        g = groups[ex["group"]]
        nodes = _plan_nodes(ex["plan"], [])
        g.broadcast_joins += nodes.count("BroadcastHashJoin")
        g.shuffled_hash_joins += nodes.count("ShuffledHashJoin")
        if "end" in ex and any("InsertIntoHadoopFsRelationCommand" in n for n in nodes):
            g.write_s += (ex["end"] - ex["start"]) / 1000.0
    return dict(groups)


EVENT_COUNTERS = (
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "fetch_wait_s",
    "spill_bytes",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "scheduler_delay_s",
)
STATUS_COUNTERS = ("jobs", "stages", "tasks", "failed_tasks")
TRACED_COUNTERS = ("s",) + EVENT_COUNTERS + ("driver_gap_s", "broadcast_joins", "shuffled_hash_joins")
UNITS = {
    "s": "s",
    "shuffle_write_bytes": "bytes",
    "shuffle_read_bytes": "bytes",
    "fetch_wait_s": "s",
    "spill_bytes": "bytes",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "scheduler_delay_s": "s",
    "driver_gap_s": "s",
}  # the rest are counts


def call_counters(rec: Recorder, call: str, logs: dict[str, GroupLog] | None = None) -> dict[str, float]:
    """Counters of one call summed over its spans in each timed pass that
    makes it, then the median over those passes; 0 for a call the workload
    does not make.

    Status-tracker counters always; with ``logs`` also the event-log ones."""
    keys = STATUS_COUNTERS + (TRACED_COUNTERS if logs is not None else ())
    per_pass = []
    for p in sorted({s.pass_no for s in rec.spans if s.pass_no >= 0 and s.call == call}):
        totals = dict.fromkeys(keys, 0)
        for span in (s for s in rec.spans if s.call == call and s.pass_no == p):
            for k, v in span.status.items():
                totals[k] += v
            if logs is None:
                continue
            g = logs.get(span.group, GroupLog())
            totals["s"] += span.seconds
            for k in EVENT_COUNTERS:
                totals[k] += getattr(g, k)
            totals["driver_gap_s"] += span.seconds - g.job_s()
            totals["broadcast_joins"] += g.broadcast_joins
            totals["shuffled_hash_joins"] += g.shuffled_hash_joins
        per_pass.append(totals)
    if not per_pass:
        return dict.fromkeys(keys, 0)
    return {k: statistics.median(t[k] for t in per_pass) for k in keys}
