"""Per-layer tracing: spans, Spark job groups, the StatusTracker, the plain
event log and a streaming listener.

A traced run keeps every span and op record in memory and folds them after
the session stops, when the event log is complete. Jobs are attributed to an
op by job group; jobs that run under a group the benchmark did not set (the
micro-batches of a streaming replay run under the query's own group) are
attributed by time: the client is one thread in a closed loop, so every job
submitted while an op is in flight belongs to that op.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Spark task metrics folded per op, from SparkListenerTaskEnd
TASK_METRICS = ("tasks", "input_bytes", "input_records", "shuffle_bytes", "spill_bytes",
                "gc_ms", "executor_run_ms", "executor_cpu_ms", "killed")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine since boot, from
    ``/proc/stat``. Steal is time a virtual CPU wanted to run while the host
    ran something else; (0, 0) where the kernel does not report it."""
    try:
        with open("/proc/stat") as fh:
            v = [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    return (v[7] if len(v) == 8 else 0), sum(v)


def event_log_conf(log_dir: str) -> dict[str, str]:
    # plain JSON lines: the default zstd codec cannot be read back without
    # the zstandard module, and rolling logs split the file
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Op:
    op_id: int
    kind: str
    traced: bool
    groups: list[str] = field(default_factory=list)  # job groups of a traced op
    start_ms: float = 0.0  # epoch ms, for time attribution
    end_ms: float = 0.0
    latency_ms: float = 0.0
    build_ms: float = 0.0
    exec_ms: float = 0.0
    rows: int = 0
    #: share of the machine's CPU time stolen by the host while the op ran
    steal: float = 0.0
    jobs: int = 0  # from the StatusTracker
    tracker_tasks: int = 0
    spark: dict = field(default_factory=dict)  # folded from the event log


class Tracer:
    """Collects ops and spans; with ``enabled`` false it only times ops."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.ops: list[Op] = []
        self.spans: list[dict] = []
        self.micro_batches: list[tuple[float, int]] = []  # (epoch ms, batch id)
        self._seen: dict[str, int] = {}

    def new_op(self, kind: str, groups: list[str] | None = None) -> Op:
        """Start an op. In a traced run half the ops of each kind are
        traced, in the order traced, untraced, untraced, traced, so that the
        untraced half measures the tracing overhead without a bias from the
        run's warm-up drift. An op whose callee sets its own job groups names
        them in ``groups``; otherwise a traced op runs under a group of its
        own."""
        n = self._seen.get(kind, 0)
        self._seen[kind] = n + 1
        op = Op(op_id=len(self.ops), kind=kind, traced=self.enabled and n % 4 in (0, 3))
        if op.traced:
            op.groups = groups or [f"perfbench-{op.op_id}"]
            if groups is None:
                self.sc.setJobGroup(op.groups[0], kind)
        op.start_ms = time.time() * 1000.0
        self.ops.append(op)
        return op

    def reset(self) -> None:
        """Forget the warm-up: only ops after this count."""
        self.ops.clear()
        self.spans.clear()
        self._seen.clear()

    def end_op(self, op: Op) -> None:
        op.end_ms = time.time() * 1000.0
        if not op.traced:
            return
        if op.groups[0].startswith("perfbench-"):
            self.sc.setJobGroup("perfbench-idle", "between ops")
        for g in op.groups:
            jobs, tasks = self.group_counts(g)
            op.jobs += jobs
            op.tracker_tasks += tasks

    @contextmanager
    def span(self, op: Op, name: str, parent: str | None = None):
        start = time.time()
        try:
            yield
        finally:
            if op.traced:
                self.spans.append({"name": name, "start": start, "end": time.time(),
                                   "parent": parent, "op_id": op.op_id})

    def group_counts(self, group: str) -> tuple[int, int]:
        """(jobs, tasks) the StatusTracker holds for a job group."""
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info is not None else ()):
                st = tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numTasks
        return len(jobs), tasks

    def active_tasks(self, group: str) -> int:
        tracker = self.sc.statusTracker()
        active = 0
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info is not None else ()):
                st = tracker.getStageInfo(sid)
                if st is not None:
                    active += st.numActiveTasks
        return active

    def attach_streaming_listener(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        batches = self.micro_batches

        class _Count(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                batches.append((time.time() * 1000.0, event.progress.batchId))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_Count())

    # -- after the session stops ------------------------------------------

    def fold_event_log(self, log_dir: str) -> None:
        """Fold task metrics from the plain event log into each traced op."""
        files = glob.glob(os.path.join(log_dir, "*"))
        if not files:
            return
        stage_group: dict[int, str | None] = {}
        stage_submit: dict[int, float] = {}
        job_rows: list[tuple[float, str | None]] = []
        tasks: list[tuple[int, dict, bool]] = []
        with open(files[0]) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    submit = float(ev.get("Submission Time", 0))
                    job_rows.append((submit, group))
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                        stage_submit[sid] = submit
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    killed = (ev.get("Task End Reason") or {}).get("Reason") == "TaskKilled"
                    tasks.append((ev["Stage ID"], m, killed))
        by_group = {g: op for op in self.ops if op.traced for g in op.groups}
        windows = sorted((op.start_ms, op.end_ms, op) for op in self.ops if op.traced)

        def owner(group: str | None, t: float) -> Op | None:
            if group in by_group:
                return by_group[group]
            for lo, hi, op in windows:
                if lo <= t <= hi:
                    return op
            return None

        for op in self.ops:
            op.spark = {k: 0.0 for k in TASK_METRICS}
            op.spark["log_jobs"] = 0.0
        for submit, group in job_rows:
            op = owner(group, submit)
            if op is not None:
                op.spark["log_jobs"] += 1
        for sid, m, killed in tasks:
            op = owner(stage_group.get(sid), stage_submit.get(sid, -1.0))
            if op is None:
                continue
            s = op.spark
            inp = m.get("Input Metrics") or {}
            shr = m.get("Shuffle Read Metrics") or {}
            s["tasks"] += 1
            s["killed"] += 1 if killed else 0
            s["input_bytes"] += inp.get("Bytes Read", 0)
            s["input_records"] += inp.get("Records Read", 0)
            s["shuffle_bytes"] += shr.get("Remote Bytes Read", 0) + shr.get("Local Bytes Read", 0)
            s["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            s["gc_ms"] += m.get("JVM GC Time", 0)
            s["executor_run_ms"] += m.get("Executor Run Time", 0)
            s["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6

    def write_spans(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
