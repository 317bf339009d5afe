"""Per-layer measurements for traced runs.

* ``EventLog`` reads a Spark event log (single uncompressed file, as the
  traced run configures it) and sums, per job description, the jobs,
  stages, tasks, task CPU, GC and shuffle bytes, plus the union of task
  running intervals, from which an operation's scheduler gap follows:
  its wall time minus the time any task was running. Ported from the
  stage profiler in ``tools/profile_query.py``, which keeps its own copy.
* ``catalyst_phases`` reads the analysis / optimization / planning
  phase durations that ``QueryExecution``'s tracker records.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict


def _merge(intervals: list[tuple[int, int]]) -> int:
    """Total length covered by a set of [start, end) intervals."""
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


class Group:
    """Execution counters of the jobs that share one description."""

    def __init__(self) -> None:
        self.jobs: set[int] = set()
        self.stages: set[int] = set()
        self.tasks = 0
        self.cpu_ns = 0
        self.gc_ms = 0
        self.shuffle_read = 0
        self.shuffle_write = 0
        self.intervals: list[tuple[int, int]] = []

    def add(self, other: "Group") -> None:
        self.jobs |= other.jobs
        self.stages |= other.stages
        self.tasks += other.tasks
        self.cpu_ns += other.cpu_ns
        self.gc_ms += other.gc_ms
        self.shuffle_read += other.shuffle_read
        self.shuffle_write += other.shuffle_write
        self.intervals += other.intervals

    def busy_s(self) -> float:
        return _merge(self.intervals) / 1e3

    def metrics(self, wall_s: float | None = None) -> dict[str, float]:
        out = {
            "exec.jobs": len(self.jobs),
            "exec.stages": len(self.stages),
            "exec.tasks": self.tasks,
            "exec.task_cpu_s": self.cpu_ns / 1e9,
            "exec.gc_s": self.gc_ms / 1e3,
            "exec.shuffle_read_bytes": self.shuffle_read,
            "exec.shuffle_write_bytes": self.shuffle_write,
        }
        if wall_s is not None:
            out["exec.sched_gap_s"] = max(0.0, wall_s - self.busy_s())
        return out


class EventLog:
    """Counters from one application's event log, grouped by the
    ``spark.job.description`` each job carried."""

    def __init__(self, path: str) -> None:
        self.app_start_ms = None
        self.app_end_ms = None
        self.groups: dict[str, Group] = defaultdict(Group)
        stage_desc: dict[int, str] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerApplicationStart":
                    self.app_start_ms = ev["Timestamp"]
                elif kind == "SparkListenerApplicationEnd":
                    self.app_end_ms = ev["Timestamp"]
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    desc = props.get("spark.job.description") or ""
                    self.groups[desc].jobs.add(ev["Job ID"])
                    for sid in ev.get("Stage IDs", []):
                        stage_desc.setdefault(sid, desc)
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    self.groups[stage_desc.get(sid, "")].stages.add(sid)
                elif kind == "SparkListenerTaskEnd":
                    g = self.groups[stage_desc.get(ev["Stage ID"], "")]
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    g.tasks += 1
                    g.cpu_ns += int(m.get("Executor CPU Time", 0))
                    g.gc_ms += int(m.get("JVM GC Time", 0))
                    rd = m.get("Shuffle Read Metrics") or {}
                    g.shuffle_read += int(rd.get("Remote Bytes Read", 0)) + int(
                        rd.get("Local Bytes Read", 0)
                    )
                    wr = m.get("Shuffle Write Metrics") or {}
                    g.shuffle_write += int(wr.get("Shuffle Bytes Written", 0))
                    if info.get("Launch Time") and info.get("Finish Time"):
                        g.intervals.append((info["Launch Time"], info["Finish Time"]))

    @classmethod
    def single(cls, directory: str) -> "EventLog":
        """The one event log an application wrote under ``directory``."""
        logs = [f for f in os.listdir(directory) if not f.endswith(".inprogress")]
        if len(logs) != 1:
            raise RuntimeError(f"expected one event log in {directory}, found {logs}")
        return cls(os.path.join(directory, logs[0]))

    def matching(self, pred) -> Group:
        out = Group()
        for desc, g in self.groups.items():
            if pred(desc):
                out.add(g)
        return out


def catalyst_phases(df) -> dict[str, float]:
    """Force the physical plan of ``df`` and return the tracker's phase
    durations in seconds (analysis happened when ``df`` was built)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        ph = phases.get(name)
        out[name] = ph.get().durationMs() / 1e3 if ph.isDefined() else 0.0
    return out
