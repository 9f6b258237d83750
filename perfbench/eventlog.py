"""Per-layer numbers from a Spark event log (uncompressed, not rolling).

Jobs are attributed to benchmark phases through their job group
(``SparkContext.setJobGroup``): every task of every stage a job ran is
credited to that job's group. Python-worker figures come from the SQL
accumulables Spark attaches to the task-end events of ``mapInPandas``
operators; shuffle, GC and run times from the task metrics.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"


@dataclass
class Task:
    stage: int
    failed: bool
    run_ms: float
    gc_ms: float
    shuffle_bytes_read: int
    shuffle_bytes_written: int
    shuffle_write_ms: float
    fetch_wait_ms: float
    sql: dict[str, float]   # accumulable name -> this task's update


@dataclass
class Group:
    """Everything the jobs of one job group did."""

    start_ms: float = float("inf")
    end_ms: float = 0.0
    tasks: list[Task] = field(default_factory=list)

    @property
    def wall_ms(self) -> float:
        return self.end_ms - self.start_ms

    def stages(self) -> dict[int, list[Task]]:
        by_stage: dict[int, list[Task]] = {}
        for t in self.tasks:
            by_stage.setdefault(t.stage, []).append(t)
        return by_stage

    def total(self, key: str) -> float:
        return sum(t.sql.get(key, 0.0) for t in self.tasks)


def _task(ev: dict) -> Task:
    m = ev.get("Task Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sql = {}
    for acc in ev["Task Info"].get("Accumulables", []):
        if acc.get("Metadata") == "sql" and "Update" in acc:
            name = acc["Name"]
            sql[name] = sql.get(name, 0.0) + float(acc["Update"])
    return Task(
        stage=ev["Stage ID"],
        failed=ev["Task Info"].get("Failed", False),
        run_ms=float(m.get("Executor Run Time", 0)),
        gc_ms=float(m.get("JVM GC Time", 0)),
        shuffle_bytes_read=int(sr.get("Local Bytes Read", 0))
        + int(sr.get("Remote Bytes Read", 0)),
        shuffle_bytes_written=int(sw.get("Shuffle Bytes Written", 0)),
        shuffle_write_ms=sw.get("Shuffle Write Time", 0) / 1e6,
        fetch_wait_ms=float(sr.get("Fetch Wait Time", 0)),
        sql=sql,
    )


def read_groups(path: str) -> dict[str, Group]:
    """Parse the log at ``path`` into job groups keyed by group id."""
    groups: dict[str, Group] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if gid is None:
                    continue
                g = groups.setdefault(gid, Group())
                g.start_ms = min(g.start_ms, ev["Submission Time"])
                job_group[ev["Job ID"]] = gid
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = gid
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_group:
                g = groups[job_group[ev["Job ID"]]]
                g.end_ms = max(g.end_ms, ev["Completion Time"])
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_group:
                groups[stage_group[ev["Stage ID"]]].tasks.append(_task(ev))
    return groups


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
