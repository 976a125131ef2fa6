"""Reader for Spark's JSON event log (``spark.eventLog.enabled``).

Jobs are tied to the benchmark's calls through their job group
(``spark.jobGroup.id``, set with ``SparkContext.setJobGroup``). For a
group the reader sums the engine's task metrics, the shuffle metrics,
and the SQL metrics that the Python operators publish (boot, init and
run time of the Python workers, bytes sent to and received from
them), and gives the job, stage and task intervals as spans.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

#: SQL metric names of Spark's Python operators (PythonSQLMetrics)
#: -> (our name, scale to seconds or bytes); the times are timing
#: metrics, in milliseconds
PYTHON_SQL_METRICS = {
    "time to start Python workers": ("python_boot_s", 1e-3),
    "time to initialize Python workers": ("python_init_s", 1e-3),
    "time to run Python workers": ("python_total_s", 1e-3),
    "data sent to Python workers": ("python_bytes_sent", 1),
    "data returned from Python workers": ("python_bytes_received", 1),
}


@dataclass
class Task:
    start_ms: int
    end_ms: int
    failed: bool
    metrics: dict
    sql: dict


@dataclass
class Stage:
    stage_id: int
    #: job group of the job that submitted the stage; a later job that
    #: reuses the stage lists it too, as skipped
    group: str | None = None
    start_ms: int = 0
    end_ms: int = 0
    tasks: list[Task] = field(default_factory=list)


@dataclass
class Job:
    job_id: int
    group: str | None
    stage_ids: list[int]
    start_ms: int
    end_ms: int = 0


def _number(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


class EventLog:
    def __init__(self, lines):
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, Stage] = {}
        for line in lines:
            line = line.strip()
            if line:
                self._event(json.loads(line))

    @classmethod
    def read(cls, path: str) -> "EventLog":
        with open(path) as f:
            return cls(f)

    def _stage(self, sid: int) -> Stage:
        return self.stages.setdefault(sid, Stage(sid))

    def _event(self, e: dict) -> None:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = Job(
                e["Job ID"], props.get("spark.jobGroup.id"),
                list(e.get("Stage IDs", [])), e["Submission Time"],
            )
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(e["Job ID"])
            if job:
                job.end_ms = e["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            self._stage(e["Stage Info"]["Stage ID"]).group = props.get("spark.jobGroup.id")
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = self._stage(info["Stage ID"])
            st.start_ms = info.get("Submission Time", 0)
            st.end_ms = info.get("Completion Time", 0)
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            sql = {}
            for acc in info.get("Accumulables", []):
                name = PYTHON_SQL_METRICS.get(acc.get("Name"))
                if name:
                    sql[name[0]] = sql.get(name[0], 0.0) + _number(acc.get("Update")) * name[1]
            self._stage(e["Stage ID"]).tasks.append(Task(
                info["Launch Time"], info["Finish Time"],
                bool(info.get("Failed")) or e.get("Task End Reason", {}).get("Reason") != "Success",
                e.get("Task Metrics") or {}, sql,
            ))

    def groups(self) -> dict[str, list[Job]]:
        out: dict[str, list[Job]] = {}
        for job in sorted(self.jobs.values(), key=lambda j: j.job_id):
            out.setdefault(job.group, []).append(job)
        return out

    def group_stages(self, group: str) -> list[Stage]:
        """Stages the group's jobs submitted and ran."""
        return [st for _, st in sorted(self.stages.items())
                if st.group == group and st.tasks]

    def _job_stages(self, job: Job) -> list[Stage]:
        """Stages that ``job`` ran: listed by it, submitted by its
        group while it was running."""
        return [st for st in self.group_stages(job.group)
                if st.stage_id in job.stage_ids
                and job.start_ms <= st.start_ms <= job.end_ms]

    def group_metrics(self, group: str) -> dict[str, float]:
        """Sums over every task of the group's jobs."""
        jobs = self.groups().get(group, [])
        stages = self.group_stages(group)
        tasks = [t for st in stages for t in st.tasks]
        m = {
            "jobs": len(jobs), "stages": len(stages), "tasks": len(tasks),
            "task_failures": sum(t.failed for t in tasks),
            "executor_run_s": 0.0, "executor_cpu_s": 0.0, "jvm_gc_s": 0.0,
            "spill_bytes": 0.0, "scheduler_delay_s": 0.0,
            "shuffle_write_bytes": 0.0, "shuffle_records": 0.0,
            "shuffle_read_bytes": 0.0, "shuffle_fetch_wait_s": 0.0,
            **{v[0]: 0.0 for v in PYTHON_SQL_METRICS.values()},
        }
        for t in tasks:
            tm = t.metrics
            run_ms = _number(tm.get("Executor Run Time"))
            m["executor_run_s"] += run_ms / 1e3
            m["executor_cpu_s"] += _number(tm.get("Executor CPU Time")) / 1e9
            m["jvm_gc_s"] += _number(tm.get("JVM GC Time")) / 1e3
            m["spill_bytes"] += (_number(tm.get("Memory Bytes Spilled"))
                                 + _number(tm.get("Disk Bytes Spilled")))
            overhead_ms = (run_ms + _number(tm.get("Executor Deserialize Time"))
                           + _number(tm.get("Result Serialization Time")))
            m["scheduler_delay_s"] += max(0.0, t.end_ms - t.start_ms - overhead_ms) / 1e3
            w = tm.get("Shuffle Write Metrics") or {}
            m["shuffle_write_bytes"] += _number(w.get("Shuffle Bytes Written"))
            m["shuffle_records"] += _number(w.get("Shuffle Records Written"))
            r = tm.get("Shuffle Read Metrics") or {}
            m["shuffle_read_bytes"] += (_number(r.get("Remote Bytes Read"))
                                        + _number(r.get("Local Bytes Read")))
            m["shuffle_fetch_wait_s"] += _number(r.get("Fetch Wait Time")) / 1e3
            for k, v in t.sql.items():
                m[k] += v
        return m

    def spans(self, group: str, parent: str) -> list[dict]:
        """Job, stage and task spans of a group, each naming the span
        that caused it; times in epoch seconds."""
        out = []
        for job in self.groups().get(group, []):
            jid = f"{parent}/job{job.job_id}"
            out.append({"id": jid, "parent": parent, "level": "job",
                        "start": job.start_ms / 1e3, "end": job.end_ms / 1e3})
            for st in self._job_stages(job):
                sname = f"{jid}/stage{st.stage_id}"
                out.append({"id": sname, "parent": jid, "level": "stage",
                            "start": st.start_ms / 1e3, "end": st.end_ms / 1e3})
                for k, t in enumerate(st.tasks):
                    out.append({"id": f"{sname}/task{k}", "parent": sname,
                                "level": "task", "start": t.start_ms / 1e3,
                                "end": t.end_ms / 1e3})
        return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per span: its duration minus the part of its interval
    that its children cover."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(kids.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }
