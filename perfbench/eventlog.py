"""Reader for a Spark event log (uncompressed, not rolled).

Only the benchmark's own session writes one, and only in a traced run. Jobs
are attributed to the benchmark's spans by submission time (one batch job
runs at a time, so a job submitted inside a span belongs to it), to
program call sites by the ``callSite.short`` property Spark records for
Python-side actions or by stage name (``localCheckpoint at ...``), and to
the SQL execution (one per DataFrame action, e.g. one ``localCheckpoint``)
that submitted them.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field


@dataclass
class Job:
    job_id: int
    submit_s: float
    end_s: float = 0.0
    call_site: str = ""
    stage_ids: list[int] = field(default_factory=list)
    execution: int | None = None  # SQL execution id, None outside one

    @property
    def wall_s(self) -> float:
        return max(0.0, self.end_s - self.submit_s)


@dataclass
class Stage:
    name: str = ""
    end_s: float = 0.0
    scopes: set[str] = field(default_factory=set)  # operator names of its RDDs
    accums: dict[int, int] = field(default_factory=dict)  # SQL metric id -> value
    cpu_s: float = 0.0  # executor (JVM thread) CPU, not the Python workers
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    task_s: list[float] = field(default_factory=list)
    # a stage that reads a file and writes a file: the extract-and-sink
    # stage of a job (not a shuffle side, a read-back or a lineage append)
    reads_file: bool = False
    writes_file: bool = False


@dataclass
class Execution:
    description: str = ""
    plan: dict = field(default_factory=dict)  # latest (adaptive) plan


SQL_EVENT = "org.apache.spark.sql.execution.ui.SparkListenerSQL"


class EventLog:
    def __init__(self, path: str):
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, Stage] = {}
        self.executions: dict[int, Execution] = {}
        with open(path, encoding="utf-8") as f:
            for line in f:
                self._event(json.loads(line))

    def _stage(self, stage_id: int) -> Stage:
        return self.stages.setdefault(stage_id, Stage())

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            self.jobs[ev["Job ID"]] = Job(
                job_id=ev["Job ID"],
                submit_s=ev["Submission Time"] / 1000,
                call_site=props.get("callSite.short") or "",
                stage_ids=list(ev.get("Stage IDs", [])),
                execution=(int(props["spark.sql.execution.id"])
                           if props.get("spark.sql.execution.id") else None),
            )
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_s = ev["Completion Time"] / 1000
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = self._stage(info["Stage ID"])
            st.name = info.get("Stage Name", "")
            st.end_s = info["Completion Time"] / 1000
            st.scopes = {json.loads(r["Scope"])["name"]
                         for r in info.get("RDD Info", []) if r.get("Scope")}
            st.accums = {a["ID"]: int(a["Value"])
                         for a in info.get("Accumulables", [])
                         if str(a.get("Value", "")).isdigit()}
        elif kind == SQL_EVENT + "ExecutionStart":
            self.executions[ev["executionId"]] = Execution(
                ev.get("description", ""), ev.get("sparkPlanInfo") or {})
        elif kind == SQL_EVENT + "AdaptiveExecutionUpdate":
            ex = self.executions.get(ev["executionId"])
            if ex is not None:
                ex.plan = ev.get("sparkPlanInfo") or ex.plan
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            info = ev["Task Info"]
            st = self._stage(ev["Stage ID"])
            st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.gc_s += m.get("JVM GC Time", 0) / 1000
            st.shuffle_write_bytes += (
                m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            )
            st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            st.task_s.append((info["Finish Time"] - info["Launch Time"]) / 1000)
            st.reads_file |= m.get("Input Metrics", {}).get("Records Read", 0) > 0
            st.writes_file |= m.get("Output Metrics", {}).get("Records Written", 0) > 0

    def jobs_between(self, t0: float, t1: float) -> list[Job]:
        return [j for j in self.jobs.values() if t0 <= j.submit_s <= t1]

    def stages_of(self, jobs: list[Job]) -> list[Stage]:
        ids = {s for j in jobs for s in j.stage_ids}
        # a stage listed by a job but skipped (its shuffle output reused)
        # has no tasks and no completion event
        return [self.stages[s] for s in sorted(ids) if s in self.stages]

    def summary(self, jobs: list[Job]) -> dict:
        stages = self.stages_of(jobs)
        tasks = sorted(t for s in stages if s.reads_file and s.writes_file
                       for t in s.task_s)
        median = tasks[len(tasks) // 2] if tasks else 0.0
        return {
            "cpu_s": sum(s.cpu_s for s in stages),
            "gc_s": sum(s.gc_s for s in stages),
            "shuffle_bytes": sum(s.shuffle_write_bytes for s in stages),
            "spill_bytes": sum(s.spill_bytes for s in stages),
            # over the extract-and-sink stages only
            "task_skew": tasks[-1] / median if median > 0 else 0.0,
        }

    def wall_where(self, jobs: list[Job], pred) -> float:
        """Summed wall of the jobs for which ``pred(job, stage_names)``."""
        total = 0.0
        for j in jobs:
            names = [self.stages[s].name for s in j.stage_ids if s in self.stages]
            if pred(j, names):
                total += j.wall_s
        return total

    def output_rows(self, execution: int) -> int:
        """Rows out of the top operator of an execution's final plan that
        counts them (a ``localCheckpoint``'s plan: the rows it holds)."""
        todo = [self.executions[execution].plan]
        while todo:
            node = todo.pop(0)
            for m in node.get("metrics", []):
                if m["name"] == "number of output rows":
                    return max((s.accums.get(m["accumulatorId"], 0)
                                for s in self.stages.values()), default=0)
            todo[:0] = node.get("children", [])
        return 0
