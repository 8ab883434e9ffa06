"""Tracing for the benchmark: spans around each call into an engine
layer, Spark's own event log, and a process-tree memory sampler.

Spans are recorded by the benchmark, around calls into the engine; the
event log supplies what Spark did inside them (jobs, stages, task
metrics, SQL plans). A job belongs to a span when it was submitted
inside the span's interval; a streaming job belongs to its query
through the ``sql.streaming.queryId`` job property; a write belongs to
the table it wrote through the output path in its SQL plan.
"""

from __future__ import annotations

import glob
import json
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


class Tracer:
    """In-memory spans; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()


@dataclass
class Job:
    submit: float
    stages: list[int]
    props: dict


@dataclass
class StageTotals:
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write: int = 0
    input_bytes: int = 0
    spill_disk: int = 0
    output_bytes: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, StageTotals] = field(default_factory=dict)
    plans: dict[int, str] = field(default_factory=dict)  # execution id → physical plan text
    plan_info: dict[int, dict] = field(default_factory=dict)  # execution id → latest plan tree

    @classmethod
    def read(cls, log_dir: str) -> "EventLog":
        """Parse every event file under ``log_dir`` (Spark 4 writes a
        rolling log: a directory of ``events_<n>_<app>`` files)."""
        log = cls()
        for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
            with open(path) as fh:
                for line in fh:
                    log._add(json.loads(line))
        return log

    def _add(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            self.jobs[ev["Job ID"]] = Job(ev["Submission Time"] / 1000.0, ev["Stage IDs"], ev.get("Properties") or {})
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                return
            st = self.stages.setdefault(ev["Stage ID"], StageTotals())
            st.tasks += 1
            st.run_ms += m.get("Executor Run Time", 0)
            st.cpu_ns += m.get("Executor CPU Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            st.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            st.spill_disk += m.get("Disk Bytes Spilled", 0)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.plans[ev["executionId"]] = ev.get("physicalPlanDescription", "")
            self.plan_info[ev["executionId"]] = ev.get("sparkPlanInfo") or {}
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            self.plan_info[ev["executionId"]] = ev.get("sparkPlanInfo") or {}

    def jobs_between(self, start: float, end: float) -> list[int]:
        return [j for j, job in self.jobs.items() if start <= job.submit <= end]

    def jobs_where(self, prop: str, value: str) -> list[int]:
        return [j for j, job in self.jobs.items() if job.props.get(prop) == value]

    def execution_of(self, job: int) -> int | None:
        v = self.jobs[job].props.get("spark.sql.execution.id")
        return int(v) if v is not None else None

    def totals(self, jobs: list[int]) -> dict:
        """Summed task metrics over the stages of ``jobs`` that ran tasks."""
        stage_ids = {s for j in jobs for s in self.jobs[j].stages if s in self.stages}
        sts = [self.stages[s] for s in stage_ids]
        return {
            "jobs": len(jobs),
            "stages": len(sts),
            "tasks": sum(s.tasks for s in sts),
            "executor_run_s": sum(s.run_ms for s in sts) / 1000.0,
            "executor_cpu_s": sum(s.cpu_ns for s in sts) / 1e9,
            "gc_s": sum(s.gc_ms for s in sts) / 1000.0,
            "shuffle_write_bytes": sum(s.shuffle_write for s in sts),
            "input_bytes": sum(s.input_bytes for s in sts),
            "output_bytes": sum(s.output_bytes for s in sts),
            "spill_disk_bytes": sum(s.spill_disk for s in sts),
        }

    def writes_to(self, table: str) -> list[int]:
        """Jobs of SQL executions whose plan writes a path ending in ``table``."""
        pat = re.compile(r"InsertIntoHadoopFsRelationCommand\nInput: .*\nArguments: \S*/" + re.escape(table) + r",")
        execs = {e for e, plan in self.plans.items() if pat.search(plan)}
        return [j for j in self.jobs if self.execution_of(j) in execs]

    def exchanges(self, jobs: list[int]) -> int:
        """Exchange operators in the final plans of the executions behind ``jobs``."""
        execs = {self.execution_of(j) for j in jobs} - {None}

        def count(node: dict) -> int:
            name = node.get("nodeName", "")
            own = 1 if name.endswith("Exchange") and not name.startswith("Reused") else 0
            return own + sum(count(c) for c in node.get("children", []))

        return sum(count(self.plan_info.get(e, {})) for e in execs)


class TreeSampler(threading.Thread):
    """Peak PSS (MB) of this process and its descendants, from
    /proc/<pid>/smaps_rollup; PSS counts each shared page once."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_mb = 0.0
        self._halt = threading.Event()

    @staticmethod
    def tree_pids() -> set[int]:
        parent: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    with open(f"/proc/{name}/stat") as fh:
                        parent[int(name)] = int(fh.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
        tree, grew = {os.getpid()}, True
        while grew:
            grew = False
            for p, pp in parent.items():
                if pp in tree and p not in tree:
                    tree.add(p)
                    grew = True
        return tree

    @classmethod
    def pss_mb(cls) -> float:
        total = 0.0
        for p in cls.tree_pids():
            try:
                with open(f"/proc/{p}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) / 1024.0
                            break
            except OSError:
                continue
        return total

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak_mb = max(self.peak_mb, self.pss_mb())
            self._halt.wait(self.interval)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        self.peak_mb = max(self.peak_mb, self.pss_mb())
        return self.peak_mb
