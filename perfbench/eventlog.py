"""Read a Spark event log (uncompressed JSON lines) and attribute task
metrics to physical-plan nodes.

Spark writes one ``SparkListenerSQLExecutionStart`` per query and one
``SparkListenerSQLAdaptiveExecutionUpdate`` per AQE re-plan. Both carry
the plan tree (``sparkPlanInfo``) whose SQL metrics are accumulators;
every ``SparkListenerTaskEnd`` lists the accumulator updates it made.
Summing the updates per accumulator id therefore gives each plan node's
metrics, whichever stage or job ran it. Stage-level task metrics (CPU,
GC, shuffle, spill) are summed per stage, and stages are tied to jobs
and jobs to wall-clock windows, so a caller can split the log by the
windows it timed (one crawl wave, one query).

Only the standard library is used, so the parser runs without Spark.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field
from typing import Dict, Iterable, List, Optional, Tuple

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"

# python-runner SQL metrics (Spark 4.x names)
PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
OUT_ROWS = "number of output rows"


@dataclass
class Node:
    """One physical-plan node with its metric accumulator ids."""

    name: str
    desc: str
    metrics: Dict[str, int]  # metric name -> accumulator id
    children: List["Node"] = field(default_factory=list)
    parent: Optional["Node"] = None

    def walk(self) -> Iterable["Node"]:
        yield self
        for c in self.children:
            yield from c.walk()


@dataclass
class Stage:
    """Task metrics of one stage, summed over its finished tasks."""

    tasks: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    peak_mem: int = 0


@dataclass
class Job:
    job_id: int
    start_ms: int
    end_ms: int = 0
    execution: Optional[int] = None
    stages: List[int] = field(default_factory=list)


class EventLog:
    """Parsed view of one application's event log."""

    def __init__(self) -> None:
        self.plans: Dict[int, Node] = {}  # execution id -> latest plan tree
        self.exec_start: Dict[int, int] = {}  # execution id -> epoch ms
        self.jobs: Dict[int, Job] = {}
        self.stages: Dict[int, Stage] = {}
        self.accum: Dict[int, int] = {}  # accumulator id -> summed updates
        # per task: (records read, accumulator ids it updated)
        self.task_accums: List[Tuple[int, set]] = []

    # ----- construction ----------------------------------------------

    @classmethod
    def read(cls, path: str) -> "EventLog":
        log = cls()
        with open(path, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if line:
                    log._event(json.loads(line))
        return log

    def _event(self, e: dict) -> None:
        kind = e.get("Event")
        if kind in (SQL_START, SQL_UPDATE):
            self.plans[e["executionId"]] = _tree(e["sparkPlanInfo"])
            if kind == SQL_START:
                self.exec_start[e["executionId"]] = e["time"]
        elif kind == DRIVER_ACCUM:
            for acc_id, value in e.get("accumUpdates", []):
                self.accum[acc_id] = self.accum.get(acc_id, 0) + int(value)
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            job = Job(
                e["Job ID"], e["Submission Time"],
                execution=int(ex) if ex is not None else None,
                stages=list(e.get("Stage IDs", [])),
            )
            self.jobs[job.job_id] = job
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]].end_ms = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            self._task_end(e)

    def _task_end(self, e: dict) -> None:
        st = self.stages.setdefault(e["Stage ID"], Stage())
        m = e.get("Task Metrics") or {}
        st.tasks += 1
        st.cpu_ns += m.get("Executor CPU Time", 0)
        st.gc_ms += m.get("JVM GC Time", 0)
        sr = m.get("Shuffle Read Metrics", {})
        sw = m.get("Shuffle Write Metrics", {})
        st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        st.shuffle_write += sw.get("Shuffle Bytes Written", 0)
        st.spill += m.get("Disk Bytes Spilled", 0)
        st.peak_mem = max(st.peak_mem, m.get("Peak Execution Memory", 0))
        records = sr.get("Total Records Read", 0) + (m.get("Input Metrics") or {}).get("Records Read", 0)
        updated = set()
        for a in (e.get("Task Info") or {}).get("Accumulables", []):
            if "Update" not in a or a.get("Name", "").startswith("internal.metrics."):
                continue  # task metrics are read from "Task Metrics" above
            try:
                v = int(a["Update"])
            except (TypeError, ValueError):
                continue  # python/string accumulators carry no SQL metric
            updated.add(a["ID"])
            self.accum[a["ID"]] = self.accum.get(a["ID"], 0) + v
        self.task_accums.append((records, updated))

    # ----- plan-node queries -----------------------------------------

    def nodes(self, executions: Optional[Iterable[int]] = None) -> List[Node]:
        """Plan nodes of the given executions (all by default), each
        physical node once: a node seen under several executions or AQE
        re-plans keeps the same accumulator ids and is deduplicated."""
        ids = sorted(self.plans) if executions is None else sorted(set(executions))
        seen: set = set()
        out: List[Node] = []
        for ex in ids:
            for n in self.plans[ex].walk():
                key = tuple(sorted(n.metrics.values())) or (id(n),)
                if key in seen:
                    continue
                seen.add(key)
                out.append(n)
        return out

    def value(self, node: Node, metric: str) -> int:
        acc = node.metrics.get(metric)
        return self.accum.get(acc, 0) if acc is not None else 0

    def rows_into(self, node: Node) -> int:
        """Rows that reached ``node`` from its children: the nearest
        row-counting descendant on each child branch."""
        total = 0
        for child in node.children:
            total += _rows_out(self, child)
        return total

    def node_task_records(self, node: Node) -> List[int]:
        """Per-task records read by the tasks that ran ``node``."""
        ids = set(node.metrics.values())
        return [rec for rec, updated in self.task_accums if ids & updated]

    # ----- time windows ----------------------------------------------

    def jobs_in(self, start_ms: float, end_ms: float) -> List[Job]:
        return [j for j in self.jobs.values() if start_ms <= j.start_ms < end_ms]

    def executions_in(self, start_ms: float, end_ms: float) -> List[int]:
        return [ex for ex, s in self.exec_start.items() if start_ms <= s < end_ms]

    def stages_of(self, jobs: Iterable[Job]) -> List[Stage]:
        """Stages that ran (had tasks) for the given jobs."""
        sids = {sid for j in jobs for sid in j.stages}
        return [self.stages[s] for s in sorted(sids) if s in self.stages and self.stages[s].tasks]

    def busy_ms(self, start_ms: float, end_ms: float) -> float:
        """Part of [start, end) covered by at least one running job."""
        spans = sorted(
            (max(j.start_ms, start_ms), min(j.end_ms or end_ms, end_ms))
            for j in self.jobs.values()
            if j.start_ms < end_ms and (j.end_ms or end_ms) > start_ms
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return covered


def _tree(info: dict, parent: Optional[Node] = None) -> Node:
    node = Node(
        name=info.get("nodeName", ""),
        desc=info.get("simpleString", ""),
        metrics={m["name"]: m["accumulatorId"] for m in info.get("metrics", [])},
        parent=parent,
    )
    node.children = [_tree(c, node) for c in info.get("children", [])]
    return node


def _rows_out(log: EventLog, node: Node) -> int:
    if "records read" in node.metrics:
        return log.value(node, "records read")
    if OUT_ROWS in node.metrics:
        return log.value(node, OUT_ROWS)
    return sum(_rows_out(log, c) for c in node.children)


def skew(records: List[int]) -> float:
    """max / median of per-task record counts (1.0 = perfectly even)."""
    nonzero = [r for r in records if r > 0]
    if not nonzero:
        return 0.0
    return max(nonzero) / statistics.median(nonzero)
