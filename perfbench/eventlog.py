"""Reader for Spark's JSON event log (``spark.eventLog.compress=false``).

Parses jobs, stages, task metrics and the per-operator SQL metrics
(accumulators keyed by id, resolved to operator and metric names
through the plan trees in ``SQLExecutionStart`` and
``SQLAdaptiveExecutionUpdate``).  Times are converted to epoch seconds.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
SQL_DRIVER_ACCUMS = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"
#: operator names of file scans (not ``Scan ExistingRDD``, a checkpoint read)
FILE_SCAN = re.compile(r"^Scan (parquet|text|csv|json|orc)\b")


@dataclass
class Job:
    id: int
    group: str
    execution: int | None
    submit: float
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class Stage:
    id: int
    submit: float = 0.0
    complete: float = 0.0
    scopes: set[str] = field(default_factory=set)  # operator names of its RDDs
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    input_bytes: float = 0.0
    output_bytes: float = 0.0
    shuffle_write_bytes: float = 0.0
    shuffle_write_ns: float = 0.0
    shuffle_records: float = 0.0
    fetch_wait_ms: float = 0.0
    spill_bytes: float = 0.0

    @property
    def reads_files(self) -> bool:
        return any(FILE_SCAN.match(s) for s in self.scopes)


@dataclass
class Node:
    name: str
    desc: str
    children: list["Node"]
    metrics: dict[str, tuple[int, str]]  # metric name -> (accumulator id, type)


@dataclass
class Execution:
    id: int
    start: float
    plans: list[Node] = field(default_factory=list)  # initial, then each AQE update


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)
    executions: dict[int, Execution] = field(default_factory=dict)
    accums: dict[int, float] = field(default_factory=dict)

    def value(self, acc_id: int) -> float:
        return self.accums.get(acc_id, 0.0)

    def operators(self, execution: int):
        """Every operator of the execution's final plan, each parent
        before its children."""
        ex = self.executions.get(execution)
        stack = [ex.plans[-1]] if ex and ex.plans else []
        while stack:
            node = stack.pop()
            yield node
            stack.extend(node.children)

    def metric_ids(self, execution: int) -> dict[int, tuple[str, str, str]]:
        """accumulator id → (operator name, metric name, metric type) over
        every plan version of the execution, each id once."""
        out: dict[int, tuple[str, str, str]] = {}
        ex = self.executions.get(execution)
        for plan in ex.plans if ex else []:
            stack = [plan]
            while stack:
                node = stack.pop()
                for mname, (acc, mtype) in node.metrics.items():
                    out[acc] = (node.name, mname, mtype)
                stack.extend(node.children)
        return out


def _plan(info: dict) -> Node:
    return Node(
        name=info.get("nodeName", ""),
        desc=info.get("simpleString", ""),
        children=[_plan(c) for c in info.get("children", [])],
        metrics={m["name"]: (m["accumulatorId"], m["metricType"]) for m in info.get("metrics", [])},
    )


def confs(event_dir: str) -> dict[str, str]:
    """Spark confs that log the application to one uncompressed event
    file under ``event_dir``.  Spark 4 compresses event logs with zstd,
    which this Python cannot read, and rolls them into directories of
    parts by default."""
    return {"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false", "spark.eventLog.dir": event_dir}


def log_file(event_dir: str) -> str:
    """The one finished event file of the application logged under
    ``event_dir`` (each traced run logs to a fresh directory)."""
    files = [e for e in os.listdir(event_dir) if not e.startswith(".") and not e.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"want one finished event file in {event_dir}, found {sorted(files)}")
    return os.path.join(event_dir, files[0])


def read_events(path: str):
    with open(path) as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def parse(events) -> EventLog:
    log = EventLog()
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            exe = props.get("spark.sql.execution.id")
            log.jobs[ev["Job ID"]] = Job(
                id=ev["Job ID"],
                group=props.get("spark.jobGroup.id") or "",
                execution=int(exe) if exe not in (None, "") else None,
                submit=ev["Submission Time"] / 1000.0,
                stage_ids=list(ev.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = log.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            if "Submission Time" in info and "Completion Time" in info:
                st.submit = info["Submission Time"] / 1000.0
                st.complete = info["Completion Time"] / 1000.0
            for rdd in info.get("RDD Info", []):
                scope = rdd.get("Scope")
                if scope:
                    st.scopes.add(json.loads(scope).get("name", ""))
        elif kind == "SparkListenerTaskEnd":
            _task_end(log, ev)
        elif kind == SQL_START:
            ex = log.executions.setdefault(ev["executionId"], Execution(ev["executionId"], ev["time"] / 1000.0))
            ex.plans.append(_plan(ev["sparkPlanInfo"]))
        elif kind == SQL_AQE:
            ex = log.executions.get(ev["executionId"])
            if ex:
                ex.plans.append(_plan(ev["sparkPlanInfo"]))
        elif kind == SQL_DRIVER_ACCUMS:
            for acc, val in ev.get("accumUpdates", []):
                log.accums[acc] = log.accums.get(acc, 0.0) + float(val)
    return log


def _task_end(log: EventLog, ev: dict) -> None:
    st = log.stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
    st.tasks += 1
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        if acc.get("Metadata") == "sql" and "Update" in acc:
            log.accums[acc["ID"]] = log.accums.get(acc["ID"], 0.0) + float(acc["Update"])
    m = ev.get("Task Metrics")
    if not m:
        return
    st.run_ms += m.get("Executor Run Time", 0)
    st.cpu_ns += m.get("Executor CPU Time", 0)
    st.gc_ms += m.get("JVM GC Time", 0)
    st.spill_bytes += m.get("Disk Bytes Spilled", 0)
    st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    st.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
    st.shuffle_write_ns += sw.get("Shuffle Write Time", 0)
    st.shuffle_records += sw.get("Shuffle Records Written", 0)
    st.fetch_wait_ms += (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0)


def load(event_dir: str) -> EventLog:
    return parse(read_events(log_file(event_dir)))
