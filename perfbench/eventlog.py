"""Fold a Spark event log into per-span numbers.

A traced run starts its session with ``spark.eventLog.enabled`` and an
uncompressed log.  The benchmark records a span (name, start, end, in
wall-clock seconds) around each call into a layer.  Afterwards,
``fold`` reads the log and attributes every job to the span whose
interval holds the job's submission time.  The workloads are closed
loops with one client, so top-level spans never overlap and each job
lands in exactly one span.  Time-window attribution is used instead of
job groups because the backfill submits its jobs from pool threads,
which do not inherit the calling thread's job group.

Per span, the fold sums task metrics (run time, CPU, GC, shuffle,
spill, input and output) over the span's stages, and sums SQL operator
metrics by name, optionally restricted to plan nodes whose description
contains a marker (for example a table directory).  Operator metrics
are found through the accumulator ids in each SQL execution's plan.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."


@dataclass
class Span:
    name: str
    start: float
    end: float

    @property
    def wall_s(self) -> float:
        return self.end - self.start


@dataclass
class SpanStats:
    """Spark work attributed to one span."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    max_task_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    output_records: int = 0
    # (node description, metric name) -> summed value
    sql: dict = field(default_factory=lambda: defaultdict(int))

    def merge(self, other: "SpanStats") -> None:
        for name in ("stages", "tasks", "task_s", "cpu_s", "gc_s",
                     "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                     "input_bytes", "output_bytes", "output_records"):
            setattr(self, name, getattr(self, name) + getattr(other, name))
        self.max_task_s = max(self.max_task_s, other.max_task_s)

    def sql_metric(self, name: str, node_contains: str = "") -> int:
        return sum(
            v for (node, metric), v in self.sql.items()
            if metric == name and node_contains in node
        )


def _walk_plan(plan: dict, out: dict[int, tuple[str, str]]) -> None:
    node = f"{plan.get('nodeName', '')} {plan.get('simpleString', '')}"
    for m in plan.get("metrics", []):
        out[int(m["accumulatorId"])] = (node, m["name"])
    for child in plan.get("children", []):
        _walk_plan(child, out)


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)  # job id -> (submit_ms, stage ids)
    stages: dict = field(default_factory=dict)  # stage id -> SpanStats of its tasks
    # stage id -> {acc id: sum of task updates}
    stage_accums: dict = field(default_factory=lambda: defaultdict(lambda: defaultdict(int)))
    # sql execution id -> {acc id: value} for metrics set at planning
    exec_accums: dict = field(default_factory=lambda: defaultdict(lambda: defaultdict(int)))
    exec_of_job: dict = field(default_factory=dict)  # job id -> sql execution id
    accum_names: dict = field(default_factory=dict)  # acc id -> (node, metric)


def parse(path: str) -> EventLog:
    """Read one uncompressed event-log file."""
    log = EventLog()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                log.jobs[jid] = (ev["Submission Time"], list(ev["Stage IDs"]))
                exec_id = (ev.get("Properties") or {}).get("spark.sql.execution.id")
                if exec_id is not None:
                    log.exec_of_job[jid] = int(exec_id)
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                _add_task(log.stages.setdefault(sid, SpanStats(stages=1)), ev)
                accs = log.stage_accums[sid]
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    update = _number(acc.get("Update"))
                    if update is not None:
                        accs[int(acc["ID"])] += update
            elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                          _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                _walk_plan(ev["sparkPlanInfo"], log.accum_names)
            elif kind == _SQL + "SparkListenerSQLAdaptiveSQLMetricUpdates":
                for m in ev.get("sqlPlanMetrics", []):
                    log.accum_names.setdefault(int(m["accumulatorId"]), ("", m["name"]))
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                accs = log.exec_accums[int(ev["executionId"])]
                for acc_id, value in ev.get("accumUpdates", []):
                    accs[int(acc_id)] += int(value)
    return log


def _number(v) -> int | None:
    """SQL metric updates arrive as numbers or numeric strings; other
    accumulables (lists, text) are not operator metrics."""
    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float)):
        return int(v)
    try:
        return int(float(v))
    except (TypeError, ValueError):
        return None


def _add_task(st: SpanStats, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    info = ev.get("Task Info") or {}
    st.tasks += 1
    st.task_s += m.get("Executor Run Time", 0) / 1e3
    st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    st.gc_s += m.get("JVM GC Time", 0) / 1e3
    st.max_task_s = max(
        st.max_task_s, (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
    )
    sw = m.get("Shuffle Write Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
    st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st.spill_bytes += m.get("Disk Bytes Spilled", 0)
    st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    out = m.get("Output Metrics") or {}
    st.output_bytes += out.get("Bytes Written", 0)
    st.output_records += out.get("Records Written", 0)


def _span_of(spans: list[Span], t_ms: int) -> int | None:
    t = t_ms / 1e3
    return next((i for i, s in enumerate(spans) if s.start <= t <= s.end), None)


def fold(log: EventLog, spans: list[Span]) -> list[SpanStats]:
    """SpanStats for each span, in the order given."""
    result = [SpanStats() for _ in spans]
    exec_span: dict[int, int] = {}
    counted: set[int] = set()  # a stage shared by later jobs runs once
    for jid in sorted(log.jobs):
        submit_ms, stage_ids = log.jobs[jid]
        hit = _span_of(spans, submit_ms)
        if hit is None:
            continue
        if jid in log.exec_of_job:
            exec_span.setdefault(log.exec_of_job[jid], hit)
        st = result[hit]
        st.jobs += 1
        for sid in stage_ids:
            # a stage without tasks was skipped: its output was reused
            if sid in counted or sid not in log.stages:
                continue
            counted.add(sid)
            st.merge(log.stages[sid])
            _add_sql(st, log, log.stage_accums.get(sid, {}))
    # operator metrics set at planning (file counts and sizes of scans) carry
    # no stage; they belong to the span of their execution's first job
    for exec_id, hit in exec_span.items():
        _add_sql(result[hit], log, log.exec_accums.get(exec_id, {}))
    return result


def _add_sql(st: SpanStats, log: EventLog, accs: dict) -> None:
    for acc_id, value in accs.items():
        if acc_id in log.accum_names:
            st.sql[log.accum_names[acc_id]] += value


def find_log(log_dir: str) -> str:
    """The single event-log file a stopped session left in ``log_dir``."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return os.path.join(log_dir, files[0])
