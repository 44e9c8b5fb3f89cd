"""Spans around the benchmark's calls into the program, and the readers that
attribute Spark's own status-store records to them.

Every span is a Spark job group: a job started while the span is the
innermost open one carries the span's id, so stages and SQL executions can
be charged to the layer that started them. Spans stay in memory; the
per-layer numbers are read from the status stores after the passes, with
the UI off:

- ``SparkContext.statusStore`` — jobs (with their group) and the stage
  table: tasks, run/CPU/GC time, input, shuffle and spill bytes;
- ``SharedState.statusStore`` — SQL executions, their physical-plan graph
  and the final value of every operator metric.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; when enabled and attached to a SparkContext, each span
    is also the job group of the jobs started inside it. A disabled tracer
    records nothing and touches no Spark state."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None

    def attach(self, sc) -> None:
        self._sc = sc

    def _set_group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc._jsc.clearJobGroup()
        else:
            self._sc.setJobGroup(span.id, span.name)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(f"perfbench-{len(self.spans)}", name, parent.id if parent else None, 0.0, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)


def descendants(spans: list[Span], root: Span) -> list[Span]:
    """``root`` and every span opened inside it."""
    out, frontier = [root], {root.id}
    for s in spans:  # spans are recorded in opening order
        if s.parent in frontier:
            out.append(s)
            frontier.add(s.id)
    return out


def self_time(spans: list[Span], span: Span) -> float:
    """The span's duration minus the part of it its direct children cover."""
    ivals = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in spans
        if c.parent == span.id
    )
    covered, cur_s, cur_e = 0.0, None, None
    for a, b in ivals:
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.duration - covered


# --------------------------------------------------------------------------
# status-store readers
# --------------------------------------------------------------------------

_NUM = re.compile(r"(-?[\d,]*\.?\d+)\s*(ns|ms|s|m|h|B|KiB|MiB|GiB|TiB)?")
_UNIT = {
    None: 1.0, "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}


def parse_metric(text: str) -> float:
    """Value of a rendered SQL metric in base units (rows, seconds, bytes).
    Multi-task metrics render as ``total (min, med, max ...)\\n<total> (...)``;
    the total is the first number of the last line."""
    line = text.strip().splitlines()[-1]
    m = _NUM.search(line)
    if not m:
        raise ValueError(f"unparseable metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)]


def _ints(scala_iterable) -> list[int]:
    text = scala_iterable.mkString(",")
    return [int(x) for x in text.split(",")] if text else []


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def wait_for_listeners(spark) -> None:
    """Block until the listener bus has delivered every event, so the
    status stores hold the final record of every finished job."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


@dataclass
class StageRow:
    stage_id: int
    tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    input_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


@dataclass
class ExecutionRow:
    execution_id: int
    max_rows_out: int
    py_run_s: float = 0.0
    py_init_s: float = 0.0
    py_sent_bytes: float = 0.0
    py_returned_bytes: float = 0.0


@dataclass
class StatusSnapshot:
    """Jobs by group, stages by job, SQL executions by group."""

    job_group: dict[int, str]
    stages_by_job: dict[int, list[StageRow]]
    executions_by_group: dict[str, list[ExecutionRow]]

    def jobs_in(self, groups: set[str]) -> list[int]:
        return sorted(j for j, g in self.job_group.items() if g in groups)

    def stages_in(self, groups: set[str]) -> list[StageRow]:
        """Stages that ran (not skipped) for jobs of ``groups``, each once."""
        seen, out = set(), []
        for j in self.jobs_in(groups):
            for st in self.stages_by_job.get(j, []):
                if st.stage_id not in seen:
                    seen.add(st.stage_id)
                    out.append(st)
        return out

    def executions_in(self, groups: set[str]) -> list[ExecutionRow]:
        return [e for g in groups for e in self.executions_by_group.get(g, [])]


_PY_METRICS = {
    "time to run Python workers": "py_run_s",
    "time to initialize Python workers": "py_init_s",
    "time to start Python workers": "py_init_s",
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_returned_bytes",
}


def read_status(spark, groups: set[str]) -> StatusSnapshot:
    """Read the jobs, stages and SQL executions of the given job groups."""
    wait_for_listeners(spark)
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()

    job_group: dict[int, str] = {}
    job_stages: dict[int, list[int]] = {}
    for j in _seq(store.jobsList(None)):
        g = j.jobGroup()
        if g.isDefined() and g.get() in groups:
            job_group[j.jobId()] = g.get()
            job_stages[j.jobId()] = _ints(j.stageIds())

    wanted = {s for ids in job_stages.values() for s in ids}
    gw = sc._gateway
    stage_rows: dict[int, StageRow] = {}
    for st in _seq(store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)):
        sid = st.stageId()
        if sid not in wanted or st.status().toString() == "SKIPPED":
            continue
        stage_rows[sid] = StageRow(
            stage_id=sid,
            tasks=st.numTasks(),
            run_s=st.executorRunTime() / 1e3,
            cpu_s=st.executorCpuTime() / 1e9,
            gc_s=st.jvmGcTime() / 1e3,
            input_bytes=st.inputBytes(),
            shuffle_read_bytes=st.shuffleReadBytes(),
            shuffle_write_bytes=st.shuffleWriteBytes(),
            spill_bytes=st.diskBytesSpilled(),
        )
    stages_by_job = {
        j: [stage_rows[s] for s in sorted(ids) if s in stage_rows] for j, ids in job_stages.items()
    }

    sql = spark._jsparkSession.sharedState().statusStore()
    executions: dict[str, list[ExecutionRow]] = {}
    for ex in _seq(sql.executionsList()):
        jobs = [j for j in _ints(ex.jobs().keySet()) if j in job_group]
        if not jobs:
            continue
        eid = ex.executionId()
        values = sql.executionMetrics(eid)
        row = ExecutionRow(execution_id=eid, max_rows_out=0)
        for node in _seq(sql.planGraph(eid).allNodes()):
            for m in _seq(node.metrics()):
                attr = "max_rows_out" if m.name() == "number of output rows" else _PY_METRICS.get(m.name())
                if attr is None:
                    continue
                v = values.get(m.accumulatorId())
                if not v.isDefined():
                    continue
                x = parse_metric(v.get())
                if attr == "max_rows_out":
                    row.max_rows_out = max(row.max_rows_out, int(x))
                else:
                    setattr(row, attr, getattr(row, attr) + x)
        executions.setdefault(job_group[min(jobs)], []).append(row)
    return StatusSnapshot(job_group, stages_by_job, executions)
