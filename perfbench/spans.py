"""Spans around the benchmark's calls into each layer, and the engine
work Spark's in-process status stores attribute to each span.

A span is (name, start, end, parent, pass id). Each span runs its jobs
under its own Spark job group, so after the pass -- outside the timed
region -- every job, stage and SQL execution maps back to exactly one
span. Spans are kept in memory and written out when the run ends.
Self time is a span's wall time minus its children's.
"""

from __future__ import annotations

import contextlib
import itertools
import re
import time
from dataclasses import asdict, dataclass, field

ENGINE_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "exec_run_ms",
    "exec_cpu_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "gc_ms",
    "py_worker_start_ms",
    "py_worker_run_ms",
    "arrow_bytes_to_py",
    "arrow_bytes_from_py",
    "driver_idle_ms",
)

#: SQL metrics of the Python-worker operators (mapInPandas, mapInArrow,
#: applyInPandas) -> engine field they add to
_PY_METRICS = {
    "time to start Python workers": "py_worker_start_ms",
    "time to initialize Python workers": "py_worker_start_ms",
    "time to run Python workers": "py_worker_run_ms",
    "data sent to Python workers": "arrow_bytes_to_py",
    "data returned from Python workers": "arrow_bytes_from_py",
}
_UNIT = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-6, "ms": 1, "s": 1e3, "m": 6e4, "min": 6e4, "h": 3.6e6,
}
_PLAN_METRIC = re.compile(r"SQLPlanMetric\((.*),(\d+),(\w+)\)$")
_SEP = "\u0001"
#: numbers the tracers of one process, so two tracers on one Spark
#: context never share a job group
_TRACERS = itertools.count()


def parse_metric(text: str) -> float:
    """Spark's rendered SQL metric ('0 ms', '1,000', or 'total (min,
    med, max ...)\\n8.8 KiB (...)') -> total in bytes or milliseconds."""
    last = text.strip().split("\n")[-1]
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]*)", last)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1)


@dataclass
class Span:
    name: str
    sid: int
    parent: int | None
    pass_id: int
    start: float
    end: float = 0.0
    children_s: float = 0.0
    engine: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall_s - self.children_s

    def row(self) -> dict:
        return {**asdict(self), "layer": self.layer, "self_s": self.self_s}


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` is a no-op."""

    def __init__(self, spark, enabled: bool):
        self.spark, self.sc, self.enabled = spark, spark.sparkContext, enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._groups: dict[str, Span] = {}
        self.pass_id = -1
        self._exec_mark = 0
        self._prefix = f"perfbench{next(_TRACERS)}"
        #: time the tracer itself spent inside traced passes
        self.overhead_s = 0.0

    def _set_group(self, span: Span | None) -> None:
        self.sc.setLocalProperty(
            "spark.jobGroup.id", None if span is None else self.group(span)
        )

    def group(self, span: Span) -> str:
        return f"{self._prefix}-{span.pass_id}-{span.sid}"

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(name, len(self.spans), parent.sid if parent else None, self.pass_id, time.time())
        self.spans.append(s)
        self._groups[self.group(s)] = s
        self._stack.append(s)
        self._set_group(s)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            t1 = time.perf_counter()
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                parent.children_s += s.wall_s
            self._set_group(parent)
            self.overhead_s += time.perf_counter() - t1

    def alias(self, group_id: str) -> None:
        """Jobs of ``group_id`` (e.g. a streaming query's run id, which
        Spark sets as the group of its micro-batch jobs) belong to the
        innermost open span."""
        if self.enabled and self._stack:
            self._groups[group_id] = self._stack[-1]

    @contextlib.contextmanager
    def pass_span(self, pass_id: int):
        """The root span of one pass; marks where its SQL executions start."""
        self.pass_id = pass_id
        if self.enabled:
            t0 = time.perf_counter()
            self._exec_mark = self._sql_store().executionsCount()
            self.overhead_s += time.perf_counter() - t0
        with self.span("pass") as root:
            yield root

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def harvest(self, pass_id: int) -> list[str]:
        """Fill ``engine`` on every span of ``pass_id`` from the status
        stores. Returns problems: job ids of the pass that no span owns
        (the store evicted them, or a job ran outside every span)."""
        spans = [s for s in self.spans if s.pass_id == pass_id]
        for s in spans:
            s.engine = dict.fromkeys(ENGINE_FIELDS, 0.0)
        groups = {g: s for g, s in self._groups.items() if s.pass_id == pass_id}
        tracker = self.sc.statusTracker()
        owner: dict[int, Span] = {}
        for g, s in groups.items():
            for jid in tracker.getJobIdsForGroup(g):
                owner[jid] = s
        problems = []
        if owner:
            lo, hi = min(owner), max(owner)
            missing = sorted(set(range(lo, hi + 1)) - set(owner))
            if missing:
                problems.append(f"pass {pass_id}: job ids {missing[:10]} have no span")
        store = self.sc._jsc.sc().statusStore()
        seen_stages: set[int] = set()
        intervals: dict[int, list[tuple[float, float]]] = {s.sid: [] for s in spans}
        for jid in sorted(owner):
            s = owner[jid]
            s.engine["jobs"] += 1
            sids = store.job(jid).stageIds()
            for k in range(sids.size()):
                sid = sids.apply(k)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                st = store.lastStageAttempt(sid)
                if not st.submissionTime().isDefined():
                    continue  # skipped: its output came from an earlier stage
                e = s.engine
                e["stages"] += 1
                e["tasks"] += st.numTasks()
                e["exec_run_ms"] += st.executorRunTime()
                e["exec_cpu_ms"] += st.executorCpuTime() / 1e6
                e["shuffle_read_bytes"] += st.shuffleReadBytes()
                e["shuffle_write_bytes"] += st.shuffleWriteBytes()
                e["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                e["gc_ms"] += st.jvmGcTime()
                t0 = st.submissionTime().get().getTime() / 1e3
                done = st.completionTime()
                t1 = done.get().getTime() / 1e3 if done.isDefined() else s.end
                intervals[s.sid].append((max(t0, s.start), min(t1, s.end)))
        self._harvest_sql(owner)
        for s in spans:
            busy = _union(intervals[s.sid])
            s.engine["driver_idle_ms"] = max(0.0, s.self_s - busy) * 1e3
        return problems

    def _harvest_sql(self, owner: dict[int, Span]) -> None:
        sql = self._sql_store()
        execs = sql.executionsList(self._exec_mark, 1 << 30)
        for i in range(execs.size()):
            ex = execs.apply(i)
            it = ex.jobs().keysIterator()
            span = None
            while it.hasNext() and span is None:
                span = owner.get(it.next())
            if span is None:
                continue
            wanted = {}
            for line in ex.metrics().mkString(_SEP).split(_SEP):
                m = _PLAN_METRIC.match(line)
                if m and m.group(1) in _PY_METRICS:
                    wanted[m.group(2)] = _PY_METRICS[m.group(1)]
            if not wanted:
                continue
            values = sql.executionMetrics(ex.executionId()).mkString(_SEP).split(_SEP)
            done = set()
            for item in values:
                acc, _, text = item.partition(" -> ")
                if acc in wanted and acc not in done:
                    done.add(acc)
                    span.engine[wanted[acc]] += parse_metric(text)

    def pass_rows(self, pass_id: int) -> list[dict]:
        return [s.row() for s in self.spans if s.pass_id == pass_id]


def _union(iv: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(iv):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def layer_totals(rows: list[dict]) -> dict[str, dict]:
    """Per layer: self seconds, call count and summed engine fields."""
    out: dict[str, dict] = {}
    for r in rows:
        t = out.setdefault(
            r["layer"], {"self_s": 0.0, "calls": 0, **dict.fromkeys(ENGINE_FIELDS, 0.0)}
        )
        t["self_s"] += r["self_s"]
        t["calls"] += 1
        for k, v in r["engine"].items():
            t[k] += v
    return out
