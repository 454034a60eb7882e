"""In-memory tracing from outside the program.

``Tracer`` records spans (name, start, end, parent, operation id) around
calls into the program's public functions. It wraps those functions in
place (module attributes, the names other modules imported, and class
methods); the program's files are not changed. Spans are kept in a list
and written out once, when the run ends.

``SparkProbe`` reads what Spark itself measured for one phase of one
operation: jobs, stages and task metrics from the status store (by job
group), and the SQL executions with their Python/Arrow evaluation node
metrics.
"""

from __future__ import annotations

import functools
import inspect
import json
import re
import sys
import time
from dataclasses import dataclass, field

PKG = "nyc_taxi_etl_pyspark_spark"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    op: int | None = None
    _stack: list[int] = field(default_factory=list)
    counts: dict[str, int] = field(default_factory=dict)

    def begin(self, name: str) -> int | None:
        if not self.enabled:
            return None
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def end(self, idx: int | None) -> None:
        if idx is None:
            return
        self.spans[idx].end = time.perf_counter()
        # pop through idx: a span whose callee raised is closed here too
        while self._stack and self._stack.pop() != idx:
            pass

    def span(self, name: str):
        return _SpanCtx(self, name)

    def count(self, name: str) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0) + 1

    def wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = tracer.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(idx)

        return traced

    def counted(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def counting(*args, **kwargs):
            tracer.count(name)
            return fn(*args, **kwargs)

        return counting

    # --- instrumentation --------------------------------------------------

    def wrap_module_functions(self, modname: str, layer: str) -> None:
        """Wrap every public function defined in ``modname`` and rebind
        every reference to it in the program's loaded modules (a name
        imported with ``from ... import`` is a reference of its own)."""
        wrapped = {
            id(f): (f, self.wrap(f"{layer}.{n}", f))
            for n, f in vars(sys.modules[modname]).items()
            if inspect.isfunction(f) and f.__module__ == modname and not n.startswith("_")
        }
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(PKG):
                continue
            for n, v in list(vars(mod).items()):
                original, traced = wrapped.get(id(v), (None, None))
                if original is v:
                    setattr(mod, n, traced)

    def wrap_methods(self, cls, names: list[str], layer: str) -> None:
        for n in names:
            setattr(cls, n, self.wrap(f"{layer}.{n}", getattr(cls, n)))

    def self_time(self, prefix: str) -> float:
        """Total self time of spans named ``prefix*``: each span's duration
        minus the part of it covered by its direct children."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        return sum(
            s.dur - child[i] for i, s in enumerate(self.spans) if s.name.startswith(prefix)
        )

    def outermost(self, prefix: str) -> list[Span]:
        """Spans named ``prefix*`` with no ancestor of the same prefix."""
        out = []
        for s in self.spans:
            if not s.name.startswith(prefix):
                continue
            p = s.parent
            while p is not None and not self.spans[p].name.startswith(prefix):
                p = self.spans[p].parent
            if p is None:
                out.append(s)
        return out

    def dump(self, path: str, ops: list) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "ops": ops,
                    "spans": [
                        {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent, "op": s.op}
                        for s in self.spans
                    ],
                    "counts": self.counts,
                },
                f,
            )


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name, self.idx = tracer, name, None

    def __enter__(self):
        self.idx = self.tracer.begin(self.name)
        return self

    def __exit__(self, *exc):
        self.tracer.end(self.idx)
        return False


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_metric(text: str, kind: str) -> float:
    """Value of a formatted SQL metric: ``sum`` metrics read ``1,234``;
    ``size`` metrics read ``12.3 KiB``, after a ``total (min, med, max)``
    header line when more than one task reported."""
    if not text:
        return 0.0
    if kind == "sum":
        return float(text.replace(",", ""))
    if kind == "size":
        # one task: "12.3 KiB"; several: a header line, then the total
        m = re.match(r"([\d.]+) (B|KiB|MiB|GiB|TiB)", text.strip().split("\n")[-1])
        return float(m.group(1)) * _SIZE[m.group(2)] if m else 0.0
    return 0.0


PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")

STAGE_FIELDS = (
    ("executor_run_s", "executorRunTime", 1e-3),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
    ("input_bytes", "inputBytes", 1),
)


class SparkProbe:
    """Reads Spark's own measurements after an operation phase."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def _j(self, scala_coll):
        return self.jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_coll)

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def sql_count(self) -> int:
        return int(self.sql.executionsCount())

    def jobs(self, group: str) -> dict:
        """Job, stage and task totals for ``group``; call after drain()."""
        out = {"jobs": 0, "stages": 0, "tasks": 0, "wall_s": 0.0}
        out.update({k: 0.0 for k, _, _ in STAGE_FIELDS})
        ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        out["jobs"] = len(ids)
        stages: set[int] = set()
        t0, t1 = None, None
        for j in ids:
            jd = self.store.job(j)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                a = jd.submissionTime().get().getTime()
                b = jd.completionTime().get().getTime()
                t0 = a if t0 is None else min(t0, a)
                t1 = b if t1 is None else max(t1, b)
            stages.update(int(s) for s in self._j(jd.stageIds()))
        for s in stages:
            sd = self.store.lastStageAttempt(s)
            if sd.status().toString() != "COMPLETE":
                continue  # skipped stages reuse shuffle output: no tasks ran
            out["stages"] += 1
            out["tasks"] += int(sd.numTasks())
            for key, getter, scale in STAGE_FIELDS:
                out[key] += getattr(sd, getter)() * scale
        if t0 is not None:
            out["wall_s"] = (t1 - t0) / 1000.0
        return out

    def sql_since(self, first: int) -> dict:
        """Wall of the SQL executions with id >= ``first`` (union of their
        intervals) and the rows/bytes their Python/Arrow nodes processed."""
        out = {"exec_s": 0.0, "python_rows": 0.0, "python_bytes": 0.0}
        n = self.sql_count() - first
        if n <= 0:
            return out
        t0, t1 = None, None
        for e in self._j(self.sql.executionsList(first, n)):
            if e.completionTime().isDefined():
                a, b = e.submissionTime(), e.completionTime().get().getTime()
                t0 = a if t0 is None else min(t0, a)
                t1 = b if t1 is None else max(t1, b)
            values = self._j(self.sql.executionMetrics(e.executionId()))
            for node in self._j(self.sql.planGraph(e.executionId()).allNodes()):
                if not PYTHON_NODE.search(node.name()):
                    continue
                for m in self._j(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if m.name() == "number of output rows":
                        out["python_rows"] += parse_metric(v, "sum")
                    elif m.name() == "data sent to Python workers":
                        out["python_bytes"] += parse_metric(v, "size")
        if t0 is not None:
            out["exec_s"] = (t1 - t0) / 1000.0
        return out

    @staticmethod
    def force_plan(df):
        """Run Catalyst optimization and physical planning of ``df``."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        return qe

    def plan_phases(self, qe) -> dict:
        """Phase times Spark's QueryPlanningTracker recorded for ``qe``."""
        phases = self._j(qe.tracker().phases())
        return {k: phases[k].durationMs() / 1000.0 for k in phases}
