"""Shared run machinery: process and session lifetime, timed operations,
and the end-to-end and Spark-side layer numbers every workload reports."""

from __future__ import annotations

import math
import os
import signal
import statistics
import subprocess
import time
from dataclasses import dataclass, field

from spans import SparkProbe, Tracer

# build + plan + execute must be within 5% of an operation's wall time, or
# within 10 ms for operations under 200 ms: Spark times its planning phases
# in whole milliseconds, and one young-generation GC pause takes ~10 ms
LAYER_SUM_TOLERANCE = 0.05
LAYER_SUM_FLOOR_S = 0.010


# Host speed calibration. The shared host's speed drifts 2-3x over minutes
# (every operation, the JVM start and DuckDB alike), which no amount of work
# inside one run averages out. Spark work here mixes parallel compute with
# hand-offs between threads and processes (driver-to-JVM calls, task
# launches, wake-ups), and contention slows the two by different factors:
# on a shared 4-vCPU KVM guest, across a switch from an idle to a contended
# host, compute kernels (a parallel sort, a Python loop, a random gather)
# slowed 1.6-1.75x, driver-to-JVM calls about 3x and both workloads about
# 2x. The calibration kernel therefore times one of each in the session's
# JVM and takes their geometric mean: over 19 runs of each workload across
# that switch, pass time over that mean (with the parallel sort) spread 5%
# between quartiles; over either kernel alone 15-32%, raw 80-100%. The
# compute part sums CALIBRATION_N seeded random longs in a parallel stream
# (every core, through the common fork-join pool). Unlike the sort, it
# allocates almost nothing, so it leaves the JVM heap, and with it
# peak_rss_mb, alone. The hand-off part makes CALIBRATION_CALLS trivial
# driver-to-JVM calls. It is plain JDK and py4j code and starts no Spark
# job: no program change reaches it except a change to the session's JVM
# options. It runs three times after the session starts, once after set-up
# and once after every timed operation; the set-up runs are left out of
# setup_s. The bounded time metrics are reported in seconds of a reference
# host on which the kernel takes CALIBRATION_REF_S (about its time on the
# idle guest): raw seconds times CALIBRATION_REF_S over the run's median
# kernel time. Raw seconds are printed and reported by traced runs too.
CALIBRATION_REF_S = 0.055
CALIBRATION_N = 200_000_000
CALIBRATION_CALLS = 100


def calibrate(spark) -> float:
    """One run of the calibration kernel: the geometric mean of its compute
    and its call-latency timings, in seconds."""
    jvm = spark.sparkContext._jvm
    t = time.perf_counter()
    jvm.java.util.SplittableRandom(7).longs(CALIBRATION_N).parallel().sum()
    compute = time.perf_counter() - t
    t = time.perf_counter()
    for _ in range(CALIBRATION_CALLS):
        jvm.java.lang.System.nanoTime()  # the name lookups are calls too
    calls = time.perf_counter() - t
    return math.sqrt(compute * calls)


def process_start() -> float:
    """Wall-clock time this process started (from /proc), in seconds."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_peak_rss_mb(root_pid: int) -> float:
    """Sum of per-process peak RSS (VmHWM) over ``root_pid`` and all its
    descendants: the driver Python, the JVM and the Python workers."""
    total_kb = 0
    for pid in process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next(
                    (int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0
                )
        except OSError:
            continue
    return total_kb / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop the Spark session, then the JVM it runs in, and wait until
    every process the session started (the JVM, the Python worker daemon
    and its workers) has exited."""
    from pyspark import SparkContext

    started = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in started:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while any(_alive(p) for p in started):
        time.sleep(0.1)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    v = sorted(values)
    k = max(0, min(len(v) - 1, int(-(-q * len(v) // 100)) - 1))
    return v[k]


@dataclass
class Op:
    name: str
    kind: str  # query | read | write | etl
    pass_no: int
    traced: bool
    wall: float
    build: float = 0.0
    plan: float = 0.0
    execute: float = 0.0
    spark: dict = field(default_factory=dict)


@dataclass
class Bench:
    spark: object
    tracer: Tracer
    trace: bool
    cores: int
    ops: list[Op] = field(default_factory=list)
    passes: list[tuple[int, bool, float]] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)
    attempted: int = 0
    probe: SparkProbe | None = None
    _next_op: int = 0

    def __post_init__(self):
        if self.trace:
            self.probe = SparkProbe(self.spark)

    # --- operations -------------------------------------------------------

    def _begin(self, traced: bool) -> tuple[int, int]:
        self.attempted += 1
        self._next_op += 1
        op_id = self._next_op
        sql0 = 0
        if traced:
            self.tracer.op = op_id
            self.tracer.enabled = True
            sql0 = self.probe.sql_count()
            self.probe.set_group(f"pb{op_id}b")
        return op_id, sql0

    def _spark_totals(self, op_id: int, sql0: int, sql_exec0: int | None) -> dict:
        p = self.probe
        p.clear_group()
        p.drain()
        build = p.jobs(f"pb{op_id}b")
        execute = p.jobs(f"pb{op_id}e")
        whole = p.sql_since(sql0)
        out = {"build_jobs": build["jobs"],
               "python_rows": whole["python_rows"], "python_bytes": whole["python_bytes"]}
        if sql_exec0 is not None:
            out["exec_sql_s"] = p.sql_since(sql_exec0)["exec_s"]
        # build-side jobs still cost executor time: fold them into totals
        out["all"] = {k: build[k] + execute[k] for k in execute}
        return out

    def df_op(self, name: str, kind: str, pass_no: int, traced: bool, build_fn, layer: str) -> Op | None:
        """Build a DataFrame with ``build_fn`` and time it to a noop-sink
        write, which materializes every column. Traced, the three layers
        run as separate spans: build (the call that returns the frame),
        plan (Catalyst planning of the frame, forced before the write) and
        execute (the write); the tracer's own bookkeeping between them is
        left out of the operation's wall time."""
        op_id, sql0 = self._begin(traced)
        try:
            t0 = time.perf_counter()
            with self.tracer.span(layer):
                df = build_fn()
            t1 = time.perf_counter()
            phases, sql_exec0, t2 = {}, None, t1
            if traced:
                with self.tracer.span("spark.plan"):
                    qe = self.probe.force_plan(df)
                t2 = time.perf_counter()
                phases = self.probe.plan_phases(qe)
                sql_exec0 = self.probe.sql_count()
                self.probe.set_group(f"pb{op_id}e")
            t2b = time.perf_counter()
            with self.tracer.span("spark.execute"):
                df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
        except Exception as e:  # a failed operation is counted, not fatal
            self._fail(traced, f"{name}: {type(e).__name__}: {e}")
            return None
        op = Op(name, kind, pass_no, traced, (t2 - t0) + (t3 - t2b), build=t1 - t0)
        if traced:
            sp = self._spark_totals(op_id, sql0, sql_exec0)
            # plan as Spark's tracker timed it; what the plan call spent
            # outside the tracked phases shows up as the layer-sum gap
            op.plan = phases.get("optimization", 0.0) + phases.get("planning", 0.0)
            op.execute = t3 - t2b
            sp["plan_call_s"] = t2 - t1
            sp["phases"] = phases
            op.spark = sp
            self.tracer.enabled = False
        self.ops.append(op)
        return op

    def call_op(self, name: str, kind: str, pass_no: int, traced: bool, fn, layer: str):
        """Time a call that does its own work (a table write, run_etl):
        the whole call is driver-side build work."""
        op_id, sql0 = self._begin(traced)
        try:
            t0 = time.perf_counter()
            with self.tracer.span(layer):
                result = fn()
            t1 = time.perf_counter()
        except Exception as e:
            self._fail(traced, f"{name}: {type(e).__name__}: {e}")
            return None
        op = Op(name, kind, pass_no, traced, t1 - t0, build=t1 - t0)
        if traced:
            op.spark = self._spark_totals(op_id, sql0, None)
            self.tracer.enabled = False
        self.ops.append(op)
        return result

    def _fail(self, traced: bool, msg: str) -> None:
        self.failures.append(msg)
        if traced:
            self.probe.clear_group()
            self.tracer.enabled = False

    def check(self, problem: str | None) -> None:
        """Record the result of an output check."""
        if problem:
            self.failures.append(problem)

    # --- reporting --------------------------------------------------------

    def untraced(self, kinds: tuple[str, ...] | None = None) -> list[Op]:
        return [o for o in self.ops if not o.traced and (kinds is None or o.kind in kinds)]

    def type_medians(self) -> dict[str, float]:
        """Median untraced latency of each operation type."""
        by: dict[str, list[float]] = {}
        for o in self.untraced():
            by.setdefault(o.name, []).append(o.wall)
        return {k: statistics.median(v) for k, v in by.items()}

    def pass_wall(self) -> float:
        """Wall time of a median pass: the sum, over the pass's operation
        types, of each type's median latency in this run."""
        return sum(self.type_medians().values())

    def e2e(self, setup_s: float, rss_mb: float, speed: float) -> dict:
        """End-to-end metrics; ``setup_s`` and ``wall_s`` in reference-host
        seconds: raw seconds times the run's calibrated host ``speed`` (see
        CALIBRATION_REF_S)."""
        lat = [o.wall for o in self.untraced()]
        wall = self.pass_wall()
        return {
            "setup_s": (setup_s * speed, "s"),
            "wall_s": (wall * speed, "s"),
            "peak_rss_mb": (rss_mb, "MB"),
            "setup_raw_s": (setup_s, "s"),
            "wall_raw_s": (wall, "s"),
            "host.speed": (speed, "ratio"),
            "op_p50_s": (statistics.median(lat), "s"),
            "op_p90_s": (percentile(lat, 90), "s"),
        }

    def layer_sum_errors(self) -> list[tuple[str, float, bool]]:
        """For each traced operation: the share of its wall time that build
        (span), plan (Spark's tracker) and execute (span) leave unaccounted,
        and whether that gap is within tolerance."""
        out = []
        for o in self.traced_ops():
            gap = abs(o.wall - (o.build + o.plan + o.execute))
            ok = gap <= max(LAYER_SUM_TOLERANCE * o.wall, LAYER_SUM_FLOOR_S)
            out.append((o.name, gap / o.wall, ok))
        return out

    def traced_ops(self) -> list[Op]:
        """Operations of the completed traced passes."""
        done = {p for p, traced, _ in self.passes if traced}
        return [o for o in self.ops if o.traced and o.pass_no in done]

    def spark_layers(self, traced_passes: int) -> dict:
        """Per-pass Spark execution totals over traced operations."""
        ops = self.traced_ops()
        tot: dict[str, float] = {}
        for o in ops:
            for k, v in o.spark["all"].items():
                tot[k] = tot.get(k, 0.0) + v
        n = max(1, traced_passes)
        stages = tot.get("stages", 0.0)
        busy_wall = tot.get("wall_s", 0.0)
        ph: dict[str, float] = {}
        for o in ops:
            for k, v in o.spark.get("phases", {}).items():
                ph[k] = ph.get(k, 0.0) + v
        return {
            # the plan layer's wall, then Spark's own phase times inside it
            # (analysis already ran while the frame was built)
            "spark.plan.s": sum(o.spark.get("plan_call_s", 0.0) for o in ops) / n,
            "spark.plan.analysis_s": ph.get("analysis", 0.0) / n,
            "spark.plan.optimization_s": ph.get("optimization", 0.0) / n,
            "spark.plan.planning_s": ph.get("planning", 0.0) / n,
            "spark.execute.s": sum(o.execute for o in ops) / n,
            # the same writes as Spark's SQL status store timed them
            "spark.execute.sql_s": sum(o.spark.get("exec_sql_s", 0.0) for o in ops) / n,
            "spark.execute.jobs": tot.get("jobs", 0.0) / n,
            "spark.execute.stages": stages / n,
            "spark.execute.tasks": tot.get("tasks", 0.0) / n,
            "spark.execute.tasks_per_stage": tot.get("tasks", 0.0) / stages if stages else 0.0,
            "spark.execute.executor_run_s": tot.get("executor_run_s", 0.0) / n,
            "spark.execute.executor_cpu_s": tot.get("executor_cpu_s", 0.0) / n,
            "spark.execute.gc_s": tot.get("gc_s", 0.0) / n,
            "spark.execute.shuffle_read_bytes": tot.get("shuffle_read_bytes", 0.0) / n,
            "spark.execute.shuffle_write_bytes": tot.get("shuffle_write_bytes", 0.0) / n,
            "spark.execute.spill_bytes": tot.get("spill_bytes", 0.0) / n,
            "spark.execute.input_bytes": tot.get("input_bytes", 0.0) / n,
            # executor run time over (job wall x cores): the share of the
            # local cores busy while this pass's jobs were running
            "spark.execute.job_wall_s": busy_wall / n,
            "spark.execute.utilization": (
                tot.get("executor_run_s", 0.0) / (busy_wall * self.cores) if busy_wall else 0.0
            ),
            "functions.python_rows": sum(o.spark["python_rows"] for o in ops) / n,
            "functions.python_bytes": sum(o.spark["python_bytes"] for o in ops) / n,
        }
