"""Layered benchmark of the engine.

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process, one ``local[nproc]`` Spark
session, one client running the workload in a closed loop (the next
operation starts when the previous one has finished). The run sets up
(session, inputs generated from ``--seed``, fixture load, a warm-up pass
whose outputs are checked), then runs operations pass after pass for at
least ``--seconds`` and at least one whole pass, checks the outputs, and
prints every metric with its unit. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` --
the bounded end-to-end metrics (``GATED``) with ``--trace 0``, every
per-layer metric with ``--trace 1``. A traced run alternates untraced and
traced passes, takes the layer numbers from the traced ones, and writes
its spans to ``.perfbench_out/<workload>-<seed>-spans.json`` at the end.
Exit status: 0 when every operation and check passed, 1 otherwise, 2 when
the program is not in the working directory.
"""

from __future__ import annotations

import argparse
import dataclasses
import importlib
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass

from harness import (
    CALIBRATION_REF_S,
    Bench,
    calibrate,
    process_start,
    stop_session,
    tree_peak_rss_mb,
)
from spans import Tracer

ROOT = os.getcwd()
PKG = "nyc_taxi_etl_pyspark_spark"

WORKLOADS = ("corpus", "table_etl")
# the end-to-end metrics BENCHMARK.json bounds; the others are printed
# every run and reported as per-layer metrics by traced runs
GATED = ("setup_s", "wall_s", "peak_rss_mb")
OPERATOR_MODULES = ("dedup", "similarity", "graph", "bpe", "joins", "merge", "multimodal")


@dataclass
class Ctx:
    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str
    cores: int


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: str, cores: int) -> None:
    """Keep every file Spark, the JVM and the program write under
    ``work``, size the driver for a shared host, and let the Python
    workers import the program from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.pop("SPARK_MASTER", None)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    # every JVM the launch starts (spark-submit's launcher, the driver)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.streaming.checkpointLocation={work}/stream-ckpt "
        "pyspark-shell"
    )


def instrument(tracer, workload: str) -> None:
    """Wrap the program's public entry points in spans (trace runs only)."""
    from pyspark.sql import DataFrame

    for m in OPERATOR_MODULES:
        importlib.import_module(f"{PKG}.operators.{m}")
    importlib.import_module(f"{PKG}.plans.registry").all_query_specs()
    for m in OPERATOR_MODULES:
        tracer.wrap_module_functions(f"{PKG}.operators.{m}", f"operators.{m}")
    # DataFrame is pyspark.sql.classic.dataframe.DataFrame at run time
    import pyspark.sql.classic.dataframe  # noqa: F401  (defines the subclass)

    for cls in {DataFrame, *DataFrame.__subclasses__()}:
        for meth in ("checkpoint", "localCheckpoint"):
            if meth in vars(cls):
                setattr(cls, meth, tracer.counted("plans.checkpoints", getattr(cls, meth)))
    if workload == "table_etl":
        importlib.import_module("table_etl").instrument(tracer)


def operator_layers(tracer, n: int) -> dict:
    out = {}
    for m in OPERATOR_MODULES:
        spans = tracer.outermost(f"operators.{m}.")
        out[f"operators.{m}.calls"] = len(spans) / n
        out[f"operators.{m}.s"] = sum(s.dur for s in spans) / n
    return out


def timed_loop(b, ctx, state, run_pass, calibration: list[float]) -> float:
    """Run passes, one operation at a time, until ``ctx.seconds`` have
    elapsed. The first pass always completes (with tracing on, the first
    two: one untraced, one traced; later passes alternate too); after that
    the loop stops at the first operation boundary past the deadline. The
    host is calibrated after every operation, outside the pass's time.
    Returns the wall-clock time the first timed operation started."""
    first = time.time()
    t0 = time.perf_counter()
    need = 2 if ctx.trace else 1
    p = 0
    while True:
        traced = ctx.trace and p % 2 == 1
        wall = 0.0
        ts = time.perf_counter()
        for _ in run_pass(b, ctx, state, p, traced):
            wall += time.perf_counter() - ts
            calibration.append(calibrate(b.spark))
            if p >= need and time.perf_counter() - t0 >= ctx.seconds:
                return first
            ts = time.perf_counter()
        b.passes.append((p, traced, wall + time.perf_counter() - ts))
        p += 1
        if p >= need and time.perf_counter() - t0 >= ctx.seconds:
            return first


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"error: run from the root of a checkout that holds {PKG}/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    ctx = Ctx(args.workload, args.seed, args.seconds, bool(args.trace), work, cores)
    configure_env(work, cores)

    calibration: list[float] = []
    workload = importlib.import_module(args.workload)
    t_proc = process_start()
    spark = None
    try:
        t = time.perf_counter()
        from nyc_taxi_etl_pyspark_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t
        calibration.extend(calibrate(spark) for _ in range(3))
        tracer = Tracer()
        if ctx.trace:
            instrument(tracer, args.workload)
        b = Bench(spark, tracer, ctx.trace, cores)
        state = workload.setup(b, ctx)
        calibration.append(calibrate(spark))
        setup_calibration_s = sum(calibration)
        first_op = timed_loop(b, ctx, state, workload.run_pass, calibration)
        reps = state["setup_reps"]
        setup_s = first_op - t_proc - setup_calibration_s - sum(reps) + statistics.median(reps)
        t_verify = time.perf_counter()
        workload.verify(b, state)
        verify_s = time.perf_counter() - t_verify
        rss = tree_peak_rss_mb(os.getpid())
        extra = workload.report(b, state) if hasattr(workload, "report") else {}
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        stop_s = time.perf_counter() - t_stop

    untraced = [w for _, tr, w in b.passes if not tr]
    traced = [w for _, tr, w in b.passes if tr]
    n_traced = max(1, len(traced))
    failed = len(b.failures)
    attempted = b.attempted
    print(f"workload={ctx.workload} seed={ctx.seed} cores={cores} loop=closed clients=1 "
          f"passes={len(untraced)} untraced + {len(traced)} traced, ops={b.attempted}")
    print("pass walls: " + " ".join(f"{w:.3f}{'T' if tr else ''}" for _, tr, w in b.passes))
    print(f"setup: session={session_s:.2f}s repeated={' '.join(f'{r:.2f}' for r in reps)}s; "
          f"after timing: checks={verify_s:.2f}s stop={stop_s:.2f}s")
    print("calibration kernel: " + " ".join(f"{c:.4f}" for c in calibration) + " s")
    for o in b.ops:
        print(f"op pass={o.pass_no}{'T' if o.traced else ''} {o.name} {o.wall:.4f}s")
    for name, s in sorted(b.type_medians().items()):
        print(f"query {name} median_s={s:.4f}")
    for msg in b.failures:
        print(f"FAILED {msg}")

    e2e = b.e2e(setup_s, rss, CALIBRATION_REF_S / statistics.median(calibration))
    e2e_extra = {k: v for k, v in extra.items() if isinstance(v, tuple)}
    e2e_extra["failed_ratio"] = (failed / attempted, "ratio")
    for k, (v, unit) in {**e2e, **e2e_extra}.items():
        print(f"{k} = {v:.6g} {unit}")

    if ctx.trace:
        layers = {"session.start_s": session_s}
        layers.update({k: 0.0 for k in ALL_LAYERS})
        layers.update(state.get("layers", {}))
        layers.update(b.spark_layers(n_traced))
        layers.update(operator_layers(tracer, n_traced))
        layers.update(build_layers(b, tracer, n_traced))
        layers.update({k: v for k, v in extra.items() if not isinstance(v, tuple)})
        layers.update({k: v for k, (v, _) in e2e_extra.items()})
        layers.update({k: v for k, (v, _) in e2e.items() if k not in GATED})
        errs = b.layer_sum_errors()
        layers["trace.layer_sum_max_err"] = max((e for _, e, _ in errs), default=0.0)
        layers["trace.overhead"] = (
            statistics.median(traced) / statistics.median(untraced) - 1 if traced and untraced else 0.0
        )
        for name, err, ok in errs:
            if not ok:
                failed += 1
                print(f"FAILED layer-sum check: {name}: layers leave {err:.1%} of its wall unaccounted")
        tracer.dump(
            os.path.join(out_dir, f"{ctx.workload}-{ctx.seed}-spans.json"),
            [dataclasses.asdict(o) for o in b.ops if o.traced],
        )
        for k in sorted(layers):
            print(f"layer {k} = {layers[k]:.6g}")
        metrics = {k: {"value": float(v), "unit": LAYER_UNITS.get(k, unit_of(k))} for k, v in layers.items()}
    else:
        metrics = {k: {"value": float(e2e[k][0]), "unit": e2e[k][1]} for k in GATED}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


def build_layers(b, tracer, n: int) -> dict:
    """Build-side (driver) layer of the registered query calls."""
    q = [o for o in b.traced_ops() if o.name.startswith("q_")]
    build = sum(o.build for o in q)
    wall = sum(o.wall for o in q)
    return {
        "plans.build_s": tracer.self_time("plans.build") / n,
        "plans.build_jobs": sum(o.spark["build_jobs"] for o in q) / n,
        "plans.checkpoints": tracer.counts.get("plans.checkpoints", 0) / n,
        "plans.build_share": build / wall if wall else 0.0,
        "plans.op_wall_s": wall / n,
    }


def unit_of(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if "bytes" in name:
        return "B"
    if name.endswith(("_share", "_ratio", "utilization", "overhead", "_err", "_amp")):
        return "ratio"
    return "count"


LAYER_UNITS = {"etl_rows_per_s": "rows/s", "host.speed": "ratio"}

# every per-layer metric, reported as 0 where the workload does not reach
# the layer
ALL_LAYERS = (
    "sources.tables.cold_load_s", "sources.tables.input_bytes",
    "etl.clean_s", "etl.agg_s", "etl.rows_in", "etl.kept_ratio", "etl.write_amp",
    "sources.io.write_s", "sources.io.files_written", "sources.io.bytes_written",
    "sources.txtable.commit_s", "sources.txtable.merge_s", "sources.txtable.delete_s",
    "sources.txtable.update_s", "sources.txtable.optimize_s", "sources.txtable.read_plan_s",
    "sources.txtable.read_exec_s", "sources.txtable.files_live", "sources.txtable.files_added",
    "sources.txtable.bytes_added", "sources.txtable.dv_files", "sources.txtable.log_bytes",
    "sources.txtable.read_files_ratio", "sources.txtable.commit_retries", "sources.txsql.s",
    "streaming.batches", "streaming.batch_p50_s", "streaming.add_batch_s",
    "streaming.wal_commit_s", "streaming.planning_s",
    "read_p50_s", "write_p50_s", "etl_rows_per_s", "write_amp", "space_amp",
)


if __name__ == "__main__":
    sys.exit(main())
