"""``table_etl`` workload: the storage and pipeline side of the engine.

One pass = the reference pipeline ``etl.run_etl`` over a seeded taxi month,
then one seeded CDC batch against a bloom-indexed, partitioned
``TransactionalTable`` read from files (no Spark cache): append commit,
merge-on-read and copy-on-write merges, SQL UPDATE and DELETE through
``sources.txsql.execute_sql`` and an ``optimize``, with a bloom point read,
a partition-pruned scan, a time-travel read and a SQL SELECT between the
writes; the pass ends with the registered streaming-sink queries
``q_streaming_upsert`` and ``q_streaming_append_tx`` over a fresh seeded
events backlog.
"""

from __future__ import annotations

import os
import statistics
import time
from collections.abc import Iterator

import numpy as np
import pandas as pd

import checks
import gen
from harness import Bench

TAXI_ROWS = 200_000
TABLE_ROWS = 20_000
BATCH_ROWS = 1_000
EVENT_ROWS = 10_000
EVENT_USERS = 150
SETUP_REPS = 3
STREAM_QUERIES = ("q_streaming_upsert", "q_streaming_append_tx")
TABLE_NAME = "cdc"
SELECT_SQL = (
    f"SELECT status, count(*) AS n, sum(amount_cents) AS total FROM {TABLE_NAME} GROUP BY status"
)

CLEAN_SQL = """
WITH t AS (
  SELECT *, (epoch(tpep_dropoff_datetime) - epoch(tpep_pickup_datetime)) / 60.0 AS dur
  FROM read_parquet('{path}')
)
SELECT *, CAST(tpep_pickup_datetime AS DATE) AS pickup_date,
       hour(tpep_pickup_datetime) AS pickup_hour
FROM t
WHERE trip_distance > 0 AND fare_amount > 0 AND total_amount > 0
  AND passenger_count > 0 AND dur BETWEEN 1 AND 180
  AND pickup_longitude > -75 AND pickup_longitude < -72
  AND dropoff_longitude > -75 AND dropoff_longitude < -72
  AND pickup_latitude > 40 AND pickup_latitude < 42
  AND dropoff_latitude > 40 AND dropoff_latitude < 42
  AND trip_distance / (dur / 60.0) BETWEEN 0 AND 120
"""
HOURLY_SQL = """
SELECT CAST(pickup_date AS DATE) AS pickup_date, pickup_hour, total_trips,
       round(avg_trip_distance, 4) AS d, round(avg_total_amount, 4) AS a,
       round(avg_trip_duration_min, 4) AS m
FROM {src}
"""


def instrument(tracer) -> None:
    """Spans around the table, SQL, ETL and writer entry points."""
    from nyc_taxi_etl_pyspark_spark import etl
    from nyc_taxi_etl_pyspark_spark.sources import io, txsql, txtable

    tracer.wrap_methods(
        txtable.TransactionalTable,
        ["commit", "merge", "delete", "delete_where", "update_where", "optimize", "read"],
        "sources.txtable",
    )
    put = txtable.LocalStorage.put_if_absent

    def put_if_absent(self, key, data):
        # a lost put-if-absent is a commit that must retry
        won = put(self, key, data)
        if not won:
            tracer.count("sources.txtable.commit_retries")
        return won

    txtable.LocalStorage.put_if_absent = put_if_absent
    for n in ("execute_sql", "execute_dml"):
        setattr(txsql, n, tracer.wrap(f"sources.txsql.{n}", getattr(txsql, n)))
    for n in ("clean_and_transform", "trips_by_hour"):
        setattr(etl, n, tracer.wrap(f"etl.{n}", getattr(etl, n)))
    writer = tracer.wrap("sources.io.write_parquet_partitioned", io.write_parquet_partitioned)
    io.write_parquet_partitioned = writer
    etl.write_parquet_partitioned = writer


class StreamStats:
    """Micro-batch progress of every streaming query, from Spark's
    StreamingQueryListener."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        stats = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                d = event.progress.durationMs
                stats.batches.append(
                    {k: d.get(k, 0) / 1000.0 for k in ("triggerExecution", "addBatch", "walCommit", "queryPlanning")}
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()
        self.batches: list[dict] = []


def _tree_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def setup(b: Bench, ctx) -> dict:
    from nyc_taxi_etl_pyspark_spark.plans.registry import all_query_specs
    from nyc_taxi_etl_pyspark_spark.sources.txtable import TransactionalTable

    spark = b.spark
    specs = all_query_specs()
    month = f"{ctx.work}/taxi/month.parquet"
    reps = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        raw_bytes = gen.write_taxi_month(ctx.seed, month, TAXI_ROWS)
        base = gen.table_rows(np.random.default_rng([ctx.seed, 6]), np.arange(TABLE_ROWS), 0)
        reps.append(time.perf_counter() - t0)
    t_create = time.perf_counter()
    table = TransactionalTable(f"{ctx.work}/table")
    table.commit(
        spark.createDataFrame(base.to_pandas()), partition_by=["part"], bloom_by=["id"]
    )
    stream = StreamStats()
    if b.trace:
        spark.streams.addListener(stream.listener)
    state = {
        "specs": specs,
        "month": month,
        "raw_bytes": raw_bytes,
        "table": table,
        "replay": base.to_pandas().set_index("id", drop=False),
        "next_id": TABLE_ROWS,
        "setup_reps": reps,
        "stream": stream,
        "written": 0,
        "submitted": 0,
        "files_added": 0,
        "dv_files": 0,
        "curated": f"{ctx.work}/etl/curated",
        "agg": f"{ctx.work}/etl/agg",
        "etl": [],
        "files_ratio": [],
        "warm": True,
    }
    # warm-up pass: its reads and streaming queries are collected and checked
    t_warm = time.perf_counter()
    for _ in run_pass(b, ctx, state, -1, False):
        pass
    print(f"setup: create={t_warm - t_create:.2f}s warm-up={time.perf_counter() - t_warm:.2f}s "
          f"warm-up ops: " + " ".join(f"{o.name}={o.wall:.2f}" for o in b.ops))
    state["warm"] = False
    b.ops.clear()
    state["written"] = state["submitted"] = state["files_added"] = state["dv_files"] = 0
    state["etl"].clear()
    state["files_ratio"].clear()
    stream.batches.clear()
    return state


def _upsert(replay: pd.DataFrame, rows) -> pd.DataFrame:
    new = rows.to_pandas().set_index("id", drop=False)
    return pd.concat([replay.drop(new.index, errors="ignore"), new])


def run_pass(b: Bench, ctx, state: dict, pass_no: int, traced: bool) -> Iterator[None]:
    """One pass; yields after each operation. ``state["replay"]`` is kept
    in step with every write, so a pass may stop between operations."""
    from nyc_taxi_etl_pyspark_spark import etl
    from nyc_taxi_etl_pyspark_spark.sources import txsql

    spark, t = b.spark, state["table"]
    k = pass_no + 1  # the warm-up pass is batch 0
    batch = gen.cdc_batch(
        ctx.seed, k, state["next_id"], state["replay"].index.to_numpy(), BATCH_ROWS
    )
    state["next_id"] = batch["next_id"]
    events_dir = f"{ctx.work}/events/{k}"
    gen.write_events(ctx.seed * 1000 + k, events_dir, EVENT_ROWS, EVENT_USERS)
    tables = {TABLE_NAME: t}
    warm = state["warm"]
    tt_version, tt_expect = t.latest_version(), state["replay"].copy()
    frames = {
        n: spark.createDataFrame(batch[n].to_pandas()) for n in ("append", "merge_mor", "merge_cow")
    }

    def write(name, fn, apply, submitted=None):
        before = _tree_files(t.root)
        ok = b.call_op(name, "write", pass_no, traced, fn, "table.write") is not None
        after = _tree_files(t.root)
        state["written"] += sum(s for p, s in after.items() if before.get(p) != s)
        state["files_added"] += sum(1 for p in after if p not in before and "/data/" in p)
        state["dv_files"] += sum(1 for p in after if p not in before and "/_dvs/" in p)
        if submitted is not None:
            state["submitted"] += submitted.nbytes
        if ok:
            state["replay"] = apply(state["replay"])

    def warm_up(name, fn, check):
        """Warm-up pass: run the frame once, collected, and check its rows
        (a timed pass writes it to the noop sink instead)."""
        b.attempted += 1
        try:
            got = fn().toPandas()
        except Exception as e:  # a failed operation is counted, not fatal
            b.check(f"{name}: {type(e).__name__}: {e}")
            return
        b.check(check(got))

    def read(name, fn, expect, files_ratio=False):
        if warm:
            warm_up(name, fn, lambda got: _compare(name, got, expect(state["replay"])))
            return
        b.df_op(name, "read", pass_no, traced, fn, "read.build")
        if traced and files_ratio:
            state["files_ratio"].append(len(fn().inputFiles()) / max(1, len(t.manifest()["files"])))

    res = b.call_op(
        "run_etl", "etl", pass_no, traced,
        lambda: etl.run_etl(spark, spark.read.parquet(state["month"]), state["curated"], state["agg"]),
        "etl.run_etl",
    )
    if res is not None:
        out = _tree_files(f"{ctx.work}/etl")
        state["etl"].append(
            {"rows_clean": res["rows_clean"], "rows_agg": res["rows_agg"],
             "files": sum(1 for p in out if p.endswith(".parquet")), "bytes": sum(out.values())}
        )
    yield
    write("append", lambda: t.commit(frames["append"], mode="append"),
          lambda rp: _upsert(rp, batch["append"]), batch["append"])
    yield
    write("merge_mor", lambda: t.merge(spark, frames["merge_mor"], ["id"], merge_on_read=True),
          lambda rp: _upsert(rp, batch["merge_mor"]), batch["merge_mor"])
    yield
    key = batch["point_key"]
    read("point_read", lambda: t.read(spark, equals={"id": key}),
         lambda rp: rp[rp["id"] == key], files_ratio=True)
    yield
    write("merge_cow", lambda: t.merge(spark, frames["merge_cow"], ["id"]),
          lambda rp: _upsert(rp, batch["merge_cow"]), batch["merge_cow"])
    yield
    part = batch["scan_part"]
    read("partition_scan", lambda: t.read(spark, partitions={"part": [part]}),
         lambda rp: rp[rp["part"] == part], files_ratio=True)
    yield
    up, um = batch["update_part"], batch["update_mod"]

    def update(rp):
        m = (rp["part"] == up) & (rp["id"] % 17 == um)
        rp = rp.copy()
        rp.loc[m, "status"] = "upd"
        rp.loc[m, "amount_cents"] += 7
        return rp

    write("sql_update", lambda: txsql.execute_sql(spark, (
        f"UPDATE {TABLE_NAME} SET status = 'upd', amount_cents = amount_cents + 7 "
        f"WHERE part = {up} AND id % 17 = {um}"), tables), update)
    yield
    read("time_travel", lambda: t.read(spark, version=tt_version), lambda rp: tt_expect)
    yield
    dp, dm = batch["delete_part"], batch["delete_mod"]
    write("sql_delete", lambda: txsql.execute_sql(
        spark, f"DELETE FROM {TABLE_NAME} WHERE part = {dp} AND id % 29 = {dm}", tables),
        lambda rp: rp[~((rp["part"] == dp) & (rp["id"] % 29 == dm))])
    yield
    read("sql_select", lambda: txsql.execute_sql(spark, SELECT_SQL, tables),
         lambda rp: rp.groupby("status").agg(n=("id", "size"), total=("amount_cents", "sum")).reset_index())
    yield
    write("optimize", lambda: t.optimize(spark), lambda rp: rp)
    yield
    specs = state["specs"]
    for name in STREAM_QUERIES:
        fn = specs[name].fn
        if warm:
            warm_up(name, lambda: fn(spark, events_dir),
                    lambda got: checks.against_oracle(name, got, specs[name].oracle, events_dir, ["events"]))
        else:
            b.df_op(name, "write", pass_no, traced, lambda: fn(spark, events_dir), "plans.build")
        yield


def _compare(name: str, got: pd.DataFrame, expect: pd.DataFrame) -> str | None:
    cols = sorted(expect.columns)
    if sorted(got.columns) != cols:
        return f"{name}: columns {sorted(got.columns)} != {cols}"
    g = got[cols].astype(expect[cols].dtypes.to_dict())
    if checks.digest(g) != checks.digest(expect[cols].reset_index(drop=True)):
        return f"{name}: result differs from the replay"
    return None


def verify(b: Bench, state: dict) -> None:
    """Final table contents against the replay of every batch; the ETL
    outputs against DuckDB over the generated month."""
    got = state["table"].read(b.spark).toPandas()
    b.check(_compare("table contents", got, state["replay"]))
    con_sql = CLEAN_SQL.format(path=state["month"])
    clean = checks.duckdb_frame(".", f"SELECT count(*) AS n FROM ({con_sql})", [])
    want_hourly = checks.duckdb_frame(
        ".",
        HOURLY_SQL.format(src=f"""(SELECT pickup_date, pickup_hour, count(*) AS total_trips,
            avg(trip_distance) AS avg_trip_distance, avg(total_amount) AS avg_total_amount,
            avg(dur) AS avg_trip_duration_min FROM ({con_sql}) GROUP BY 1, 2)"""),
        [],
    )
    agg_dir = state["agg"]
    got_hourly = checks.duckdb_frame(
        ".",
        HOURLY_SQL.format(src=f"read_parquet('{agg_dir}/**/*.parquet', hive_partitioning = true)"),
        [],
    )
    for run in state["etl"] or [None]:
        if run is None:
            b.check("run_etl: no completed run to check")
            continue
        if run["rows_clean"] != int(clean["n"][0]):
            b.check(f"run_etl: rows_clean {run['rows_clean']} != {int(clean['n'][0])}")
        if run["rows_agg"] != len(want_hourly):
            b.check(f"run_etl: rows_agg {run['rows_agg']} != {len(want_hourly)}")
    if checks.digest(got_hourly) != checks.digest(want_hourly):
        b.check("run_etl: hourly aggregate differs from DuckDB")


def report(b: Bench, state: dict) -> dict:
    """Workload-specific end-to-end numbers (tuples with a unit) and the
    storage / pipeline / streaming layer numbers."""
    t = state["table"]
    reads = [o.wall for o in b.untraced(("read",))]
    writes = [o.wall for o in b.untraced(("write",))]
    etl_runs = [o.wall for o in b.untraced(("etl",))]
    live = t.manifest()["files"]
    live_bytes = sum(os.path.getsize(os.path.join(t.root, f)) for f in live)
    tree = _tree_files(t.root)
    log_bytes = sum(s for p, s in tree.items() if "/_commits/" in p or "/_checkpoints/" in p)
    etl_last = state["etl"][-1] if state["etl"] else {"rows_clean": 0, "files": 0, "bytes": 0}
    out = {
        "read_p50_s": (statistics.median(reads), "s"),
        "write_p50_s": (statistics.median(writes), "s"),
        "etl_rows_per_s": (TAXI_ROWS / statistics.median(etl_runs), "rows/s"),
        "write_amp": (state["written"] / max(1, state["submitted"]), "ratio"),
        "space_amp": (sum(tree.values()) / live_bytes, "ratio"),
        "etl.write_amp": (etl_last["bytes"] / state["raw_bytes"], "ratio"),
    }
    if not b.trace:
        return out
    b.probe.drain()  # deliver the last streaming progress events
    tr = b.tracer
    n = max(1, sum(1 for _, traced, _ in b.passes if traced))
    passes = max(1, len(b.passes))
    traced_ops = b.traced_ops()
    spans = tr.spans
    clean = agg = io_s = 0.0
    for i, s in enumerate(spans):
        if s.name != "etl.run_etl":
            continue
        writes = [w for w in spans if w.parent == i and w.name.startswith("sources.io.")]
        io_s += sum(w.dur for w in writes)
        if len(writes) == 2:
            # clean: plan, cache fill and count, up to the curated write;
            # agg: the hourly-aggregate write and its count
            clean += writes[0].start - s.start
            agg += s.end - writes[1].start
    reads = [
        s for s in spans
        if s.name == "sources.txtable.read" and s.parent is not None
        and spans[s.parent].name == "read.build"
    ]
    stream = state["stream"].batches
    table_ops = tr.outermost("sources.txtable.")

    def table_s(op: str) -> float:
        """Inclusive time of the table operations the workload called
        (a merge's own commit counts as merge time)."""
        return sum(s.dur for s in table_ops if s.name == f"sources.txtable.{op}")

    out.update({
        "etl.clean_s": clean / n,
        "etl.agg_s": agg / n,
        "etl.rows_in": float(TAXI_ROWS),
        "etl.kept_ratio": etl_last["rows_clean"] / TAXI_ROWS,
        "sources.io.write_s": io_s / n,
        "sources.io.files_written": float(etl_last["files"]),
        "sources.io.bytes_written": float(etl_last["bytes"]),
        "sources.txtable.commit_s": table_s("commit") / n,
        "sources.txtable.merge_s": table_s("merge") / n,
        "sources.txtable.delete_s": (table_s("delete") + table_s("delete_where")) / n,
        "sources.txtable.update_s": table_s("update_where") / n,
        "sources.txtable.optimize_s": table_s("optimize") / n,
        "sources.txtable.read_plan_s": sum(s.dur for s in reads) / n,
        "sources.txtable.read_exec_s": sum(o.execute for o in traced_ops if o.kind == "read") / n,
        "sources.txtable.files_live": float(len(live)),
        "sources.txtable.files_added": state["files_added"] / passes,
        "sources.txtable.bytes_added": state["written"] / passes,
        "sources.txtable.dv_files": state["dv_files"] / passes,
        "sources.txtable.log_bytes": float(log_bytes),
        "sources.txtable.read_files_ratio": (
            statistics.mean(state["files_ratio"]) if state["files_ratio"] else 0.0
        ),
        "sources.txtable.commit_retries": tr.counts.get("sources.txtable.commit_retries", 0) / n,
        "sources.txsql.s": tr.self_time("sources.txsql.") / n,
        "streaming.batches": len(stream) / passes,
        "streaming.batch_p50_s": (
            statistics.median(s["triggerExecution"] for s in stream) if stream else 0.0
        ),
        "streaming.add_batch_s": sum(s["addBatch"] for s in stream) / max(1, len(stream)),
        "streaming.wal_commit_s": sum(s["walCommit"] for s in stream) / max(1, len(stream)),
        "streaming.planning_s": sum(s["queryPlanning"] for s in stream) / max(1, len(stream)),
    })
    return out
