"""Spark session construction and per-session runtime configuration.

Generalizes the reference's ``src/utils/spark_builder.py:4-18`` (a bare
``SparkSession.builder.master(...).getOrCreate()``) with the scale-first
defaults the reference leaves unset: AQE, skew-join handling, sized shuffle
partitions, UTC session timezone (required for DuckDB-oracle parity), and
Arrow for any pandas interchange.

It also sizes Spark's compiled-class cache
(``spark.sql.codegen.cache.maxEntries``, default 100) to the engine's
measured working set, so a session that re-runs queries reuses the classes it
generated instead of recompiling them with Janino. One pass of the 14 corpus
queries at sf0.001 compiles about 330 classes, so at 100 entries every warm
pass recompiled about 320 of them. That conf is static: on a session the
engine did not build, ``ensure_session_conf`` can only read it, and it logs
one ``spark_graft`` record per application when the value is below the
engine's.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

_log = logging.getLogger("spark_graft")

CODEGEN_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"
# Measured at sf0.001: one pass over all 259 registered queries compiles
# about 2,550 distinct generated classes, and a second pass compiles 133-139
# more (code that differs from call to call). An entry averages about 7.6 KB
# of source plus 2.4 loaded classes of about 2.8 KB bytecode each, so a full
# cache holds about 60 MB.
CODEGEN_CACHE_ENTRIES = 4096

# Runtime-settable confs we also force onto externally-provided sessions
# (the correctness driver passes us its own SparkSession; session timezone
# and AQE are runtime-mutable, so we can still guarantee them there).
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Parquet TIMESTAMP(NANOS) columns (e.g. events.ts) otherwise fail the
    # scan with PARQUET_TYPE_ILLEGAL; read them as long and convert — see
    # sources/tables.py.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Write timestamps as TIMESTAMP_MICROS, not the legacy INT96 default:
    # INT96 columns carry NO min/max statistics, which silently disables
    # row-group/file skipping AND the transactional tables'
    # manifest-level pruning (txtable.collect_file_stats) for every
    # timestamp column — at 100 TB, time-range scans are the common case.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}

_CONFIGURED_APPS: set[str] = set()


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def ensure_session_conf(spark: SparkSession) -> SparkSession:
    """Idempotently apply runtime-settable engine confs to ``spark``.

    Called at every query entry point so oracle-checked semantics (UTC
    timestamps in particular) hold even on sessions we did not build.
    A codegen cache smaller than the engine's cannot be resized there; it
    is logged once per application on the ``spark_graft`` logger.
    """
    app_id = spark.sparkContext.applicationId
    if app_id in _CONFIGURED_APPS:
        return spark
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - static conf on odd builds
            pass
    try:
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        if n > 4 * default_parallelism():
            # the stock 200 over-parallelizes local mode; AQE coalesces
            # anyway, but a sane initial number avoids tiny-task overhead.
            spark.conf.set("spark.sql.shuffle.partitions", str(default_parallelism()))
    except Exception:  # pragma: no cover
        pass
    # A static conf: a running session cannot take it, so the engine runs
    # with the session's value and says so once per application.
    found = int(spark.conf.get(CODEGEN_CACHE_CONF))
    if found < CODEGEN_CACHE_ENTRIES:
        _log.warning(
            "static conf %s is %d, engine wants %d",
            CODEGEN_CACHE_CONF,
            found,
            CODEGEN_CACHE_ENTRIES,
            extra={
                "conf": CODEGEN_CACHE_CONF,
                "found": found,
                "wanted": CODEGEN_CACHE_ENTRIES,
            },
        )
    _CONFIGURED_APPS.add(app_id)
    return spark


def get_spark(
    app_name: str = "nyc_taxi_etl_pyspark_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    On a real cluster the caller passes ``master`` / lets spark-submit set
    it; locally we default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = default_parallelism()
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config(CODEGEN_CACHE_CONF, str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # bucketed-table tests use saveAsTable; keep the metastore warehouse
        # out of the repo tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/spark_graft_warehouse"),
        )
    )
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_session_conf(spark)
    return spark
