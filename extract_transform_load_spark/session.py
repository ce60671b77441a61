"""SparkSession factory with scale-oriented defaults.

The reference service has no engine of its own (SURVEY.md §4) — Postgres
plans its SQL. Here Catalyst is the planner; this factory turns on the
runtime knobs that matter at 100 TB and keeps semantics deterministic:

- AQE (adaptive re-plan, partition coalescing, skew-join splitting)
- UTC session timezone (reference stores TIMESTAMPTZ, entities.md)
- Arrow for any pandas-UDF exchange
- shuffle partitions sized from the local core count for tests; on a
  real cluster override via ``spark.sql.shuffle.partitions`` (AQE
  coalesces down from a deliberately-high initial number).
- a generated-code cache that holds the serving working set
  (:data:`CODEGEN_CACHE_ENTRIES`).

Generated-code cache: Spark compiles each distinct whole-stage and
expression class with Janino and keeps at most
``spark.sql.codegen.cache.maxEntries`` of them (default 100). One sweep
over the 56 API endpoints compiles about 295 distinct classes and one
pass of the six benchmark analytics queries another 310-330, about 630
together (counted with ``CodegenMetrics.METRIC_COMPILATION_TIME`` in a
session whose cache never evicts). At 100 entries every sweep evicts
and recompiles nearly all of them (290-320 compiles per sweep); at 1000
a repeated sweep compiles only the 25 or so classes whose code inlines
a per-request literal, such as a now-anchored ``?period=`` window.
This is a static conf: it takes effect only in sessions built here.
``tune_for_session`` cannot set it on a session the driver hands in.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: ``spark.sql.codegen.cache.maxEntries``: the ~630 classes of a serve
#: sweep plus an analytics pass, with headroom (see module docstring).
CODEGEN_CACHE_ENTRIES = 1000


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def default_driver_memory() -> str:
    """Local-mode heap: the single JVM hosts the driver AND every
    executor thread, so size it from the machine — a quarter of physical
    RAM, clamped to [4g, 24g] (8g starved a wide shingle self-join on a
    128 GiB box; a fixed 24g would invite the OOM killer on a laptop).
    ``SPARK_GRAFT_DRIVER_MEM`` overrides."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return "8g"
    return f"{max(4, min(24, int(ram * 0.25 / 2**30)))}g"


def get_spark(
    app_name: str = "extract-transform-load-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or max(2 * cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", default_driver_memory())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_for_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable defaults to an externally-provided session.

    The driver hands us its own SparkSession for ``queries()``; static
    configs (memory, master) are fixed by then, but SQL confs are not.
    UTC matters for timestamp parity with the DuckDB oracle. The
    generated-code cache size is static too, so such a session keeps
    the size it was built with (Spark's default: 100 entries).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    for k, v in (
        ("spark.sql.adaptive.enabled", "true"),
        # required to read the testdata events.parquet (TIMESTAMP NANOS)
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - static conf on some builds
            pass
    return spark
