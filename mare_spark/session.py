"""SparkSession factory for the engine.

Local-mode defaults are tuned for the test harness (``local[$SPARK_GRAFT_CPUS]``,
single JVM); the same settings are the right starting point on a real cluster:
AQE handles runtime re-planning (skew joins, partition coalescing), Arrow makes
the Pandas-UDF path batch-transfer instead of per-row pickling, and a UTC
session timezone keeps timestamp semantics aligned with the parquet fixtures
and the DuckDB oracle.

Design notes for 100 TB scale
-----------------------------
* ``spark.sql.shuffle.partitions`` is a *starting* value; with AQE's
  ``coalescePartitions`` enabled Spark shrinks post-shuffle partitions to
  ``advisoryPartitionSizeInBytes`` at runtime, so an over-estimate is cheap.
  On a 1000-executor cluster you would raise the initial value (e.g. 2000+)
  and let AQE coalesce.
* ``maxPartitionBytes`` keeps scan partitions bounded so a 100 TB scan
  fans out instead of producing giant tasks.
* ``spark.python.daemon.module`` is :mod:`mare_spark.pydaemon`. PySpark's
  worker refreshes the import caches at the start of every Python task, and
  on CPython 3.10-3.12 that re-reads the directory of ``pyspark.zip`` once
  per cached zip importer (16 after a UDF task). With 16 zip importers one
  refresh took 167/106/211/37 ms on CPython 3.10/3.11/3.12/3.13 (4-vCPU
  Xeon host; 3.13 defers the re-read to the next lookup). That cost is paid
  once per partition of every UDF, pipe and ``mapPartitions`` stage, so the
  daemon skips zip archives already read and refreshes everything else.
  Sessions not built here pay the cost again.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app_name: str = "mare_spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or return) the engine's SparkSession.

    Parameters mirror what a deployment would tune; everything else is a
    scale-safe default.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # -- planner / runtime adaptivity -------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE re-plan (coalesce/skew-split) the stage that MATERIALIZES
        # a persisted plan. Default false pins cached-plan output
        # partitioning, so every persist in the dedup/similarity operators
        # materialized at the full initial shuffle-partition count — tiny
        # post-shuffle partitions at any scale (measured locally: the
        # ngram-jaccard invocation ran 83 stages x 32 tasks; coalescing cuts
        # the task census ~10x). The cost (a consumer can no longer reuse
        # the cached partitioning for a later co-partitioned join) does not
        # apply here: no operator joins two persisted sets on their cache
        # partitioning.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # -- scan sizing ------------------------------------------------
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # -- python <-> JVM data path ------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # -- determinism for the oracle ----------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet carries TIMESTAMP(NANOS) which the parquet reader
        # rejects; read as long and convert in tables.read_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # -- local-mode ergonomics ---------------------------------------
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # -- per-task python worker start (see module docstring) ----------
        .config("spark.python.daemon.module", "mare_spark.pydaemon")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
