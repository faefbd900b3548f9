"""SparkSession factory for the zdb-spark engine.

The reference engine (clickingbuttons/zdb) forks worker processes and runs
each query single-threaded over mmap'd column files
(/root/reference/src/main.rs:16-49).  Our execution substrate is Spark:
one long-lived SparkSession whose executors own the parallelism, with
Arrow enabled so the pandas-UDF escape hatch (the analogue of zdb's
embedded-Julia query path, /root/reference/src/server/query.rs:147-232)
moves columns zero-copy-ish as Arrow batches.

Config choices are scale-first (see SURVEY.md §4):
- AQE on: runtime coalescing + skew-join handling stand in for hand tuning
  at 100 TB; local tests exercise the same plans.
- shuffle.partitions kept moderate for local runs; on a real cluster AQE
  coalesces from a high initial number, so we set the initial high and let
  AQE shrink.
- Arrow on for every pandas-UDF interchange.
- UTC session timezone: zdb timestamps are epoch nanos with no timezone
  (/root/reference/src/schema.rs:28-29); UTC keeps date_trunc/window
  arithmetic deterministic across environments.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "stop"]

_DEFAULTS = {
    # --- correctness-critical ---
    "spark.sql.session.timeZone": "UTC",
    # Parquet INT64 TIMESTAMP(NANOS) columns (e.g. the testdata events
    # table) are read as LongType epoch-nanos — which IS our canonical
    # timestamp model (SURVEY.md §1.2); without this Spark refuses the file
    # with PARQUET_TYPE_ILLEGAL.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.pyspark.fallback.enabled": "true",
    # --- scale-first planning ---
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # AQE post-shuffle coalescing: `false` targets the advisory
    # partition SIZE (the Spark docs' recommended production setting —
    # at cluster scale the advisory size keeps reducers in the
    # 100MB-1GB band) while the Spark default `true` stops coalescing
    # at default parallelism.  PRODUCTION: set
    # SPARK_GRAFT_AQE_PARALLELISM_FIRST=false.  The LOCAL default stays
    # `true` because at local/sf0.1 scale size-first coalescing
    # squeezes the 1M-row write bench's pre-write repartition into 1-2
    # ~64MB tasks, HALVING the fixed batch-write micro-workload the
    # environment canary is banded on (measured 323k vs 592k rows/s
    # same-window r18) — the canary/ingest metric must stay comparable
    # with the band pinned in r12 — while the query-side effect here is
    # noise (three r18 heavy-cohort A/Bs 0.92/0.999/0.954, a fourth
    # 1.002; see OPTIMIZATION_r18.md §config).
    "spark.sql.adaptive.coalescePartitions.parallelismFirst":
        os.environ.get("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "true"),
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Initial shuffle parallelism; AQE coalesces down for small inputs and
    # this scales up naturally with executor count on a real cluster.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    # Parquet: vectorized reader + aggregate/filter pushdown into the scan.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.parquet.enableVectorizedReader": "true",
    # Keep split sizes reasonable so a 100 TB scan yields sane task counts.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # List table directories on the driver, never in a Spark job.  Tables
    # live on a local POSIX filesystem (their commits rely on os.replace
    # and O_EXCL), where listing a directory costs microseconds.  Spark's
    # default of 32 paths suits object stores; here it only turns any
    # scan wider than 32 day partitions into a listing job of about one
    # task per directory before the query itself runs.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "1000000",
    # Arrow batch size for mapInPandas / pandas UDFs (zdb's per-partition
    # column-slice analogue).
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # Streaming checkpoint-log retention (r19, guide §5): every
    # micro-batch pays offsets/commits WAL bookkeeping whose cost grows
    # with the retained window; the Spark default (100) keeps 100
    # batches of recovery metadata nobody restarts into.  2 retains the
    # last committed batch plus one — enough for exactly-once restart
    # from the latest state, measured 0.89-0.92 on the streaming gates
    # in two interleaved config A/Bs.  Raise via SPARK_GRAFT_STREAM_RETAIN
    # where a deployment wants deeper checkpoint-log history (e.g.
    # debugging a replay); recovery semantics of the LATEST state are
    # unchanged either way (txn/idempotence tests pin them).
    "spark.sql.streaming.minBatchesToRetain":
        os.environ.get("SPARK_GRAFT_STREAM_RETAIN", "2"),
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(app_name: str = "zdb-spark", master: str | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster leave it unset and submit with your cluster master.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
