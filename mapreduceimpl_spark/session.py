"""SparkSession factory tuned for the engine's scale posture.

The reference hand-rolls its runtime (master/worker RPC scheduling,
``mp/master.go:94-110``); on Spark all of that is the engine's job.
What we *do* own is configuration: adaptive execution, sane shuffle
parallelism, Arrow for the (rare) pandas-UDF paths.

Scale posture (100 TB): every knob here is a per-job default that a
real cluster deployment would keep — AQE coalesces the shuffle
partition count at runtime so one setting works from sf0.001 to
100 TB; skew-join handling splits hot keys; broadcast threshold keeps
dimension-table joins shuffle-free.
"""

from __future__ import annotations

import os
import re

from pyspark import SparkConf
from pyspark.sql import SparkSession

# the directory holding the package: Python workers import the engine
# from here (pickled-by-reference UDFs, the daemon module)
_ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _worker_pythonpath() -> str:
    """``spark.executorEnv.PYTHONPATH`` as already configured, with the
    engine's root appended once."""
    configured = SparkConf().get("spark.executorEnv.PYTHONPATH") or ""
    paths = [p for p in configured.split(os.pathsep) if p]
    return os.pathsep.join(paths if _ENGINE_ROOT in paths else [*paths, _ENGINE_ROOT])


def _env_knobs() -> tuple[str, str, str]:
    """The engine's three environment knobs, validated: local core count,
    driver heap and warehouse directory.  A bad value raises a
    ``ValueError`` naming the variable, before any JVM starts."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if cpus != "*" and not (re.fullmatch(r"[0-9]+", cpus) and int(cpus) > 0):
        raise ValueError(f"SPARK_GRAFT_CPUS must be '*' or a positive integer, got {cpus!r}")
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    if not re.fullmatch(r"[0-9]+[kmgt]?", driver_mem, re.IGNORECASE):
        raise ValueError(
            f"SPARK_GRAFT_DRIVER_MEM must be a JVM size such as 8g or 512m, got {driver_mem!r}"
        )
    warehouse = os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/mapreduceimpl-warehouse")
    if not warehouse:
        raise ValueError("SPARK_GRAFT_WAREHOUSE must be a non-empty path")
    return cpus, driver_mem, warehouse


def get_spark(app_name: str = "mapreduceimpl-spark") -> SparkSession:
    """Return (creating if needed) the engine's SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` (local core count, driver contract),
    ``SPARK_GRAFT_DRIVER_MEM`` and ``SPARK_GRAFT_WAREHOUSE``; see
    ``_env_knobs``.  The shuffle, join and scan settings below are
    runtime SQL confs: a deployment tunes them with ``spark.conf.set``.
    """
    cpus, driver_mem, warehouse = _env_knobs()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # --- adaptive execution: re-plan at runtime from real stats ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle: a cluster sets 2-3x its total cores; AQE
        # coalescing merges the excess partitions at runtime ---
        .config("spark.sql.shuffle.partitions", "32")
        # --- broadcast joins for dimension tables (region/nation/...) ---
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- prefer shuffled hash join over sort-merge when its size
        # conditions are met: SHJ skips both sides' sorts, but its build
        # side cannot spill, so a skewed partition still too big after
        # AQE's skew split fails where sort-merge would spill.  Joins
        # that need SHJ carry explicit SHUFFLE_HASH hints. ---
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # --- runtime row-level filtering: inject a bloom filter built
        # from the selective (creation) side of a shuffle join into the
        # big side's scan, pruning rows before the shuffle.  Off by
        # default in Spark; at 100 TB this is the difference between
        # shuffling the whole fact table and shuffling the ~matching
        # slice when the dim side carries a selective predicate ---
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # --- Arrow: vectorized transfer for pandas-UDF escape hatches ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- Python workers: the engine on their import path, and a
        # daemon that skips pyspark's per-task zip re-reads (pyworker) ---
        .config("spark.executorEnv.PYTHONPATH", _worker_pythonpath())
        .config("spark.python.daemon.module", "mapreduceimpl_spark.pyworker")
        # --- parquet scan: keep splits memory-friendly locally; a
        # 100 TB cluster scan raises this to 512m-1g ---
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # --- deterministic session timezone for timestamp semantics ---
        .config("spark.sql.session.timeZone", "UTC")
        # parquet TIMESTAMP(NANOS) (events.ts) is rejected by default;
        # read as long and convert in sources.registry (micro precision,
        # matching DuckDB's ns->us read of the same file)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- reliable-checkpoint hygiene: let the ContextCleaner delete
        # checkpoint FILES once their RDD is GC'd (default false leaves
        # one never-deleted directory per checkpointed level — BPE
        # training with sc.setCheckpointDir would fill storage) ---
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_mem)
        # managed-table warehouse (bucketed tables); static conf, so it
        # must be set here — production deployments point this at the
        # real warehouse path
        .config("spark.sql.warehouse.dir", warehouse)
    )
    return builder.getOrCreate()
