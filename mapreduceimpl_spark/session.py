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

from pyspark import SparkConf
from pyspark.sql import SparkSession

# Shuffle parallelism default for local test runs. On a real cluster this
# is overridden (2-3x total cores); AQE coalescing makes the exact value
# non-critical because post-shuffle partitions are merged to target size.
_DEFAULT_LOCAL_SHUFFLE_PARTITIONS = "32"

# the directory holding the package: Python workers import the engine
# from here (pickled-by-reference UDFs, the daemon module)
_ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _worker_pythonpath() -> str:
    """``spark.executorEnv.PYTHONPATH`` as already configured, with the
    engine's root appended once."""
    configured = SparkConf().get("spark.executorEnv.PYTHONPATH") or ""
    paths = [p for p in configured.split(os.pathsep) if p]
    return os.pathsep.join(paths if _ENGINE_ROOT in paths else [*paths, _ENGINE_ROOT])


def get_spark(app_name: str = "mapreduceimpl-spark") -> SparkSession:
    """Return (creating if needed) the engine's SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local core count (driver contract).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # --- adaptive execution: re-plan at runtime from real stats ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle --- (env-tunable for cluster deployments: set
        # 2-3x total cores; AQE coalescing merges the excess at runtime)
        .config(
            "spark.sql.shuffle.partitions",
            os.environ.get(
                "SPARK_GRAFT_SHUFFLE_PARTITIONS", _DEFAULT_LOCAL_SHUFFLE_PARTITIONS
            ),
        )
        # --- broadcast joins for dimension tables (region/nation/...) ---
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- prefer shuffled hash join over sort-merge when its size
        # conditions are met (optimization guide §3.1/§9): SHJ skips
        # both sides' sorts; AQE skew-split covers SHJ the same as SMJ.
        # Measured r11 (order-balanced A/B at sf0.1): NEUTRAL locally —
        # at fixture sizes AQE re-plans every shuffle join to broadcast
        # anyway (pagerank executed plan: 19 BHJ, 0 SMJ), so the flag
        # only decides strategy where a side exceeds the broadcast
        # threshold but a partition fits a hash map — exactly the
        # 100 TB case.  Join strategy never changes results; full
        # oracle gate re-run green under the flag.
        # Round 12 (ADVICE r11): env-tunable.  The SHJ trade-off is
        # that its build-side HashedRelation cannot spill — a skewed
        # partition that still exceeds memory after AQE skew-split
        # OOMs where sort-merge would have spilled gracefully.  The
        # local default stays "false" (prefer SHJ; joins that were
        # measured to need SHJ for exchange reuse, e.g.
        # minhash_lsh_pairs, additionally carry explicit SHUFFLE_HASH
        # hints so they do not depend on this session default); a
        # memory-tight cluster deployment sets
        # SPARK_GRAFT_PREFER_SORTMERGE=true to get the spill-safe
        # strategy everywhere except those hinted joins. ---
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SORTMERGE", "false"),
        )
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
        # --- parquet scan: keep splits memory-friendly locally; on a
        # 100 TB cluster scan raise to 512m-1g (guide §6) to cut task
        # count and the M factor of every downstream shuffle (env knob
        # so the local bench stays comparable) ---
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get(
                "SPARK_GRAFT_MAX_PARTITION_BYTES", str(128 * 1024 * 1024)
            ),
        )
        # --- deterministic session timezone for timestamp semantics ---
        .config("spark.sql.session.timeZone", "UTC")
        # parquet TIMESTAMP(NANOS) (events.ts) is rejected by default;
        # read as long and convert in sources.registry (micro precision,
        # matching DuckDB's ns->us read of the same file)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- reliable-checkpoint hygiene: let the ContextCleaner delete
        # checkpoint FILES once their RDD is GC'd (default false leaves
        # one never-deleted directory per checkpointed level — the deep
        # BPE tier with sc.setCheckpointDir would fill storage) ---
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # managed-table warehouse (bucketed tables); static conf, so it
        # must be set here — production deployments point this at the
        # real warehouse path
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/mapreduceimpl-warehouse"),
        )
    )
    return builder.getOrCreate()
