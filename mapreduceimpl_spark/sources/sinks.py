"""Sink helpers: the write-side scale posture.

The reference's only sink is R text files, one per reduce task
(``test.go:46-69``).  Here ``write_reduce_files`` is that parity sink —
both ``operators.wordcount.word_count_partitioned_sink`` and
``MapReduceJob.run`` write through it, so both always list R files —
plus the layouts a 100 TB warehouse actually uses:

- ``write_partitioned``: hive-style directory partitioning -> readers
  get partition pruning for free;
- ``write_bucketed``: pre-shuffled, bucket-by-key tables -> repeated
  joins/aggs on the bucket key skip their shuffle entirely;
- ``write_files``: format + target-file-count control (small-file
  hygiene: a 100 TB table written from 10k tasks without coalescing
  is a metadata bomb).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def write_reduce_files(lines: DataFrame, path: str, r: int) -> list[str]:
    """Write ``lines`` (one string column, already in ``r`` partitions)
    as text files ``part-*`` — the reference's
    ``output/reduce-<id>-<cur>`` (``test.go:46-69``) — and return the
    ``r`` file paths, sorted, like ``getResult``
    (``mp/master.go:112-117``).

    The reference always returns R reducer files, but Spark writes no
    file for an empty partition other than the first: the missing ones
    are added, empty, through the Hadoop FS API so any scheme works."""
    lines.write.mode("overwrite").text(path)
    spark = lines.sparkSession
    hadoop_path = spark._jvm.org.apache.hadoop.fs.Path
    out = hadoop_path(path)
    fs = out.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())

    def parts() -> list[str]:
        return sorted(
            status.getPath().toString()
            for status in fs.listStatus(out)
            if status.getPath().getName().startswith("part-")
        )

    names = [p.rsplit("/", 1)[1] for p in parts()]
    written, suffix = {n[:10] for n in names}, names[0][10:]
    for i in range(r):
        if f"part-{i:05d}" not in written:
            fs.create(hadoop_path(out, f"part-{i:05d}{suffix}")).close()
    return parts()


def write_files(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    n_files: int | None = None,
) -> None:
    """Write with an explicit output file count (None = leave the
    partitioning to AQE-coalesced task count)."""
    out = df.coalesce(n_files) if n_files else df
    out.write.format(fmt).mode(mode).save(path)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Hive-style partitioned layout; filters on the partition columns
    prune whole directories at read time."""
    df.write.format(fmt).mode(mode).partitionBy(*partition_cols).save(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 32,
    sort_cols: Sequence[str] | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: co-locates equal keys at write time so a
    later join/agg on the bucket key reads pre-shuffled data (the
    persistent version of the reference's hash-partitioned
    intermediate files, ``test.go:28-40``)."""
    writer = df.write.format(fmt).mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def write_range_sorted(
    df: DataFrame,
    path: str,
    range_cols: Sequence[str],
    n_files: int | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Range-clustered layout: repartitionByRange + sortWithinPartitions
    on the same keys, so each output file covers a narrow, disjoint
    slice of the key space and its parquet row-group min/max statistics
    become selective — a point or range predicate on ``range_cols``
    skips whole files/row groups at scan time (poor-man's zone maps).

    This is the read-optimization complement of ``write_bucketed``:
    bucketing kills the next JOIN's shuffle, range-sorting kills the
    next RANGE SCAN's I/O.  At 100 TB the difference between a
    clustered and an unclustered time-series table is reading one
    day's files vs all of them.

    ``n_files`` sets the number of range slices (None = default
    parallelism); range boundaries come from Spark's reservoir sample
    of the keys, so slices are balanced even for skewed keys.
    """
    cols = [df[c] for c in range_cols]
    out = (
        df.repartitionByRange(n_files, *cols)
        if n_files
        else df.repartitionByRange(*cols)
    )
    out.sortWithinPartitions(*cols).write.format(fmt).mode(mode).save(path)


def zorder_key(
    df: DataFrame,
    cols: Sequence[str],
    bits_per_col: int = 16,
):
    """Morton (Z-order) key column: each column is min/max-scaled to a
    ``bits_per_col``-bit integer grid and the grid coordinates'  bits
    are interleaved, so sorting by the key clusters rows that are
    close in EVERY dimension — the multi-column generalization of
    ``write_range_sorted``'s single-key clustering.

    Returns (key_column, stats_row) where stats_row holds the min/max
    used for scaling (driver-side, one tiny agg job — the same
    boundary-sampling cost ``repartitionByRange`` pays internally).

    Scaling is linear between the observed min and max: ideal for
    roughly uniform keys (ids, timestamps); heavily skewed columns
    get unbalanced grids — rank-based scaling (range_partition_id)
    is the upgrade path, at the cost of a per-column sample pass.
    """
    from pyspark.sql import functions as F

    k = len(cols)
    if k < 2:
        raise ValueError("zorder_key: need >= 2 columns (use write_range_sorted for 1)")
    aggs = []
    for c in cols:
        aggs.append(F.min(F.col(c).cast("double")).alias(f"mn_{c}"))
        aggs.append(F.max(F.col(c).cast("double")).alias(f"mx_{c}"))
    stats = df.agg(*aggs).collect()[0]

    top = (1 << bits_per_col) - 1
    z = F.lit(0).cast("long")
    for ci, c in enumerate(cols):
        mn, mx = float(stats[f"mn_{c}"]), float(stats[f"mx_{c}"])
        span = (mx - mn) or 1.0
        scaled = F.floor(
            (F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * F.lit(float(top))
        ).cast("long")
        # clamp (max value lands exactly on top; guard fp overshoot)
        scaled = F.least(F.greatest(scaled, F.lit(0)), F.lit(top))
        for bit in range(bits_per_col):
            # bit `bit` of column ci -> interleaved position bit*k + (k-1-ci)
            z = z + F.shiftleft(
                F.shiftright(scaled, bit).bitwiseAND(F.lit(1)),
                bit * k + (k - 1 - ci),
            )
    return z, stats


def write_zorder(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    n_files: int | None = None,
    bits_per_col: int = 16,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered layout: range-partition + sort by the Morton
    key of ``cols``, so parquet min/max statistics are selective on
    ALL the z-ordered columns at once — a predicate on any one of
    them skips most files.  ``write_range_sorted`` gives perfect
    skipping on its leading key and none on the others; Z-ordering
    trades a little per-key selectivity for skipping on every key —
    the Delta/Iceberg OPTIMIZE ZORDER layout, built from stock Spark
    primitives (no table format required).

    The Morton key is pure JVM-side integer bit math (shift/and/add
    inside whole-stage codegen) — no UDF; the key column is dropped
    from the written files.
    """
    from pyspark.sql import functions as F  # noqa: F401

    z, _ = zorder_key(df, cols, bits_per_col)
    keyed = df.withColumn("__z", z)
    out = (
        keyed.repartitionByRange(n_files, "__z")
        if n_files
        else keyed.repartitionByRange("__z")
    )
    out.sortWithinPartitions("__z").drop("__z").write.format(fmt).mode(mode).save(path)


def compact_files(
    spark,
    path: str,
    target_files: int,
    fmt: str = "parquet",
) -> int:
    """Small-file compaction: rewrite a directory whose file count has
    fragmented (streaming micro-batches, over-parallel writers) down to
    ``target_files`` — at 100 TB, listing + opening millions of tiny
    files dominates scan time long before the bytes do, and a nightly
    compaction pass is standard table maintenance.

    Read -> coalesce (NARROW: merges partitions without a shuffle;
    the rewrite moves bytes once) -> write to a sibling staging dir ->
    two renames (old aside, staging in, old removed LAST) so a crash
    at any step leaves the data reachable under either the live or the
    __old path — never a window where the dataset exists nowhere.
    Returns the compacted file count.  For partitioned/bucketed
    layouts, compact per partition directory instead so layout
    metadata survives.

    LOCAL-FILESYSTEM ONLY: the atomic-swap step uses os.rename, which
    cannot address hdfs:// or s3a:// paths (the Spark write would
    succeed, then the swap would corrupt the layout).  On object
    stores run the same read->coalesce->write against a staging prefix
    and swap via the store's own rename/commit API.  Note also that
    coalesce yields min(target_files, current partition count) files —
    it can only merge, never split.
    """
    import os
    import shutil
    from urllib.parse import urlparse

    parsed = urlparse(path)
    if parsed.scheme not in ("", "file"):
        raise ValueError(
            f"compact_files only supports local filesystem paths; got scheme "
            f"{parsed.scheme!r} — on {parsed.scheme}:// use a staging-prefix "
            "rewrite with the store's atomic rename/commit instead"
        )
    # a 'file://' URI passes the guard but os.rename/shutil need the
    # bare OS path — strip the scheme so the atomic-swap steps address
    # the same files Spark just wrote (ADVICE r5)
    if parsed.scheme == "file":
        path = parsed.path

    base = path.rstrip("/")
    staging, old = base + "__compacting", base + "__old"
    # crash recovery from a previous interrupted run, so the pass is
    # RE-RUNNABLE: a crash between the two renames leaves the data only
    # under __old (restore it); leftover __old/__compacting dirs from a
    # crash after the swap are stale and must not block the renames
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
    for stale in (staging, old):
        if os.path.exists(stale):
            shutil.rmtree(stale)

    df = spark.read.format(fmt).load(path)
    df.coalesce(target_files).write.format(fmt).mode("overwrite").save(staging)
    os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old)
    return sum(1 for f in os.listdir(path) if f.endswith(f".{fmt}"))
