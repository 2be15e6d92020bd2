"""Drop-in job API mirroring the reference's driver surface.

The reference's user program (``main.go:10-55``) is:

  master = NewMaster(M, R, addr);  master.AddTasks(files)
  workers: NewNode(...).WithMapperFunc(TestMap) / .WithReduceFunc(TestReduce)
  master.StartSchedule()  ->  list of R output files

``MapReduceJob`` keeps that mental model — input file registration
with dedup (``mp/master.go:205-226``), a mapper UDF, a reducer UDF,
R-way partitioned text output (``test.go:46-69``) — while everything
the reference hand-rolls (scheduling, shuffle files, barriers, retries,
worker registry: ``mp/master.go`` entirely) is Spark's runtime.

The M knob (mapper count) intentionally does not exist: input-split
planning replaces file-granularity map tasks, so a 100 TB input gets
thousands of splits instead of one task per file.  R survives as the
output partition count.

UDF contracts (Arrow-vectorized versions of ``mp/worker.go:14-17``):

  mapper(iter of pandas.DataFrame['value']) -> iter of DataFrame['key','value']
  reducer(pandas.DataFrame['key','value'])  -> DataFrame (one full group)

The reduce side is one sorted pass, not ``applyInPandas``: the mapper's
output is hash-shuffled on ``key`` into R partitions, sorted by key
within each, and one ``mapInPandas`` walks the sorted Arrow batches,
calling the reducer once per complete group (a group cut by a batch
edge is carried into the next batch).  Each reduce task is one Arrow
stream rather than one frame per key, and the result is already laid
out as the R output files: partition i holds the groups whose key
hashes to i, in ascending key order, like the reference's reduce task
i (``test.go:46-69``).

Defaults reproduce the word-count job (``test.go:13-81``).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduceimpl_spark.operators.udf_surface import map_partitions
from mapreduceimpl_spark.sources.sinks import write_reduce_files


def _default_mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """TestMap parity (``test.go:13-42``): line -> (line, partial count),
    pre-aggregated per batch (the map-side combine of ``test.go:22-25``)."""
    for pdf in batches:
        counts = pdf["value"].value_counts()
        yield pd.DataFrame({"key": counts.index.astype(str), "value": counts.to_numpy()})


def _default_reducer(pdf: pd.DataFrame) -> pd.DataFrame:
    """TestReduce parity (``test.go:44-71``): merge all partial counts
    of one key."""
    return pd.DataFrame({"key": [pdf["key"].iloc[0]], "value": [int(pdf["value"].sum())]})


def _reduce_sorted(
    reducer: Callable[[pd.DataFrame], pd.DataFrame],
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """``mapInPandas`` body over key-sorted batches: ``reducer`` is
    called once per complete group, with a fresh 0-based index as
    ``applyInPandas`` would give it.  The group still open at the end
    of a batch is carried into the next batch.  Empty reducer outputs
    are dropped before each batch's concat so they cannot change
    dtypes."""

    def whole(parts: list[pd.DataFrame]) -> pd.DataFrame:
        return pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0].reset_index(drop=True)

    def emit(out: list[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        out = [f for f in out if len(f)]
        if out:
            yield pd.concat(out, ignore_index=True)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        open_group: list[pd.DataFrame] = []
        for pdf in batches:
            if pdf.empty:
                continue
            keys, out = pdf["key"], []
            if open_group and not _same_key(open_group[-1]["key"].iat[-1], keys.iat[0]):
                out.append(reducer(whole(open_group)))
                open_group = []
            # sorted, so each key's rows are contiguous: a group starts
            # wherever the factorized code changes (nulls are one group)
            codes = pd.factorize(keys, use_na_sentinel=False)[0]
            starts = [0, *(np.flatnonzero(np.diff(codes)) + 1)]
            for s, e in zip(starts, starts[1:]):
                out.append(reducer(whole([*open_group, pdf.iloc[s:e]])))
                open_group = []
            open_group.append(pdf.iloc[starts[-1]:])
            yield from emit(out)
        if open_group:
            yield from emit([reducer(whole(open_group))])

    return run


def _same_key(a: object, b: object) -> bool:
    return bool(pd.isna(a) and pd.isna(b)) or a == b


class MapReduceJob:
    """Fluent job builder with the reference's API shape."""

    def __init__(self, spark: SparkSession, r: int = 2) -> None:
        self._spark = spark
        self._r = r
        self._paths: list[str] = []
        self._seen: set[str] = set()
        self._mapper: Callable = _default_mapper
        self._reducer: Callable = _default_reducer
        self._intermediate_schema = "key string, value long"

    def add_tasks(self, paths: list[str]) -> MapReduceJob:
        """Register input files, deduplicated (``mp/master.go:212-215``)."""
        for p in paths:
            if p not in self._seen:
                self._seen.add(p)
                self._paths.append(p)
        return self

    def with_mapper(
        self, fn: Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]],
        intermediate_schema: str = "key string, value long",
    ) -> MapReduceJob:
        """``WithMapperFunc`` parity (``mp/worker.go:162-165``)."""
        self._mapper = fn
        self._intermediate_schema = intermediate_schema
        return self

    def with_reducer(self, fn: Callable[[pd.DataFrame], pd.DataFrame]) -> MapReduceJob:
        """``WithReduceFunc`` parity (``mp/worker.go:167-170``)."""
        self._reducer = fn
        return self

    def dataframe(self) -> DataFrame:
        """The job as a (lazy) DataFrame: scan -> mapper -> hash shuffle
        on key into R partitions -> sort by key -> reducer.  The
        repartition is the reference's FNV-mod-R shuffle
        (``test.go:77-81``); the reducer sees one complete key group
        like ``TestReduce``."""
        if not self._paths:
            raise ValueError("no input tasks registered; call add_tasks()")
        lines = self._spark.read.text(self._paths)
        mapped = map_partitions(lines, self._mapper, self._intermediate_schema)
        shuffled = mapped.repartition(self._r, "key").sortWithinPartitions("key")
        return shuffled.mapInPandas(_reduce_sorted(self._reducer), schema=self._intermediate_schema)

    def run(self, output_dir: str) -> list[str]:
        """Execute and write R text files ``part-*`` (the reference's
        ``output/reduce-<id>-<cur>``, ``test.go:46-69``); returns the
        output file paths like ``getResult`` (``mp/master.go:112-117``)."""
        # dataframe() is already R hash partitions, key-sorted: no reshuffle
        result = self.dataframe()
        cols = [F.col(c).cast("string") for c in result.columns]
        return write_reduce_files(
            result.select(F.concat_ws(" ", *cols).alias("value")), output_dir, self._r
        )
